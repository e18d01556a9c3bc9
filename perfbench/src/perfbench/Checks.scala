package perfbench

import org.apache.spark.sql.Row

/** The rules that decide whether an op's output is correct. Each returns
  * the violations it found; an empty list is a pass. They take plain
  * values, so SelfTest can feed them deliberately wrong outputs.
  */
object Checks {

  /** BulkUpdate.outcome's four counters. */
  final case class Census(updated: Long, skippedReadOnly: Long, hidden: Long,
                          total: Long)

  def bulkUpdate(mode: String, k: Int, got: Census, recount: Census,
                 committed: Long, expectedRows: Long, checksum: Long,
                 expectedChecksum: Long, tagged: Long, misplaced: Long): Seq[String] = {
    val out = Seq.newBuilder[String]
    if (got != recount) out += s"census $got differs from the recount $recount"
    if (recount.total != expectedRows)
      out += s"row count ${recount.total} differs from $expectedRows"
    if (committed != expectedRows)
      out += s"merge reported $committed rows, expected $expectedRows"
    if (checksum != expectedChecksum)
      out += "checksum over the non-target columns changed"
    if (misplaced != 0) out += s"$misplaced rows outside the visible writable set changed"
    mode match {
      case "broadcastUpdate" =>
        if (tagged != recount.updated)
          out += s"broadcast wrote $tagged rows, census says ${recount.updated}"
      case _ =>
        // zip: the first min(k, visible) visible rows get one of the k
        // values unless read-only (blank input lines carry no value)
        val reach = math.min(k.toLong, recount.updated + recount.skippedReadOnly)
        if (tagged > reach || tagged < reach - recount.skippedReadOnly || tagged > recount.updated)
          out += s"zip wrote $tagged rows; expected between " +
            s"${reach - recount.skippedReadOnly} and ${math.min(reach, recount.updated)}"
    }
    out.result()
  }

  /** Top-k shape: every expected query has ranks 1..k (exactly k rows
    * when `exact`, at most k otherwise) and no other query appears.
    */
  def topK(ranksByQuery: Map[Long, Seq[Long]], queries: Set[Long], k: Int,
           exact: Boolean): Seq[String] = {
    val extra = (ranksByQuery.keySet -- queries).toSeq.sorted
      .map(q => s"unexpected query $q in the result")
    extra ++ queries.toSeq.sorted.flatMap { q =>
      val rs = ranksByQuery.getOrElse(q, Nil).sorted
      if (exact && rs.size != k) Some(s"query $q has ${rs.size} rows, expected $k")
      else if (rs.size > k) Some(s"query $q has ${rs.size} rows, more than $k")
      else if (rs != (1L to rs.size.toLong)) Some(s"query $q ranks are $rs")
      else None
    }
  }

  /** Recall@k of one IVFADC probe against the brute-force truth: a probe
    * whose recall falls below `floor` fails, so speed cannot be bought
    * with quality.
    */
  def recall(hits: Long, slots: Long, floor: Double): Seq[String] =
    if (slots > 0 && hits.toDouble / slots < floor)
      Seq(f"recall@k ${hits.toDouble / slots}%.3f ($hits of $slots) is below the floor $floor%.3f")
    else Nil

  /** Near-dup verdicts of a probe batch: one row per distinct batch doc,
    * exact copies flagged as duplicates of their source, fresh docs not
    * flagged. Near copies are not judged: LSH may miss them.
    */
  def nearDupVerdicts(batch: Seq[Long], verdicts: Map[Long, (Boolean, Long)],
                      pool: Map[Long, (Long, Boolean)]): Seq[String] = {
    val ids = batch.distinct
    val missing = ids.filterNot(verdicts.contains).map(d => s"no verdict for doc $d")
    val extra = (verdicts.keySet -- ids).toSeq.map(d => s"verdict for non-batch doc $d")
    missing ++ extra ++ ids.filter(verdicts.contains).flatMap { d =>
      val (isDup, dupOf) = verdicts(d)
      pool.get(d) match {
        case Some((src, true)) if src >= 0 && !(isDup && dupOf == src) =>
          Some(s"exact copy $d of $src not flagged (is_dup=$isDup, dup_of=$dupOf)")
        case Some((-1L, _)) if isDup => Some(s"fresh doc $d flagged as a duplicate")
        case _ => None
      }
    }
  }

  /** Row-for-row equality, order included. */
  def sameRows(a: Seq[Row], b: Seq[Row]): Boolean =
    a.size == b.size && a.zip(b).forall { case (x, y) => x == y }

  /** One admission cycle: planted copies rejected, every admitted vector
    * found by its own query, every admitted doc found by its phrase,
    * deleted ids absent from every result.
    */
  def ingest(verdicts: Map[Long, Boolean], planted: Set[Long], vecQueries: Seq[Long],
             vecHits: Seq[(Long, Long)], phraseDocs: Seq[Long],
             phraseHits: Seq[(Long, Long)], deletedDocs: Set[Long],
             deletedVecs: Set[Long]): Seq[String] = {
    val out = Seq.newBuilder[String]
    planted.filter(d => verdicts.getOrElse(d, true)).foreach(d =>
      out += s"planted duplicate $d was admitted")
    val byQuery = vecHits.groupBy(_._1).map { case (q, hs) => q -> hs.map(_._2).toSet }
    vecQueries.zipWithIndex.foreach { case (v, q) =>
      if (!deletedVecs(v) && !byQuery.getOrElse(q.toLong, Set.empty).contains(v))
        out += s"admitted vector $v not found by its own probe"
    }
    val found = phraseHits.toSet
    phraseDocs.zipWithIndex.foreach { case (d, j) =>
      val hit = found((j.toLong, d))
      if (deletedDocs(d) && hit) out += s"deleted doc $d came back"
      if (!deletedDocs(d) && !hit) out += s"admitted doc $d not found by its phrase"
    }
    vecHits.map(_._2).filter(deletedVecs).distinct.foreach(v =>
      out += s"deleted vector $v came back")
    phraseHits.map(_._2).filter(deletedDocs).distinct.foreach(d =>
      out += s"deleted doc $d came back")
    out.result().distinct
  }

  /** Jaccard similarity of two texts' 3-token shingle sets. */
  def jaccard(a: String, b: String, w: Int = 3): Double = {
    def sh(t: String): Set[String] = t.split(" ").sliding(w).map(_.mkString(" ")).toSet
    val (x, y) = (sh(a), sh(b))
    if (x.isEmpty && y.isEmpty) 1.0 else (x & y).size.toDouble / (x | y).size
  }

  /** Near copies this similar to their source must cluster with it. */
  val clusterJaccard = 0.6

  /** One curated shard: every stage's row count reconciles with the
    * shard, planted exact copies are removed by clustering and paired by
    * MinHash, near copies far above the threshold share their source's
    * cluster, the vector_dot kernel agrees with a builtin fold, and
    * planted vector copies are pruned by SemDeDup.
    */
  def curate(shardDocs: Set[Long], shardVecs: Set[Long],
             plantedDocs: Map[Long, (Long, Boolean)], plantedVecs: Map[Long, Long],
             texts: Map[Long, String], langRows: Seq[Long], gateTotal: Long,
             piiRows: Long, sigRows: Long, pairs: Seq[(Long, Long)],
             clusters: Map[Long, Long], dotRows: Long, dotKernel: Double,
             dotBuiltin: Double, semKept: Map[Long, Boolean]): Seq[String] = {
    val out = Seq.newBuilder[String]
    val n = shardDocs.size.toLong
    if (langRows.toSet != shardDocs || langRows.size != n)
      out += s"languageId returned ${langRows.size} rows for $n docs"
    if (gateTotal != n) out += s"gopherGate counted $gateTotal of $n docs"
    if (piiRows != n) out += s"piiMask returned $piiRows rows for $n docs"
    if (sigRows != n) out += s"minhash_sig produced $sigRows signatures for $n docs"
    if (!clusters.keySet.subsetOf(shardDocs)) out += "clusters name docs outside the shard"
    val pairSet = pairs.toSet
    def canon(d: Long): Long = clusters.getOrElse(d, d)
    plantedDocs.foreach { case (copy, (src, exact)) =>
      if (shardDocs(copy)) {
        if (exact) {
          if (canon(copy) == copy) out += s"exact copy $copy of $src survived clustering"
          if (!pairSet((math.min(src, copy), math.max(src, copy))))
            out += s"MinHash missed the exact copy pair ($src, $copy)"
        } else if (jaccard(texts(src), texts(copy)) >= clusterJaccard &&
            canon(copy) != canon(src))
          out += s"near copy $copy does not cluster with its source $src"
      }
    }
    val survivors = shardDocs.count(d => canon(d) == d)
    if (survivors + clusters.count { case (d, c) => c != d } != n)
      out += "survivors and removed docs do not add up to the shard"
    if (dotRows != shardVecs.size) out += s"vector_dot saw $dotRows of ${shardVecs.size} vectors"
    if (math.abs(dotKernel - dotBuiltin) > 1e-6 * math.max(1.0, math.abs(dotBuiltin)))
      out += s"vector_dot sum $dotKernel differs from the builtin fold $dotBuiltin"
    if (semKept.keySet != shardVecs) out += s"semDedup returned ${semKept.size} of ${shardVecs.size} vectors"
    plantedVecs.foreach { case (copy, src) =>
      if (shardVecs(copy) && semKept.getOrElse(copy, true))
        out += s"planted vector copy $copy of $src was kept"
    }
    out.result()
  }
}
