package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ops.{Dedup, Similarity, Text}
import graft.sources.Snapshot

/** Read-only probing of standing IVFADC, BM25 and near-dup layouts. */
final class IndexServeWorkload extends Workload {
  import IndexServeWorkload._

  val name = "index_serve"
  val cycle: Int = mix.size
  val itemUnit = "probes"

  private var docs: DataFrame = _
  private var embs: DataFrame = _
  private var probePool: DataFrame = _
  private var ivfpq, bm25, dedup = ""
  private var texts: Map[Long, String] = Map.empty
  private var labels: Map[Long, Int] = Map.empty
  private var poolSrc: Map[Long, (Long, Boolean)] = Map.empty
  private var truth: Map[Long, Seq[Long]] = Map.empty
  private var hits, slots = 0L
  private var recallMin = 1.0

  def generate(spark: SparkSession, seed: Long, dir: String): Unit = {
    val d = Inputs.documents(spark, seed, Inputs.nDocs)
    d.write.parquet(s"$dir/documents.parquet")
    Inputs.embeddings(spark, seed, Inputs.nVecs).write.parquet(s"$dir/embeddings.parquet")
    // near-dup probe batches: exact copies, near copies, and fresh docs
    val base = spark.read.parquet(s"$dir/documents.parquet")
    Inputs.copies(base, seed, 50, 100, 1000000L, near = false)
      .unionByName(Inputs.copies(base, seed, 51, 100, 1100000L, near = true))
      .unionByName(Inputs.documents(spark, seed + 1, 200, 2000000L)
        .withColumn("src_id", lit(-1L)))
      .write.parquet(s"$dir/probe_docs.parquet")
  }

  def setup(ctx: Ctx): Unit = {
    val spark = ctx.spark
    docs = ctx.call("Tables", "Tables.documents") {
      val df = Tables.documents(spark, ctx.inputs); df.schema; df
    }
    embs = ctx.call("Tables", "Tables.embeddings") {
      val df = Tables.embeddings(spark, ctx.inputs); df.schema; df
    }
    probePool = ctx.call("Tables", "Tables.table") {
      val df = Tables.table(spark, ctx.inputs, "probe_docs"); df.schema; df
    }
    ivfpq = s"${ctx.root}/ivfpq"
    bm25 = s"${ctx.root}/bm25"
    dedup = s"${ctx.root}/dedup"
    // the three layouts and the brute-force truth are independent
    ctx.concurrently(
      () => ctx.call("ops.Similarity", "Similarity.ivfpqBuildIndex") {
        Similarity.ivfpqBuildIndex(embs, ivfpq, nlist).collect()
      },
      () => ctx.call("ops.Text", "Text.bm25BuildIndex") {
        Text.bm25BuildIndex(docs, bm25).collect()
      },
      () => ctx.call("ops.Dedup", "Dedup.dedupBuildIndex") {
        Dedup.dedupBuildIndex(docs, dedup).collect()
      },
      () => truth = ctx.call("ops.Similarity", "Similarity.cosineTopK") {
        Similarity.cosineTopK(embs, truthQueries, truthK).collect()
          .groupBy(_.getAs[Long]("query_id"))
          .map { case (q, rs) =>
            q -> rs.sortBy(_.getAs[Long]("rank")).map(_.getAs[Long]("neighbor_id")).toSeq
          }
      })
    // the client's copy of the texts it draws phrase queries from
    texts = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // warm-up: one probe of each kind
    Workload.warmUps(mix).foreach(i => probe(ctx, Params(ctx.seed, i)))
  }

  override def prepareChecks(ctx: Ctx): Unit = {
    labels = embs.select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    poolSrc = probePool.select("doc_id", "src_id").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(0) < 1100000L)).toMap
  }

  def op(ctx: Ctx, i: Int): OpResult = {
    val p = Params(ctx.seed, i)
    val rows = probe(ctx, p)
    OpResult(1L, () => check(ctx, p, rows))
  }

  private def phrases(p: Params): Seq[(Long, String)] =
    p.phraseDocs.zipWithIndex.map { case (d, j) =>
      val tk = texts(d).split(" ")
      val at = p.phrasePos(j) % math.max(1, tk.length - 1)
      (j.toLong, tk.slice(at, at + 2).mkString(" "))
    }

  private def batch(p: Params): DataFrame =
    probePool.filter(col("doc_id").isin(p.batchIds: _*))
      .select("doc_id", "text", "lang", "source", "n_chars")

  private def probe(ctx: Ctx, p: Params): Seq[Row] = {
    ctx.call("sources.Snapshot", "Snapshot.current") {
      Snapshot.current(p.layout(ivfpq, bm25, dedup))
    }
    p.kind match {
      case "ivfpqProbeStored" => ctx.call("ops.Similarity", "Similarity.ivfpqProbeStored") {
        Similarity.ivfpqProbeStored(embs, ivfpq, p.nq, p.k, nlist, p.nprobe).collect().toSeq
      }
      case "ivfpqFilteredStored" => ctx.call("ops.Similarity", "Similarity.ivfpqFilteredStored") {
        Similarity.ivfpqFilteredStored(embs, ivfpq, p.nq, p.k, nlist, p.nprobe, p.labelMod)
          .collect().toSeq
      }
      case "bm25ProbeStored" => ctx.call("ops.Text", "Text.bm25ProbeStored") {
        Text.bm25ProbeStored(docs, bm25, p.k).collect().toSeq
      }
      case "phraseSearchStored" => ctx.call("ops.Text", "Text.phraseSearchStored") {
        Text.phraseSearchStored(docs, bm25, phrases(p)).collect().toSeq
      }
      case "incrementalNearDupStored" => ctx.call("ops.Dedup", "Dedup.incrementalNearDupStored") {
        Dedup.incrementalNearDupStored(batch(p), docs, dedup).collect().toSeq
      }
    }
  }

  private def check(ctx: Ctx, p: Params, rows: Seq[Row]): Seq[String] = {
    val shape: Seq[String] = p.kind match {
      case "ivfpqProbeStored" =>
        val byQ = rows.groupBy(_.getAs[Long]("query_id"))
        val probeHits = p.recallQueries.map { q =>
          val got = byQ.getOrElse(q, Nil).map(_.getAs[Long]("neighbor_id")).toSet
          truth(q).take(p.k).count(got.contains).toLong
        }.sum
        val probeSlots = p.recallQueries.size.toLong * p.k
        hits += probeHits
        slots += probeSlots
        recallMin = math.min(recallMin, probeHits.toDouble / probeSlots)
        Checks.topK(byQ.map { case (q, rs) => q -> rs.map(_.getAs[Long]("rank")) },
          (0L until p.nq).toSet, p.k, exact = true) ++
          Checks.recall(probeHits, probeSlots, recallFloor)
      case "ivfpqFilteredStored" =>
        val byQ = rows.groupBy(_.getAs[Long]("query_id"))
        Checks.topK(byQ.map { case (q, rs) => q -> rs.map(_.getAs[Long]("rank")) },
          byQ.keySet, p.k, exact = false) ++
          rows.map(_.getAs[Long]("neighbor_id"))
            .filter(n => labels(n) % p.labelMod != 0)
            .map(n => s"neighbour $n fails the label filter")
      case "bm25ProbeStored" =>
        val byQ = rows.groupBy(_.getAs[Long]("query_id"))
        Checks.topK(byQ.map { case (q, rs) => q -> rs.map(_.getAs[Long]("rank")) },
          Text.bm25Queries.map(_._1).toSet, p.k, exact = true)
      case "phraseSearchStored" =>
        val found = rows.map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("doc_id"))).toSet
        p.phraseDocs.zipWithIndex.collect {
          case (d, j) if !found((j.toLong, d)) => s"phrase $j misses its source doc $d"
        }
      case "incrementalNearDupStored" =>
        val verdicts = rows.map(r => r.getAs[Long]("doc_id") ->
          (r.getAs[Boolean]("is_dup"), r.getAs[Long]("dup_of"))).toMap
        Checks.nearDupVerdicts(p.batchIds, verdicts, poolSrc)
    }
    val repeat =
      if (Math.floorMod(p.i, 4) != 0) Nil
      else {
        val again = probe(ctx.copy(tracer = Tracer.off), p)
        if (Checks.sameRows(rows, again)) Nil
        else Seq(s"repeated ${p.kind} returned different rows")
      }
    shape ++ repeat
  }

  override def finish(ctx: Ctx): Map[String, Double] =
    (if (slots == 0) Map.empty[String, Double]
     else Map("recall_at_k" -> hits.toDouble / slots, "recall_at_k_min" -> recallMin)) ++
      Workload.layoutStats(ctx.spark, Seq(ivfpq, bm25, dedup))

  def inputSizes(ctx: Ctx): Map[String, (Long, Long)] = Map(
    "documents" -> (Inputs.nDocs.toLong,
      Workload.bytesUnder(s"${ctx.inputs}/documents.parquet")),
    "embeddings" -> (Inputs.nVecs.toLong,
      Workload.bytesUnder(s"${ctx.inputs}/embeddings.parquet")),
    "ivfpq_layout" -> (Inputs.nVecs.toLong, Workload.bytesUnder(ivfpq)),
    "bm25_layout" -> (Inputs.nDocs.toLong, Workload.bytesUnder(bm25)),
    "dedup_layout" -> (Inputs.nDocs.toLong, Workload.bytesUnder(dedup)))
}

object IndexServeWorkload {
  /** IVFADC cells: the library's registered `sim_ivfpq_*` slots build 16. */
  val nlist = 16
  val truthQueries = 32
  val truthK = 10

  /** Per-probe recall@k floor of `ivfpqProbeStored`: about 60% of the
    * lowest per-probe recall seen when the floor was set (0.13, on
    * 32-query batches at k = 5; 58 probes over three seeds ranged
    * 0.13-0.33), so a change that gives up IVFADC quality for speed
    * fails its probes.
    */
  val recallFloor = 0.08

  val kinds = Seq("ivfpqProbeStored", "ivfpqFilteredStored", "bm25ProbeStored",
    "phraseSearchStored", "incrementalNearDupStored")

  /** One probe of each kind per cycle ([[Workload.cycle]]): no serving
    * mix is on record, so every kind weighs the same.
    */
  val mix: Seq[String] = kinds

  /** A probe's parameters, spread around the library's own serving
    * defaults: the registered IVFADC slots probe 8 queries at k = 5 with
    * `nprobe` 4 and label modulus 2, and `bm25ProbeStored` returns
    * k = 10. Query batches go up to the 32 truth queries.
    */
  final case class Params(seed: Long, i: Int) {
    private val rng = new scala.util.Random(seed * 1000003L + i)
    val kind: String = Workload.cycle(mix, i)
    val nq: Int = Seq(8, 16, 32)(rng.nextInt(3))
    val k: Int = Seq(5, 10)(rng.nextInt(2))
    val nprobe: Int = Seq(2, 4, 6)(rng.nextInt(3))
    val labelMod: Int = 2 + rng.nextInt(2)
    val recallQueries: Seq[Long] = (0L until math.min(nq, truthQueries).toLong)
    val phraseDocs: Seq[Long] = Seq.fill(3)(rng.nextInt(Inputs.nDocs).toLong)
    val phrasePos: Seq[Int] = Seq.fill(3)(rng.nextInt(1000))
    /** 24 probe docs: 8 exact copies, 8 near copies, 8 fresh docs. */
    val batchIds: Seq[Long] =
      Seq.fill(8)(1000000L + rng.nextInt(100)) ++
        Seq.fill(8)(1100000L + rng.nextInt(100)) ++
        Seq.fill(8)(2000000L + rng.nextInt(200))
    def layout(ivfpq: String, bm25: String, dedup: String): String = kind match {
      case "ivfpqProbeStored" | "ivfpqFilteredStored" => ivfpq
      case "incrementalNearDupStored" => dedup
      case _ => bm25
    }
  }
}
