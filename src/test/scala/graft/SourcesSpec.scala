package graft

import org.apache.spark.sql.functions._
import graft.sources.Sources
import graft.streaming.StreamingOps

/** Sources/sinks + stateful streaming: CSV/JSON round-trips, partitioned
  * parquet with pruning, the O18 merge writeback, mapGroupsWithState.
  */
class SourcesSpec extends SparkTestBase {
  import spark.implicits._

  test("CSV round-trip preserves rows and values") {
    val src = Tables.nation(spark, sf)
    val path = tmp("csv")
    Sources.writeCsv(src, path)
    val back = Sources.readCsv(spark, path, src.schema)
    assert(back.count() === src.count())
    assert(back.exceptAll(src).isEmpty && src.exceptAll(back).isEmpty)
  }

  test("JSON round-trip preserves rows and values") {
    val src = Tables.customer(spark, sf)
    val path = tmp("json")
    Sources.writeJson(src, path)
    val back = Sources.readJson(spark, path, src.schema)
    assert(back.count() === src.count())
    assert(back.exceptAll(src).isEmpty && src.exceptAll(back).isEmpty)
  }

  test("ORC round-trip preserves rows and values with pushdown intact") {
    val src = Tables.supplier(spark, sf)
    val path = tmp("orc")
    Sources.writeOrc(src, path)
    val back = Sources.readOrc(spark, path)
    assert(back.count() === src.count())
    assert(back.exceptAll(src).isEmpty && src.exceptAll(back).isEmpty)
    val plan = back.filter(col("s_suppkey") > 5).queryExecution
      .executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("s_suppkey"))
  }

  test("text source reads raw lines; documents survive a text round-trip") {
    val path = tmp("text")
    val lines = Tables.documents(spark, sf)
      .select(col("text")).filter(!col("text").contains("\n"))
    lines.write.mode("overwrite").text(path)
    val back = Sources.readText(spark, path)
    assert(back.count() === lines.count())
    assert(back.columns.toSeq === Seq("value"))
  }

  test("partitioned parquet write prunes partitions on filtered read") {
    val src = Tables.documents(spark, sf)
    val path = tmp("part")
    Sources.writePartitioned(src, path, "lang")
    val back = spark.read.parquet(path).filter(col("lang") === "de")
    assert(back.count() === src.filter(col("lang") === "de").count())
    // pruning visible in the plan: only the lang=de directory is read
    val scanned = back.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).mkString("\n")
    assert(scanned.contains("lang=de") || !scanned.contains("lang=en"),
      s"expected partition pruning in:\n$scanned")
  }

  test("IVF cell layout: the probe scan prunes to the probed cell directories") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val emb = Tables.embeddings(spark, sf)
    val path = tmp("ivfcells")
    val centroids = Sources.writeIvfCells(emb, path, nlist = 8)
    assert(centroids.count() > 0)
    val stored = spark.read.parquet(path)
    val cells = stored.select("cell").distinct().as[Long].collect().sorted
    assert(cells.length >= 3, s"layout did not fan out: ${cells.toSeq}")
    assert(stored.count() === emb.count()) // every vector landed in a cell
    // probe two cells, as an nprobe=2 query would
    val probed = cells.take(2).toSeq
    val probe = stored.filter(col("cell").isin(probed: _*))
    probe.collect()
    val scan = (probe.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }).collect { case f: FileSourceScanExec => f }.head
    // the cell predicate became a PARTITION filter (metadata-only prune),
    // not a data filter evaluated against every row
    assert(scan.metadata("PartitionFilters").contains("cell"),
      s"no partition filter in ${scan.metadata}")
    // and the scan opened exactly the probed directories' files
    def parquetFilesUnder(cs: Seq[Long]): Int = cs.map { c =>
      Option(new java.io.File(path, s"cell=$c").listFiles()).toSeq.flatten
        .count(_.getName.endsWith(".parquet"))
    }.sum
    val probedFiles = parquetFilesUnder(probed)
    val allFiles = parquetFilesUnder(cells.toSeq)
    assert(probedFiles > 0 && probedFiles < allFiles)
    assert(scan.metrics("numFiles").value === probedFiles,
      s"scan read ${scan.metrics("numFiles").value} files, dirs hold $probedFiles")
  }

  test("stored IVFADC index: probe matches the inline plan, IN-list prunes the codes scan") {
    import graft.ops.Similarity
    val emb = Tables.embeddings(spark, sf)
    val base = tmp("ivfpqidx")
    // build once: census rows land on disk alongside the artifacts
    val census = Similarity.ivfpqBuildIndex(emb, base, 16)
    assert(census.count() > 0)
    Seq("cells", "codes", "centroids", "codebooks", "MARKER").foreach { p =>
      assert(new java.io.File(base, p).exists(), s"missing $p")
    }
    // probe the STORED artifacts: result-identical to the inline plan
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))
    val inline = Similarity.ivfpqTopK(emb, 4, 5).collect().map(key).toSeq
    val probe = Similarity.ivfpqProbeStored(emb, base, 4, 5)
    assert(probe.collect().map(key).toSeq === inline)
    // the executed codes scan carries the probed cells as a static
    // partition IN-list: a metadata-only prune to those directories
    import org.apache.spark.sql.catalyst.expressions.{In, InSet, Literal}
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    val codesScan = new AdaptiveSparkPlanHelper {}
      .collect(probe.queryExecution.executedPlan) { case f: FileSourceScanExec => f }
      .find(_.relation.location.rootPaths.exists(_.toString.contains("/codes/")))
      .getOrElse(fail(s"no codes scan in ${probe.queryExecution.executedPlan}"))
    assert(codesScan.metadata("PartitionFilters").contains("cell"),
      s"no partition filter in ${codesScan.metadata}")
    def onCell(e: org.apache.spark.sql.catalyst.expressions.Expression) =
      e.references.exists(_.name == "cell")
    val inCells = codesScan.partitionFilters.flatMap(_.collect {
      case In(c, list) if onCell(c) =>
        list.collect { case Literal(v, _) => v.toString.toLong }
      case InSet(c, set) if onCell(c) => set.toSeq.map(_.toString.toLong)
    }).flatten.toSet
    val allCells = new java.io.File(base, "codes").listFiles.filter(_.isDirectory)
      .flatMap(_.listFiles).map(_.getName).filter(_.startsWith("cell="))
      .map(_.stripPrefix("cell=").toLong).toSet
    assert(inCells.nonEmpty && inCells.subsetOf(allCells),
      s"probed cells $inCells not among the stored cells $allCells")
    // stale marker forces a rebuild (index tracks its corpus)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(base, "MARKER"), "stale")
    assert(Similarity.ivfpqProbeStored(emb, base, 4, 5)
      .collect().map(key).toSeq === inline)
    assert(java.nio.file.Files.readString(
      java.nio.file.Paths.get(base, "MARKER")) != "stale")
  }

  test("stored BM25 index: probe matches the inline plan with static bucket pruning") {
    import graft.ops.Text
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val docs = Tables.documents(spark, sf)
    val base = tmp("bm25idx")
    assert(Text.bm25BuildIndex(docs, base).count() > 0)
    Seq("tf", "df", "dl", "stats", "MARKER").foreach { p =>
      assert(new java.io.File(base, p).exists(), s"missing $p")
    }
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))
    val inline = Text.bm25TopK(docs, 10).collect().map(key).toSeq
    val probe = Text.bm25ProbeStored(docs, base, 10)
    assert(probe.collect().map(key).toSeq === inline)
    // the query terms are plan-time literals → the postings scan
    // carries a STATIC bucket partition filter (no subquery needed)
    val scans = (probe.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }).toString
    assert(scans.contains("PartitionFilters: [bucket") ||
      "PartitionFilters: \\[.*bucket".r.findFirstIn(scans).isDefined,
      scans.take(1500))
    // stale marker forces a rebuild
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(base, "MARKER"), "stale")
    assert(Text.bm25ProbeStored(docs, base, 10)
      .collect().map(key).toSeq === inline)
  }

  /** From-scratch bigram-LM scoring of the whole corpus under a model
    * trained on `refPred`'s slice — the in-spec expectation the stored
    * layouts are compared against (no parquet round trip).
    */
  private def lmExpected(docs: org.apache.spark.sql.DataFrame,
      refPred: org.apache.spark.sql.Column): Map[Long, (Long, Double)] = {
    val prAll = docs
      .select(col("doc_id"), split(lower(col("text")), " ").as("tk"))
      .select(col("doc_id"), explode(when(size(col("tk")) > 1,
          expr("transform(sequence(1, size(tk) - 1), i -> " +
            "struct(cast(i as bigint) as pos, tk[i-1] as w1, tk[i] as w2))"))
        .otherwise(expr(
          "cast(array() as array<struct<pos:bigint,w1:string,w2:string>>)")))
        .as("p"))
      .select(col("doc_id"), col("p.pos"), col("p.w1"), col("p.w2"))
      .localCheckpoint()
    val ref = prAll.filter(refPred)
    val bi = ref.groupBy("w1", "w2").agg(count(lit(1)).as("n_pair"))
    val uni = ref.groupBy("w1").agg(count(lit(1)).as("n_w1"))
    val p = prAll.join(bi, Seq("w1", "w2"), "left")
      .join(uni, Seq("w1"), "left")
      .select(col("doc_id"), col("pos"),
        coalesce(col("n_pair").cast("double") / col("n_w1").cast("double"),
          lit(0.0)).as("p"))
    val perDoc = p.groupBy("doc_id")
      .agg(count(lit(1)).as("n_pairs"),
        (aggregate(sort_array(collect_list(struct(col("pos"), col("p")))),
          lit(0.0), (acc, x) => acc + x.getField("p")) / count(lit(1)))
          .as("mean_p"))
    docs.select("doc_id")
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("n_pairs"), lit(0L)),
        coalesce(col("mean_p"), lit(0.0)))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2))))
      .toMap
  }

  test("stored reference LM: scoring joins the standing tables and tracks the marker") {
    import graft.ops.Text
    val docs = Tables.documents(spark, sf)
    val base = tmp("lmidx")
    assert(Text.lmBuildIndex(docs, base).count() > 0)
    Seq("bi", "uni", "MARKER").foreach { p =>
      assert(new java.io.File(base, p).exists(), s"missing $p")
    }
    // expected: the model trained on the even-doc_id half, applied to
    // the whole corpus — recomputed inline, no parquet round trip, so
    // the assertion proves the persisted tables serve exactly
    val expected = lmExpected(docs, col("doc_id") % 2 === 0)
    def key(r: org.apache.spark.sql.Row) =
      r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))
    val got = Text.lmScoreStored(docs, base).collect().map(key).toMap
    assert(got === expected)
    // the reference model is genuinely the half, not the whole
    // corpus: scoring under it differs from the inline full-corpus LM
    assert(got !== Text.lmQuality(docs).collect().map(key).toMap,
      "stored-LM scores match the full-corpus LM — the reference " +
        "filter is not being applied")
    // stale marker forces a rebuild; serving is unchanged
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(base, "MARKER"), "stale")
    assert(Text.lmScoreStored(docs, base).collect().map(key).toMap
      === expected)
    assert(java.nio.file.Files.readString(
      java.nio.file.Paths.get(base, "MARKER")) != "stale")
  }

  test("stored LM maintenance composes: append then delete equals from-scratch over the survivors") {
    import graft.ops.Text
    val docs = Tables.documents(spark, sf)
    val base = tmp("lmmx")
    Text.lmBuildIndex(docs, base).count()              // ref = even ids
    Text.lmAppend(docs.filter(col("doc_id") % 4 === 1), base)
    Text.lmDelete(docs.filter(col("doc_id") % 8 === 2), base)
    // replays of BOTH maintenance ops are no-ops (ids burned/known)
    Text.lmAppend(docs.filter(col("doc_id") % 4 === 1), base)
    Text.lmDelete(docs.filter(col("doc_id") % 8 === 2), base)
    def key(r: org.apache.spark.sql.Row) =
      r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))
    val got = Text.lmScoreStored(docs, base).collect().map(key).toMap
    // from-scratch reference over (even ∪ %4==1) ∖ %8==2
    val expected = lmExpected(docs,
      (col("doc_id") % 2 === 0 || col("doc_id") % 4 === 1) &&
        col("doc_id") % 8 =!= 2)
    assert(got === expected,
      "composed append+delete diverged from the from-scratch model " +
        "over the surviving reference")
  }

  test("stored-index append: idempotent merge, untouched partitions stay byte-identical") {
    import graft.ops.{Similarity, Text}
    import graft.sources.Snapshot
    val emb = Tables.embeddings(spark, sf)
    val base = tmp("ivfpqapp")
    def cellsNow = Snapshot.require(base).read(spark, "cells")
    def codesNow = Snapshot.require(base).read(spark, "codes")
    Similarity.ivfpqBuildIndex(emb, base, 16).count()
    val n = cellsNow.count()
    // three brand-new vectors land in at most three of the 16 cells
    val batch = emb.filter(col("vec_id") < 3)
      .withColumn("vec_id", col("vec_id") + 1000000L)
    def files(dir: String): Set[String] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
        else Seq(f)
      walk(new java.io.File(dir)).map(_.getPath)
        .filter(_.endsWith(".parquet")).toSet
    }
    val before = files(s"$base/cells")
    Similarity.ivfpqAppend(batch, base)
    val after = files(s"$base/cells")
    // snapshot maintenance is PURE ADDITION: every pre-append file is
    // still present byte-untouched (a racing probe keeps a complete
    // generation); the new generation carries only the batch's ≤ 3
    // affected cell directories
    assert(before.subsetOf(after), "append modified or deleted live files")
    val newCells = (after -- before)
      .map(p => p.split("/").find(_.startsWith("cell=")).get)
    assert(newCells.nonEmpty && newCells.size <= 3, s"$newCells")
    assert(cellsNow.count() === n + 3)
    assert(codesNow.count() === n + 3)
    // replaying the same append is a no-op on the row level
    Similarity.ivfpqAppend(batch, base)
    assert(cellsNow.count() === n + 3)
    assert(codesNow.count() === n + 3)

    // BM25: build-on-base → append-batch → probe equals the inline
    // index over the FULL corpus, and replaying it changes nothing
    val docs = Tables.documents(spark, sf)
    val b2 = tmp("bm25app")
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))
    val inline = Text.bm25TopK(docs, 10).collect().map(key).toSeq
    assert(Scenarios.bm25AppendProbe(docs, b2, 10).collect().map(key).toSeq === inline)
    assert(Scenarios.bm25AppendProbe(docs, b2, 10).collect().map(key).toSeq === inline)
  }

  test("stored-index deletion: tombstones serve correctly, compaction folds them in") {
    import graft.ops.{Similarity, Text}
    // BM25: tombstone serving is already EXACT — the probe derives df
    // from the anti-joined postings, so even before compaction the
    // ranking equals the inline index over the survivors (better than
    // the stale-df segment trade); compaction only reclaims the bytes
    val docs = Tables.documents(spark, sf)
    val b = tmp("bm25del")
    Text.bm25BuildIndex(docs, b).count()
    val delDocs = docs.filter(col("doc_id") % 7 === 3).select(col("doc_id"))
    val delDocSet = delDocs.as[Long].collect().toSet
    Text.bm25Delete(delDocs, b)
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))
    val survInline = Text.bm25TopK(
      docs.filter(col("doc_id") % 7 =!= 3), 10).collect().map(key).toSeq
    val tombRes = Text.bm25ProbeStored(docs, b, 10).collect().map(key)
    assert(tombRes.nonEmpty && tombRes.forall(r => !delDocSet(r._2)),
      "a tombstoned doc surfaced in serving")
    assert(tombRes.toSeq === survInline,
      "pre-compaction serving is not exact over the survivors")
    Text.bm25Compact(spark, b)
    assert(!graft.sources.Snapshot.require(b).has("tombstones"))
    assert(Text.bm25ProbeStored(docs, b, 10).collect().map(key).toSeq
      === survInline)
    assert(graft.sources.Snapshot.require(b).read(spark, "dl")
      .join(delDocs, Seq("doc_id")).count() === 0)

    // IVFADC: the tombstoned probe is already exact, so compaction
    // must not change serving — only the layout's row counts
    val emb = Tables.embeddings(spark, sf)
    val bi = tmp("ivfpqdel")
    Similarity.ivfpqBuildIndex(emb, bi, 16).count()
    def cellsNow = graft.sources.Snapshot.require(bi).read(spark, "cells")
    val n = cellsNow.count()
    val delVec = emb.filter(col("vec_id") % 7 === 3).select(col("vec_id"))
    val nDel = delVec.count()
    val delVecSet = delVec.as[Long].collect().toSet
    Similarity.ivfpqDelete(delVec, bi)
    val tombP = Similarity.ivfpqProbeStored(emb, bi, 4, 5)
      .collect().map(key).toSeq
    assert(tombP.nonEmpty && tombP.forall(r => !delVecSet(r._2)),
      "a tombstoned vector surfaced as neighbor")
    Similarity.ivfpqCompact(spark, bi)
    assert(Similarity.ivfpqProbeStored(emb, bi, 4, 5)
      .collect().map(key).toSeq === tombP)
    assert(cellsNow.count() === n - nDel)
    assert(graft.sources.Snapshot.require(bi)
      .read(spark, "codes").count() === n - nDel)
  }

  test("stored-index probes racing maintenance never fail and always " +
      "serve a complete snapshot") {
    import graft.ops.Similarity
    val emb = Tables.embeddings(spark, sf).localCheckpoint()
    val base = tmp("ivfpqrace")
    Similarity.ivfpqBuildIndex(emb, base, 16).count()
    val batch = emb.filter(col("vec_id") < 3)
      .withColumn("vec_id", col("vec_id") + 1000000L)
    // one append fixes the logical layout; REPLAYS of the same append
    // are row-level no-ops but physically rewrite the affected cells'
    // ownership each time — exactly the window where the old in-place
    // overwrite could crash a concurrent probe or serve half a merge
    Similarity.ivfpqAppend(batch, base)
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))
    val expected = Similarity.ivfpqProbeStored(emb, base, 4, 5)
      .collect().map(key).toSeq
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val bad = new java.util.concurrent.atomic.AtomicReference[String](null)
    val prober = new Thread(() => {
      try {
        while (!stop.get()) {
          val got = Similarity.ivfpqProbeStored(emb, base, 4, 5)
            .collect().map(key).toSeq
          if (got != expected)
            bad.compareAndSet(null, s"torn probe: $got")
        }
      } catch {
        case e: Throwable => bad.compareAndSet(null, s"probe crashed: $e")
      }
    })
    prober.start()
    try (1 to 4).foreach(_ => Similarity.ivfpqAppend(batch, base))
    finally { stop.set(true); prober.join(60000) }
    assert(bad.get() === null, s"${bad.get()}")
  }

  test("BM25 probes racing append/compact cycles never fail and always " +
      "serve a complete snapshot") {
    import graft.ops.Text
    val docs = Tables.documents(spark, sf)
    val base = tmp("bm25race")
    Text.bm25BuildIndex(docs.filter(col("doc_id") % 10 =!= 7), base).count()
    val batch = docs.filter(col("doc_id") % 10 === 7).localCheckpoint()
    // one append fixes the logical layout; REPLAYS rewrite the same
    // segment's ownership (dl/stats/scrub/segment all flip in one
    // manifest) — exactly the window where in-place maintenance could
    // crash a concurrent probe or serve base stats with delta postings
    Text.bm25Append(batch, base)
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))
    val expected = Text.bm25ScoreStored(spark, base, 10)
      .collect().map(key).toSeq
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val bad = new java.util.concurrent.atomic.AtomicReference[String](null)
    val prober = new Thread(() => {
      try {
        while (!stop.get()) {
          val got = Text.bm25ScoreStored(spark, base, 10)
            .collect().map(key).toSeq
          if (got != expected)
            bad.compareAndSet(null, s"torn probe: $got")
        }
      } catch {
        case e: Throwable => bad.compareAndSet(null, s"probe crashed: $e")
      }
    })
    prober.start()
    try (1 to 3).foreach(_ => Text.bm25Append(batch, base))
    finally { stop.set(true); prober.join(60000) }
    assert(bad.get() === null, s"${bad.get()}")
  }

  test("stored-index probes: fresh-marker check runs no corpus-wide job") {
    // round-5 regression guard: the markers embedded `corpus.count()`,
    // so EVERY probe paid a corpus-wide aggregate just to validate
    // freshness. The v2 markers compare geometry + the input-file
    // listing fingerprint (metadata-only); constructing a fresh probe
    // must now trigger at most the ivfpq query-vector localCheckpoint
    // job — never a count over embeddings/documents.
    import graft.ops.{Dedup, Similarity, Text}
    val emb = Tables.embeddings(spark, sf)
    val docs = Tables.documents(spark, sf)
    val split = Text.trainValSplit(docs).select(col("doc_id"), col("split"))
    val ws = docs.join(split, Seq("doc_id"))
    val hist = ws.filter(col("split") === "train")
    val batch = ws.filter(col("split") =!= "train")
    val b1 = tmp("ivfpqfresh"); val b2 = tmp("bm25fresh")
    val b3 = tmp("lmfresh"); val b4 = tmp("dedupfresh")
    val b5 = tmp("annfresh")
    Similarity.ivfpqBuildIndex(emb, b1, 16).count()
    Text.bm25BuildIndex(docs, b2).count()
    Text.lmBuildIndex(docs, b3).count()
    Dedup.dedupBuildIndex(hist, b4).count()
    Text.hybridStored(docs, b2, b5).count() // builds the ann layout
    // parquet reads legitimately launch file-listing jobs on the INDEX
    // artifacts; the regression shape is specifically an eager count()
    // from the ops files (the v1 markers' corpus aggregate), so match
    // job callsites, not job counts.
    val (_, run) = RunMetrics.measure(spark.sparkContext) {
      Similarity.ivfpqProbeStored(emb, b1, 4, 5) // constructed, not run
      Text.bm25ProbeStored(docs, b2, 10)
      Text.lmScoreStored(docs, b3)
      Dedup.incrementalNearDupStored(batch, hist, b4)
      Text.hybridStored(docs, b2, b5)
    }
    val counts = run.jobs.flatMap(_.stageNames)
      .filter(n => n.startsWith("count at Similarity.scala") ||
        n.startsWith("count at Text.scala") ||
        n.startsWith("count at Dedup.scala")).toList
    assert(counts.isEmpty,
      s"fresh probes launched corpus aggregates: $counts — the " +
        "count() leaked back into the freshness check")
  }

  test("dynamic partition pruning: dim filter prunes fact partitions at runtime") {
    // the 100 TB star-join lever: the fact side is partitioned on the
    // join key, the dim filter is only known at runtime, and DPP turns
    // the broadcast dim into a partition filter on the fact scan — only
    // matching directories are read, no code change in the query.
    val path = tmp("dpp")
    Tables.documents(spark, sf)
      .write.partitionBy("lang").parquet(path)
    val fact = spark.read.parquet(path)
    // the dim must be FILE-backed: a LocalRelation's filter constant-
    // folds away before the PartitionPruning rule looks for a
    // selective predicate on the build side
    val dimPath = tmp("dppdim")
    Seq(("de", 1L), ("fr", 2L), ("en", 3L)).toDF("d_lang", "d_key")
      .write.parquet(dimPath)
    val dim = spark.read.parquet(dimPath)
    val joined = fact.join(broadcast(dim.filter(col("d_key") === 1L)),
      col("lang") === col("d_lang"))
    val n = joined.collect().length.toLong
    assert(n === Tables.documents(spark, sf).filter(col("lang") === "de").count())
    // the pruning subquery shows up in the fact scan's PartitionFilters
    val scan = joined.queryExecution.executedPlan.toString
    assert(scan.toLowerCase.contains("dynamicpruning"), scan.take(1500))
  }

  test("runtime bloom filter prunes the fact side of a selective join") {
    // Spark's runtime row-level filter: a bloom filter built from the
    // selective (filtered) side is injected into the fact scan —
    // shuffle input shrinks before the join even runs. Thresholds are
    // lowered so fixture-sized tables qualify.
    val confs = Map(
      // the shared session disables the rule (pure overhead on the
      // stored-ANN serving path); this test exercises the capability
      // itself, so switch it back on locally
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val fact = Tables.lineitem(spark, sf)
      val sel = Tables.orders(spark, sf)
        .filter(col("o_orderpriority") === "1-URGENT")
      val joined = fact.join(sel, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
      val rows = joined.collect()
      assert(rows.nonEmpty && rows.head.getLong(1) > 0)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("might_contain") || plan.contains("BloomFilter"),
        plan.take(1200))
    } finally {
      saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
  }

  test("aggregation over a bucketed table needs no exchange") {
    // layout as an optimization: a table bucketed on the grouping key
    // already satisfies the aggregate's required distribution, so the
    // groupBy runs exchange-free — at 100 TB this converts the usual
    // full-table shuffle into zero network traffic for every repeated
    // aggregation on that key.
    spark.sql("DROP TABLE IF EXISTS li_bucket_agg")
    Sources.writeBucketed(Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_quantity"), "li_bucket_agg", 4, "l_orderkey")
    val agg = spark.table("li_bucket_agg")
      .groupBy("l_orderkey").agg(sum(col("l_quantity")).as("q"))
    agg.collect()
    val plan = agg.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan.take(1200))
  }

  test("nested-schema pruning reads only the referenced struct field") {
    val path = tmp("nested")
    Tables.documents(spark, sf)
      .select(col("doc_id"),
        struct(col("lang"), col("source"), col("text")).as("meta"))
      .write.parquet(path)
    val q = spark.read.parquet(path).select(col("doc_id"), col("meta.lang"))
    val scan = q.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).mkString("\n")
    // ReadSchema keeps meta.lang but prunes the (much larger) text field
    assert(scan.contains("lang") && !scan.contains("text"), scan.take(1200))
    assert(q.count() === Tables.documents(spark, sf).count())
  }

  test("O18 merge writeback updates matched keys, keeps the rest") {
    val path = tmp("merge")
    Tables.supplier(spark, sf).write.parquet(path)
    val updates = Seq((1L, "UPDATED_1"), (3L, "UPDATED_3"))
      .toDF("s_suppkey", "s_name")
    val n = Sources.mergeColumnUpdate(spark, path, updates, "s_suppkey", "s_name")
    val after = Sources.readVersioned(spark, path)
    assert(n === after.count())
    val names = after.select("s_suppkey", "s_name").as[(Long, String)].collect().toMap
    assert(names(1L) === "UPDATED_1" && names(3L) === "UPDATED_3")
    assert(!names.exists { case (k, v) => k != 1L && k != 3L && v.startsWith("UPDATED") })
  }

  test("merge and upsert return the committed row count: adoption, " +
      "versioned target, empty update set") {
    val plain = tmp("mergecount")
    (1L to 25L).map(k => (k, s"v$k")).toDF("key", "value").coalesce(2)
      .write.parquet(plain)
    // plain directory: the first merge adopts it, then rewrites it
    assert(!graft.sources.Snapshot.enabled(plain))
    assert(Sources.mergeColumnUpdate(spark, plain,
      Seq((2L, "x"), (99L, "y")).toDF("key", "value"), "key", "value") === 25L)
    assert(graft.sources.Snapshot.enabled(plain))
    val none = Seq.empty[(Long, String)].toDF("key", "value")
    assert(Sources.mergeColumnUpdate(spark, plain, none, "key", "value") === 25L)
    assert(Sources.upsert(spark, plain, none, "key") === 25L)
    assert(Sources.upsert(spark, plain,
      Seq((3L, "u"), (30L, "i"), (31L, "i")).toDF("key", "value"), "key") === 27L)
    assert(Sources.readVersioned(spark, plain).count() === 27L)
  }

  test("maxPartitionBytes controls scan parallelism (split sizing)") {
    // the knob that sizes scan partitions at 100 TB: smaller split
    // targets mean more, smaller input partitions for the same file
    val dir = tmp("splits")
    Tables.lineitem(spark, sf).write.parquet(dir)
    val saved = spark.conf.get("spark.sql.files.maxPartitionBytes")
    val savedCost = spark.conf.getOption("spark.sql.files.openCostInBytes")
    try {
      spark.conf.set("spark.sql.files.maxPartitionBytes", "8KB")
      spark.conf.set("spark.sql.files.openCostInBytes", "0")
      val many = spark.read.parquet(dir).rdd.getNumPartitions
      spark.conf.set("spark.sql.files.maxPartitionBytes", "1GB")
      val few = spark.read.parquet(dir).rdd.getNumPartitions
      assert(many > few, s"many=$many few=$few")
      assert(few >= 1)
    } finally {
      spark.conf.set("spark.sql.files.maxPartitionBytes", saved)
      savedCost.foreach(spark.conf.set("spark.sql.files.openCostInBytes", _))
    }
  }

  test("zstd-compressed parquet round-trips and is smaller than uncompressed") {
    def dirSize(d: String): Long = new java.io.File(d).listFiles
      .filter(_.getName.endsWith(".parquet")).map(_.length).sum
    val none = tmp("codec-none")
    val zstd = tmp("codec-zstd")
    val docs = Tables.documents(spark, sf)
    docs.coalesce(1).write.option("compression", "uncompressed").parquet(none)
    docs.coalesce(1).write.option("compression", "zstd").parquet(zstd)
    assert(dirSize(zstd) < dirSize(none))
    assert(spark.read.parquet(zstd).count() === docs.count())
  }

  test("upsert inserts new keys, replaces matched rows, keeps the rest") {
    val tgt = tmp("upsert")
    Seq((1L, "old", 10L), (2L, "old", 20L), (3L, "old", 30L))
      .toDF("key", "value", "score")
      .coalesce(1).write.parquet(tgt)
    val updates = Seq((2L, "new", 99L), (4L, "new", 40L))
      .toDF("key", "value", "score")
    val n = Sources.upsert(spark, tgt, updates, "key")
    assert(n === 4L)
    val back = Sources.readVersioned(spark, tgt).orderBy("key")
      .as[(Long, String, Long)].collect().toSeq
    assert(back === Seq((1L, "old", 10L), (2L, "new", 99L),
      (3L, "old", 30L), (4L, "new", 40L)))
  }

  test("snapshot rewrite keeps a complete readable table through a crash " +
      "at every step") {
    import graft.sources.{IndexFS, Snapshot}
    case class Crash(step: Int) extends RuntimeException
    val oldData = Set(1, 2, 3)
    val newData = Set(4, 5, 6)
    for (failAt <- 1 to 3) {
      val tgt = tmp(s"snapcrash$failAt")
      Sources.writeVersioned(oldData.toSeq.toDF("v"), tgt)
      intercept[Crash] {
        Snapshot.transact(tgt, onStep = s => if (s == failAt) throw Crash(s))(
          _.writeFull(newData.toSeq.toDF("v"), "data"))
      }
      // the manifest IS the commit point: a crash before the publish
      // (step 1) leaves the old table live; at/after it (steps 2, 3)
      // the new table is live — never a mixture, never an error
      val seen = Sources.readVersioned(spark, tgt).as[Int].collect().toSet
      assert(seen === (if (failAt <= 1) oldData else newData),
        s"failAt=$failAt read $seen")
      // and a clean retry of the rewrite commits
      Sources.writeVersioned(newData.toSeq.toDF("v"), tgt)
      assert(Sources.readVersioned(spark, tgt)
        .as[Int].collect().toSet === newData)
    }
  }

  test("readers racing table rewrites always see one complete generation") {
    val tgt = tmp("snaprace")
    Sources.writeVersioned(Seq.tabulate(100)(i => (i.toLong, 0L))
      .toDF("k", "gen"), tgt)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val bad = new java.util.concurrent.atomic.AtomicReference[String](null)
    val reader = new Thread(() => {
      try {
        while (!stop.get()) {
          // a consistent snapshot has exactly 100 rows, all one gen
          val gens = Sources.readVersioned(spark, tgt)
            .groupBy(col("gen")).agg(count(lit(1)).as("n"))
            .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
          if (gens.size != 1 || gens.head._2 != 100L)
            bad.compareAndSet(null, s"torn read: $gens")
        }
      } catch {
        case e: Throwable => bad.compareAndSet(null, s"reader crashed: $e")
      }
    })
    reader.start()
    try (1 to 5).foreach { g =>
      Sources.writeVersioned(Seq.tabulate(100)(i => (i.toLong, g.toLong))
        .toDF("k", "gen"), tgt)
    } finally { stop.set(true); reader.join(30000) }
    assert(bad.get() === null, s"${bad.get()}")
  }

  test("snapshot GC reclaims unreferenced generations after the grace " +
      "period and keeps the live one intact") {
    val tgt = tmp("snapgc")
    spark.conf.set("graft.snapshot.keepLast", "1")
    spark.conf.set("graft.snapshot.graceMs", "0")
    try {
      (1 to 4).foreach { g =>
        Sources.writeVersioned(Seq.tabulate(10)(i => (i.toLong, g.toLong))
          .toDF("k", "gen"), tgt)
      }
      val gens = new java.io.File(s"$tgt/data").listFiles
        .filter(_.getName.startsWith("gsn=")).map(_.getName).toSeq
      assert(gens.size === 1, s"expected one surviving generation: $gens")
      assert(Sources.readVersioned(spark, tgt)
        .agg(max(col("gen"))).as[Long].head === 4L)
      // manifests beyond keepLast are retired too
      val manifests = new java.io.File(s"$tgt/_SNAPSHOTS").listFiles
        .map(_.getName).filter(_.startsWith("m")).toSeq
      assert(manifests.size === 1, s"manifests kept: $manifests")
    } finally {
      spark.conf.unset("graft.snapshot.keepLast")
      spark.conf.unset("graft.snapshot.graceMs")
    }
  }

  test("snapshot GC grace runs from manifest RETIREMENT, not leaf age: " +
      "a probe resolved before two quick commits survives on day-old leaves") {
    import graft.sources.{IndexFS, Snapshot}
    val tgt = tmp("snapretire")
    // defaults: keepLast=2, grace=10min — the production shape
    Sources.writeVersioned(Seq.tabulate(50)(i => (i.toLong, 1L))
      .toDF("k", "gen"), tgt)
    // age the live generation's leaf a DAY back: a grace window
    // anchored to leaf mtime would reap it the instant it falls out of
    // the kept manifests, even though it was dereferenced moments ago
    val dayAgo = System.currentTimeMillis() - 86400000L
    new java.io.File(s"$tgt/data").listFiles
      .filter(_.getName.startsWith("gsn="))
      .foreach(f => IndexFS.setMtime(f.getPath, dayAgo))
    val probe = Snapshot.require(tgt) // in-flight probe pins manifest 1
    // two quick maintenance commits (the append+compact cycle): with
    // keepLast=2 they push manifest 1 out of the kept window
    Sources.writeVersioned(Seq.tabulate(50)(i => (i.toLong, 2L))
      .toDF("k", "gen"), tgt)
    Sources.writeVersioned(Seq.tabulate(50)(i => (i.toLong, 3L))
      .toDF("k", "gen"), tgt)
    // the probe must complete against intact files: manifest 1's
    // retirement stamp is fresh, so its day-old leaf survives
    val got = probe.read(spark, "data").groupBy(col("gen"))
      .agg(count(lit(1)).as("n")).as[(Long, Long)].collect().toSet
    assert(got === Set((1L, 50L)), s"in-flight probe torn: $got")
    // the retirement stamp was written for the dereferenced manifest
    val markers = new java.io.File(s"$tgt/_SNAPSHOTS").listFiles
      .map(_.getName).filter(_.startsWith(".retired-")).toSeq
    assert(markers.nonEmpty, "no retirement stamp for the retired manifest")
  }

  test("snapshot GC retirement grace survives marker clock skew: a " +
      "backdated marker MTIME (object-store skew) must not void grace") {
    import graft.sources.{IndexFS, Snapshot}
    val tgt = tmp("snapskew")
    spark.conf.set("graft.snapshot.keepLast", "1")
    try {
      // two commits: manifest 1 falls out of the kept window and gets a
      // retirement stamp whose CONTENT is the writer-clock timestamp
      Sources.writeVersioned(Seq.tabulate(10)(i => (i.toLong, 1L))
        .toDF("k", "gen"), tgt)
      Sources.writeVersioned(Seq.tabulate(10)(i => (i.toLong, 2L))
        .toDF("k", "gen"), tgt)
      val mdir = new java.io.File(s"$tgt/_SNAPSHOTS")
      val marker = mdir.listFiles.map(_.getName)
        .find(_.startsWith(".retired-")).map(n => s"$tgt/_SNAPSHOTS/$n")
      assert(marker.nonEmpty, "no retirement stamp written")
      // skew: the store reports the fresh marker's mtime a day in the
      // past. An mtime-anchored grace would reap manifest 1 right now.
      IndexFS.setMtime(marker.get, System.currentTimeMillis() - 86400000L)
      IndexFS.withWriterLease(tgt) { Snapshot.gc(tgt) }
      val manifests = mdir.listFiles.map(_.getName)
        .filter(_.matches("m\\d+")).toSeq.sorted
      assert(manifests.size === 2,
        s"skewed marker mtime voided the retirement grace: $manifests")
      // content-based retirement still reclaims once genuinely aged:
      // rewrite the marker content to a day-old writer-clock stamp
      IndexFS.writeString(marker.get,
        (System.currentTimeMillis() - 86400000L).toString)
      IndexFS.withWriterLease(tgt) { Snapshot.gc(tgt) }
      assert(mdir.listFiles.map(_.getName).count(_.matches("m\\d+")) === 1,
        "aged retirement content was not reclaimed")
    } finally spark.conf.unset("graft.snapshot.keepLast")
  }

  test("snapshot GC cleans stale retirement markers: ids re-entering the " +
      "kept window un-retire, orphaned markers are removed") {
    import graft.sources.{IndexFS, Snapshot}
    val tgt = tmp("snapunretire")
    spark.conf.set("graft.snapshot.keepLast", "1")
    try {
      (1 to 3).foreach { g =>
        Sources.writeVersioned(Seq.tabulate(10)(i => (i.toLong, g.toLong))
          .toDF("k", "gen"), tgt)
      }
      val mdir = new java.io.File(s"$tgt/_SNAPSHOTS")
      assert(mdir.listFiles.map(_.getName).count(_.startsWith(".retired-")) > 0)
      // keepLast raised: previously-retired manifests are back in the
      // kept window; their stale markers must go, or a future genuine
      // retirement would inherit a backdated stamp and skip grace
      spark.conf.set("graft.snapshot.keepLast", "5")
      IndexFS.withWriterLease(tgt) { Snapshot.gc(tgt) }
      assert(mdir.listFiles.map(_.getName).count(_.startsWith(".retired-")) === 0,
        "stale markers survived re-entry into the kept window")
      // orphan: a marker whose manifest is gone (crash between manifest
      // delete and marker delete) is cleaned on the next pass
      IndexFS.writeString(s"$tgt/_SNAPSHOTS/.retired-m000000000099",
        System.currentTimeMillis().toString)
      IndexFS.withWriterLease(tgt) { Snapshot.gc(tgt) }
      assert(!IndexFS.exists(s"$tgt/_SNAPSHOTS/.retired-m000000000099"),
        "orphaned retirement marker not cleaned")
    } finally spark.conf.unset("graft.snapshot.keepLast")
  }

  test("owner fold skips physically-empty components instead of failing " +
      "the commit on schema inference") {
    import graft.sources.{IndexFS, Snapshot}
    val tgt = tmp("snapfoldempty")
    spark.conf.set("graft.snapshot.foldOwnerTuples", "4")
    try {
      // many txns claiming tuples for a component written from EMPTY
      // frames: directories exist, zero parquet files — over the fold
      // threshold, a fold read would throw schema inference errors
      (1 to 6).foreach { s =>
        Snapshot.transact(tgt) { txn =>
          val seg = f"seg$s%03d"
          val empty = Seq.empty[(Long, String)].toDF("v", "seg")
            .filter(lit(false))
          txn.writeParts(empty, "emptycomp", Seq("seg"), Seq(Seq(seg)))
          // an unrelated healthy component in the same layout — ITS
          // commit must not be poisoned by the empty one
          txn.writeFull(Seq((s.toLong, seg)).toDF("v", "seg"), "healthy")
        }
      }
      val snap = Snapshot.require(tgt)
      assert(snap.readOpt(spark, "emptycomp").isEmpty)
      assert(snap.read(spark, "healthy").count() === 1L)
    } finally spark.conf.unset("graft.snapshot.foldOwnerTuples")
  }

  test("owner fold bounds manifest growth: 50 append transactions stay " +
      "under a fixed manifest size with result-identical reads") {
    import graft.sources.{IndexFS, Snapshot}
    val tgt = tmp("snapfold")
    spark.conf.set("graft.snapshot.foldOwnerTuples", "64")
    spark.conf.set("graft.snapshot.keepLast", "1")
    spark.conf.set("graft.snapshot.graceMs", "0")
    try {
      // the LSM append shape: every txn claims a NEW (seg, b) tuple
      // set, so without folding the manifest grows O(txns × buckets)
      (1 to 50).foreach { s =>
        Snapshot.transact(tgt) { txn =>
          val seg = f"seg$s%03d"
          val rows = (0 until 8).map(b => (s.toLong * 10 + b, seg, b.toString))
          txn.writeParts(rows.toDF("v", "seg", "b"), "d", Seq("seg", "b"),
            (0 until 8).map(b => Seq(seg, b.toString)))
        }
      }
      val msize = new java.io.File(s"$tgt/_SNAPSHOTS").listFiles
        .filter(_.getName.matches("m\\d+")).map(_.length()).max
      // unfolded, 50 txns × 8 tuples × ~12 bytes ≈ 5+ KB of vals lines;
      // folded the manifest carries ≤ threshold live tuples + 1 owner
      assert(msize < 2500, s"manifest grew unbounded: $msize bytes")
      val snap = Snapshot.require(tgt)
      assert(snap.comps("d").owners.exists(_.include.isEmpty),
        "expected a folded exclude-form owner")
      // folds are invisible to readers: all 400 rows, exactly once
      val got = snap.read(spark, "d").select(col("v")).as[Long]
        .collect().sorted.toSeq
      assert(got === (1 to 50).flatMap(s => (0 until 8)
        .map(b => s.toLong * 10 + b)).sorted)
      // and a segment replay (dropPrefix) still supersedes its claim
      // even when the old claim was folded into an exclude-form owner
      Snapshot.transact(tgt) { txn =>
        txn.dropPrefix("d", Seq("seg007"))
        val rows = (0 until 8).map(b => (9000L + b, "seg007", b.toString))
        txn.writeParts(rows.toDF("v", "seg", "b"), "d", Seq("seg", "b"),
          (0 until 8).map(b => Seq("seg007", b.toString)))
      }
      val replayed = Snapshot.require(tgt).read(spark, "d")
        .filter(col("seg") === "seg007").select(col("v")).as[Long]
        .collect().sorted.toSeq
      assert(replayed === (0 until 8).map(b => 9000L + b),
        s"folded-owner replay left stale rows: $replayed")
    } finally {
      spark.conf.unset("graft.snapshot.foldOwnerTuples")
      spark.conf.unset("graft.snapshot.keepLast")
      spark.conf.unset("graft.snapshot.graceMs")
    }
  }

  test("crashed adoption windows stay readable and retryable; root files " +
      "age out through the grace period, never a synchronous delete") {
    import graft.sources.{IndexFS, Snapshot}
    val base = tmp("adoptcrash")
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").write.parquet(base)
    def rootFiles = IndexFS.listNames(base).filter(_.endsWith(".parquet"))
    assert(rootFiles.nonEmpty)
    // simulate a crash mid-adoption: a staged data/ generation exists
    // next to the root part-files with NO manifest — the exact window
    // where a directory glob fails partition discovery. Step 1 of the
    // commit is "data written, not published"
    case object Crash extends RuntimeException
    intercept[Crash.type] {
      Snapshot.transact(base, onStep = s => if (s == 1) throw Crash)(
        _.writeFull(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), "data"))
    }
    assert(IndexFS.listNames(s"$base/data").exists(_.startsWith("gsn=")),
      "no staged data/ leaf: the crash window was not reached")
    assert(!Snapshot.enabled(base))
    // the mixed directory is still readable through the library path
    assert(Sources.readVersioned(spark, base).count() === 2L)
    // ...and the adoption retry (any rewrite op) completes cleanly
    Sources.upsert(spark, base, Seq((3L, "c")).toDF("k", "v"), "k")
    assert(Sources.readVersioned(spark, base).orderBy(col("k"))
      .as[(Long, String)].collect().toSeq ===
      Seq((1L, "a"), (2L, "b"), (3L, "c")))
    // root part-files survive the commit (a plain reader that resolved
    // "no manifest" a moment earlier still has intact files)...
    assert(rootFiles.nonEmpty,
      "root part-files were deleted synchronously at adoption")
    assert(IndexFS.exists(s"$base/.adopted"))
    // ...and age out once the grace period passes
    IndexFS.setMtime(s"$base/.adopted",
      System.currentTimeMillis() - 86400000L)
    Sources.upsert(spark, base, Seq((4L, "d")).toDF("k", "v"), "k")
    assert(rootFiles.isEmpty, "aged root part-files were not reclaimed")
    // the plain write's bookkeeping ages out with its part-files — the
    // adopted directory converges to a clean manifest-only layout
    assert(!IndexFS.exists(s"$base/_SUCCESS"),
      "plain write's _SUCCESS lingered past the adoption grace")
    assert(Sources.readVersioned(spark, base).count() === 4L)
  }

  test("a stored probe resolves its snapshot ONCE: control-plane FS " +
      "calls are constant in the component count") {
    import graft.ops.Similarity
    import graft.sources.IndexFS
    val base = tmp("fscount")
    val emb = Tables.embeddings(spark, sf)
    Similarity.ivfpqBuildIndex(emb, base, 8).count()
    val queries = Similarity.heldQueries(emb, 2)
    Similarity.ivfpqScoreStored(spark, base, queries, 3, 2, 10).count() // warm
    val before = IndexFS.controlCalls.get()
    val probe = Similarity.ivfpqScoreStored(spark, base, queries, 3, 2, 10)
    val constructed = IndexFS.controlCalls.get() - before
    assert(probe.count() > 0)
    val total = IndexFS.controlCalls.get() - before
    // the serving core reads FIVE components (centroids, codebooks,
    // cells, codes, tombstones) off ONE resolution: one _SNAPSHOTS
    // listing + one manifest read, nothing per component, and
    // execution adds no control-plane calls
    assert(constructed <= 4,
      s"probe construction made $constructed control-plane FS calls")
    assert(total <= 6, s"probe end-to-end made $total control-plane FS calls")
  }

  test("compaction rewrites many small files into the target count") {
    val dir = tmp("compact")
    (1 to 8).foreach { i =>
      Seq((i.toLong, s"v$i")).toDF("k", "v").coalesce(1)
        .write.mode("append").parquet(dir)
    }
    def rootFiles = new java.io.File(dir).listFiles
      .count(f => f.getName.endsWith(".parquet"))
    assert(rootFiles === 8)
    spark.conf.set("graft.snapshot.keepLast", "1")
    spark.conf.set("graft.snapshot.graceMs", "0")
    try {
      val written = Sources.compact(spark, dir, rowsPerFile = 4L)
      assert(written === 2L)
      // the plain directory was adopted into the versioned layout: root
      // files cleared, live generation holds the compacted files
      assert(rootFiles === 0)
      val gen = new java.io.File(s"$dir/data").listFiles
        .filter(_.getName.startsWith("gsn=")) match {
          case Array(g) => g
          case other => fail(s"expected one generation: ${other.toSeq}")
        }
      assert(gen.listFiles.count(_.getName.endsWith(".parquet")) === 2)
      assert(Sources.readVersioned(spark, dir).count() === 8)
    } finally {
      spark.conf.unset("graft.snapshot.keepLast")
      spark.conf.unset("graft.snapshot.graceMs")
    }
  }

  test("bucketed tables join WITHOUT a shuffle (co-located join)") {
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    Sources.writeBucketed(Tables.orders(spark, sf), "b_orders", 8, "o_orderkey")
    Sources.writeBucketed(
      Tables.lineitem(spark, sf).select("l_orderkey", "l_quantity"),
      "b_lineitem", 8, "l_orderkey")
    // force sort-merge (broadcast would trivially avoid the shuffle) —
    // the property under test is bucket co-location
    val joined = spark.table("b_lineitem").hint("merge")
      .join(spark.table("b_orders"),
        col("l_orderkey") === col("o_orderkey"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n${plan.take(1500)}")
    assert(plan.contains("Bucketed: true"), s"expected bucketed scans:\n${plan.take(1500)}")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed join should not shuffle:\n${plan.take(2000)}")
    assert(joined.count() === Tables.lineitem(spark, sf).count())
  }

  test("embedding near-dup finds the planted high-cosine pair, none else above threshold") {
    val pairs = graft.ops.Similarity.nearDupPairs(Tables.embeddings(spark, sf), 0.5)
      .as[(Long, Long, Double)].collect()
    // every reported pair must genuinely exceed the threshold (exact check)
    pairs.foreach { case (_, _, s) => assert(s >= 0.5) }
    assert(pairs.length <= 3) // random 64-dim vectors: only planted pairs survive
  }

  test("progress listener observes stages/tasks/records during a job (O15)") {
    val (result, run) = RunMetrics.measure(spark.sparkContext) {
      Tables.lineitem(spark, sf).groupBy("l_returnflag").count().collect().length
    }
    val (stages, tasks, records) = (run.stages, run.tasks, run.recordsRead)
    assert(result > 0)
    assert(stages >= 1 && tasks >= 1 && records >= 6000,
      s"stages=$stages tasks=$tasks records=$records")
  }

  test("PERMISSIVE read isolates corrupt records instead of failing (O17 read path)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-corrupt")
    java.nio.file.Files.writeString(dir.resolve("data.json"),
      """{"id": 1, "v": "ok"}
        |this is not json at all
        |{"id": 3, "v": "also ok"}
        |""".stripMargin)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "id LONG, v STRING, _corrupt_record STRING")
    val df = spark.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(dir.toString)
      .cache() // Spark disallows querying only the corrupt column from raw files
    val rows = df.collect()
    assert(rows.length === 3)
    assert(df.filter(col("_corrupt_record").isNotNull).count() === 1)
    assert(df.filter(col("id").isNotNull).count() === 2)
  }

  test("z-ordered layout gives per-file bounding boxes that prune BOTH dims") {
    // write the same table twice: z-ordered on (l_partkey, l_suppkey)
    // vs linearly sorted on l_partkey only; compare how many files a
    // single-value l_suppkey predicate could touch, using the same
    // min/max file statistics parquet pruning uses
    val li = Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity")
    val nFiles = 8
    val zPath = tmp("zorder")
    val linPath = tmp("linear")
    Sources.writeZOrdered(li, zPath, nFiles, "l_partkey", "l_suppkey")
    li.repartitionByRange(nFiles, col("l_partkey"))
      .sortWithinPartitions(col("l_partkey"))
      .write.mode("overwrite").parquet(linPath)

    def fileBoxes(path: String): Seq[(Long, Long, Long, Long)] = {
      val files = new java.io.File(path).listFiles()
        .filter(f => f.getName.endsWith(".parquet")).map(_.getPath).toSeq
      files.map { f =>
        spark.read.parquet(f)
          .agg(min("l_partkey"), max("l_partkey"),
               min("l_suppkey"), max("l_suppkey"))
          .as[(Long, Long, Long, Long)].head()
      }
    }
    val zBoxes = fileBoxes(zPath)
    val linBoxes = fileBoxes(linPath)
    assert(zBoxes.size === nFiles)

    def touching(boxes: Seq[(Long, Long, Long, Long)], sk: Long): Int =
      boxes.count { case (_, _, lo, hi) => sk >= lo && sk <= hi }

    val skProbe = 9L // high suppkey: z-order confines it to the upper boxes
    val zTouch = touching(zBoxes, skProbe)
    val linTouch = touching(linBoxes, skProbe)
    // the partkey-sorted layout spreads every suppkey across every file
    assert(linTouch === nFiles, s"linear layout expected no suppkey locality, got $linTouch")
    // the z-ordered layout must actually prune on the SECOND dimension
    assert(zTouch < nFiles, s"z-order did not prune suppkey=$skProbe: $zBoxes")
    // and still prunes on the first dimension (tight partkey boxes)
    val pkTouch = zBoxes.count { case (lo, hi, _, _) => 100L >= lo && 100L <= hi }
    assert(pkTouch < nFiles, s"z-order did not prune l_partkey=100: $zBoxes")
  }

  test("mapGroupsWithState keeps running per-user totals across micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StreamingOps.UserEvent]
    val q = StreamingOps.runningUserTotals(input.toDS())
      .writeStream.outputMode("update")
      .format("memory").queryName("user_totals").start()
    try {
      input.addData(StreamingOps.UserEvent(1L, 1L, 10.0), StreamingOps.UserEvent(2L, 2L, 5.0))
      q.processAllAvailable()
      input.addData(StreamingOps.UserEvent(1L, 3L, 2.5))
      q.processAllAvailable()
      // last update per user wins: user 1 must show state carried over both batches
      val rows = spark.table("user_totals")
        .groupBy("user_id").agg(max("n_events").as("n"), max("total").as("total"))
        .as[(Long, Long, Double)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      assert(rows(1L) === ((2L, 12.5)))
      assert(rows(2L) === ((1L, 5.0)))
    } finally q.stop()
  }

  test("stored filtered search: probe equals the inline filtered plan; " +
       "unlabeled appends store null labels and never match predicates") {
    import graft.ops.Similarity
    val emb = Tables.embeddings(spark, sf)
    val base = tmp("ivfpqfilt")
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))
    val inline = Similarity.ivfFilteredTopK(emb, 4, 5).collect().map(key).toSeq
    val stored =
      Similarity.ivfpqFilteredStored(emb, base, 4, 5).collect().map(key).toSeq
    assert(stored === inline)
    // the metadata column rides in the cell-partitioned layout
    def cellsNow = graft.sources.Snapshot.require(base).read(spark, "cells")
    assert(cellsNow.columns.contains("label"))
    // an append WITHOUT a label column stores nulls...
    val batch = emb.filter(col("vec_id") < 3)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
    Similarity.ivfpqAppend(batch, base)
    val appended = cellsNow.filter(col("vec_id") >= 1000000L)
    assert(appended.count() === 3)
    assert(appended.filter(col("label").isNull).count() === 3)
    // ...and null never satisfies the predicate: the appended rows are
    // exact clones of the first queries (cosine 1.0 — they would top
    // every list if the filter let them through)
    val after = Similarity.ivfpqFilteredStored(emb, base, 4, 5).collect()
    assert(after.nonEmpty)
    after.foreach(r => assert(r.getLong(1) < 1000000L,
      s"unlabeled appended vector ${r.getLong(1)} passed the filter"))
  }

  test("stored near-dup index: probe equals the inline incremental plan " +
       "from persisted bands and shingle sets") {
    import graft.ops.{Dedup, Text}
    val docs = Tables.documents(spark, sf)
    val split = Text.trainValSplit(docs).select(col("doc_id"), col("split"))
    val ws = docs.join(split, Seq("doc_id"))
    val batch = ws.filter(col("split") =!= "train")
    val hist = ws.filter(col("split") === "train")
    val base = tmp("neardupidx")
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4))
    val inline = Dedup.incrementalNearDup(batch, hist).collect().map(key).toSeq
    val census = Dedup.dedupBuildIndex(hist, base)
    assert(census.count() === Dedup.numBands.toLong)
    val stored = Dedup.incrementalNearDupStored(batch, hist, base)
      .collect().map(key).toSeq
    assert(stored === inline)
    Seq("bands", "shingles", "sizes", "MARKER").foreach { p =>
      assert(new java.io.File(base, p).exists(), s"missing $p")
    }
  }

  test("stored phrase search: probe equals inline; appends and tombstones " +
       "maintain the positional layout") {
    import graft.ops.Text
    val docs = Seq(
      (1L, "a b batch batch batch batch z", "en", "s", 0L),
      (2L, "batch batch x batch batch batch", "en", "s", 0L),
      (3L, "order fast y order fast", "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val base = tmp("posidx")
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    val inline = Text.phraseSearch(docs).collect().map(key).toSeq
    assert(inline.nonEmpty)
    assert(Text.phraseSearchStored(docs, base).collect().map(key).toSeq
      === inline)
    // append: the new doc's phrase hits surface from its delta
    // segment — equal to retokenizing the unioned corpus inline
    val batch = Seq((9L, "window join q window join", "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    Text.bm25Append(batch, base)
    val merged = docs.unionByName(batch)
    assert(Text.phraseSearchStored(docs, base).collect().map(key).toSeq
      === Text.phraseSearch(merged).collect().map(key).toSeq)
    // a second disjoint batch ACCUMULATES as its own segment (the
    // first batch's postings must survive)
    val batch2 = Seq((8L, "table scan merge z", "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    Text.bm25Append(batch2, base)
    val merged2 = merged.unionByName(batch2)
    assert(Text.phraseSearchStored(docs, base).collect().map(key).toSeq
      === Text.phraseSearch(merged2).collect().map(key).toSeq)
    // RE-appending a doc with new text scrubs its postings from the
    // older segment — the old phrase match must vanish
    val batch3 = Seq((9L, "order fast w", "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    Text.bm25Append(batch3, base)
    val merged3 = docs.unionByName(batch2).unionByName(batch3)
    val after3 = Text.phraseSearchStored(docs, base).collect().map(key).toSeq
    assert(after3 === Text.phraseSearch(merged3).collect().map(key).toSeq)
    assert(!after3.exists(r => r._1 == 1L && r._2 == 9L),
      "stale postings from the re-appended doc's old segment survived")
    // tombstone: the deleted doc drops out of phrase matching with no
    // layout rewrite (same serving semantics as the BM25 probe)
    Text.bm25Delete(Seq(1L).toDF("doc_id"), base)
    val afterDel = Text.phraseSearchStored(docs, base).collect().map(key).toSeq
    assert(afterDel.forall(_._2 != 1L), "tombstoned doc still matched")
    assert(afterDel ===
      Text.phraseSearch(merged3.filter(col("doc_id") =!= 1L))
        .collect().map(key).toSeq)
  }

  test("compacting away an entire delta generation leaves a servable layout") {
    // tombstone EVERY doc of the only delta segment, compact: the
    // (seg, bucket) partitions all empty out, so the scrub must remove
    // the delta root itself — a parquet directory holding only empty
    // partition dirs cannot infer a schema and would crash serving
    import graft.ops.Text
    import graft.sources.Snapshot
    val docs = Tables.documents(spark, sf)
    val base = tmp("wipe")
    // fixture-size-independent split: every 10th doc is the batch
    Text.bm25BuildIndex(docs.filter(col("doc_id") % 10 =!= 7), base).count()
    val batch = docs.filter(col("doc_id") % 10 === 7)
    assert(!batch.isEmpty)
    Text.bm25Append(batch, base)
    assert(Snapshot.require(base).has("tf_delta"))
    Text.bm25Delete(batch.select(col("doc_id")), base)
    Text.bm25Compact(spark, base)
    // under the snapshot manifest "the delta is gone" is an ownership
    // fact, not a directory fact: the emptied segments lose every
    // owner, so the component drops out of the manifest (dead leaves
    // are GC'd later)
    assert(!Snapshot.require(base).has("tf_delta"),
      "emptied delta survived compaction in the manifest")
    assert(!Snapshot.require(base).has("pos_delta"))
    // serving equals the inline ranking over the surviving corpus
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))
    assert(Text.bm25ScoreStored(spark, base, 5).collect().map(key).toSeq
      === Text.bm25TopK(docs.filter(col("doc_id") % 10 =!= 7), 5)
        .collect().map(key).toSeq)
    // an EMPTY append is a no-op
    Text.bm25Append(docs.filter(col("doc_id") < 0), base)
    assert(!Snapshot.require(base).has("tf_delta"))
  }

  test("stored-index control plane runs through a file:-scheme Hadoop FileSystem") {
    // the 100 TB deployability claim: markers/tombstones/segment
    // discovery go through org.apache.hadoop.fs.FileSystem, so a base
    // with an explicit URI scheme behaves identically to a bare local
    // path (and hdfs://-style bases take the same code path)
    import graft.ops.Text
    import graft.sources.IndexFS
    val docs = Tables.documents(spark, sf)
    val plain = tmp("lmfsplain")
    val uri = "file:" + tmp("lmfsuri")
    Text.lmBuildIndex(docs, plain).count()
    Text.lmBuildIndex(docs, uri).count()
    assert(IndexFS.exists(s"$uri/MARKER"), "marker missing behind file: scheme")
    assert(IndexFS.readStringOpt(s"$uri/MARKER")
      === IndexFS.readStringOpt(s"$plain/MARKER"))
    def key(r: org.apache.spark.sql.Row) =
      r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))
    assert(Text.lmScoreStored(docs, uri).collect().map(key).toMap
      === Text.lmScoreStored(docs, plain).collect().map(key).toMap)
    // maintenance (delta segments + discovery) works behind the scheme
    Text.lmAppend(docs.filter(col("doc_id") % 4 === 1), uri)
    assert(IndexFS.isDirectory(s"$uri/bi_delta"))
    assert(Text.lmScoreStored(docs, uri).collect().map(key).toMap
      === lmExpected(docs,
        col("doc_id") % 2 === 0 || col("doc_id") % 4 === 1))
  }

  test("writer lease: a second writer fails loudly; stale leases are reclaimed") {
    import graft.ops.Text
    import graft.sources.IndexFS
    val docs = Tables.documents(spark, sf)
    val base = tmp("lease")
    Text.bm25BuildIndex(docs, base).count()
    // a live foreign lease blocks maintenance INSTEAD of corrupting
    // the layout (single-writer contract, enforced not assumed)
    IndexFS.writeString(s"$base/_WRITER_LEASE", "pid=foreign")
    intercept[IllegalStateException] {
      Text.bm25Delete(docs.filter(col("doc_id") % 7 === 3)
        .select(col("doc_id")), base)
    }
    // a SIGKILLed writer's lease (this host, provably dead pid) is
    // reclaimed immediately — no one-hour red window for the next run
    IndexFS.writeString(s"$base/_WRITER_LEASE",
      s"pid=999999999 host=${java.net.InetAddress.getLocalHost.getHostName}")
    Text.bm25Delete(docs.filter(col("doc_id") % 7 === 3)
      .select(col("doc_id")), base)
    assert(!IndexFS.exists(s"$base/_WRITER_LEASE"))
    // ...and by age for cross-host leases (staleMs = -1 treats any
    // lease as expired)
    IndexFS.writeString(s"$base/_WRITER_LEASE", "pid=1 host=elsewhere")
    IndexFS.withWriterLease(base, staleMs = -1L) {
      // re-entrant within the holder: nested maintenance on the same
      // layout runs under the outer lease instead of deadlocking
      Text.bm25Delete(docs.filter(col("doc_id") % 7 === 3)
        .select(col("doc_id")), base)
    }
    assert(!IndexFS.exists(s"$base/_WRITER_LEASE"),
      "lease not released after the holder finished")
    // and the layout is healthy: probe serves around the tombstones
    assert(Text.bm25ProbeStored(docs, base, 5).count() > 0)
  }

  test("layout _VERSION contract: a foreign version fails loudly, never silently rebuilds") {
    import graft.ops.{Dedup, Similarity, Text}
    import graft.sources.{IndexFS, StoredLayout}
    val docs = Tables.documents(spark, sf)
    val emb = Tables.embeddings(spark, sf)
    val split = Text.trainValSplit(docs).select(col("doc_id"), col("split"))
    val ws = docs.join(split, Seq("doc_id"))
    val hist = ws.filter(col("split") === "train")
    val batch = ws.filter(col("split") =!= "train")
    val hybridLex = tmp("versioned-hybrid-bm25")
    // every stored family: (kind, base, probe — lazily building the
    // layout when it is absent or stale)
    def family(kind: String)(probe: String => Long) = {
      val base = tmp(s"versioned-$kind")
      (kind, base, () => probe(base))
    }
    val families = Seq(
      family("bm25")(b => Text.bm25ProbeStored(docs, b, 5).count()),
      family("lm")(b => Text.lmScoreStored(docs, b).count()),
      family("ivfpq")(b => Similarity.ivfpqProbeStored(emb, b, 4, 5).count()),
      family("dedup")(b => Dedup.incrementalNearDupStored(batch, hist, b).count()),
      family("ann")(b => Text.hybridStored(docs, hybridLex, b).count()))
    families.foreach { case (kind, base, probe) =>
      assert(probe() > 0, s"$kind: cold probe")
      assert(IndexFS.readStringOpt(s"$base/_VERSION")
        .exists(_.startsWith(s"graft-layout kind=$kind v=")), kind)
      val markerBefore = IndexFS.readStringOpt(s"$base/MARKER")
      // a layout stamped by a FUTURE library version must not be misread
      // or clobbered by this reader's lazy rebuild — loud failure only
      IndexFS.writeString(s"$base/_VERSION", s"graft-layout kind=$kind v=99")
      val ex = intercept[IllegalStateException](probe())
      assert(ex.getMessage.contains("layout-version mismatch"), kind)
      assert(IndexFS.readStringOpt(s"$base/MARKER") === markerBefore,
        s"$kind: mismatch handling touched the layout (clobber risk)")
      // wrong KIND at the same version is the same loud failure
      val foreign = if (kind == "ivfpq") "bm25" else "ivfpq"
      IndexFS.writeString(s"$base/_VERSION", s"graft-layout kind=$foreign v=1")
      intercept[IllegalStateException](probe())
      // matching version serves; absent _VERSION (pre-contract layout)
      // is accepted and governed by the freshness marker alone
      StoredLayout.stampVersion(base, kind)
      assert(probe() > 0, s"$kind: restamped layout")
      IndexFS.deleteRecursive(s"$base/_VERSION")
      assert(probe() > 0, s"$kind: pre-contract layout")
    }
  }

  test("lease heartbeat: a slow-but-alive writer outliving staleMs is NOT broken") {
    import graft.sources.IndexFS
    val base = tmp("heartbeat")
    val holderDone = new java.util.concurrent.CountDownLatch(1)
    val holderEntered = new java.util.concurrent.CountDownLatch(1)
    @volatile var holderFailed: Option[Throwable] = None
    val holder = new Thread(() => {
      try IndexFS.withWriterLease(base, staleMs = 400L, heartbeatMs = 50L) {
        holderEntered.countDown()
        // outlive staleMs by >2x: without heartbeats the contender
        // below would age-break this lease mid-flight
        Thread.sleep(1200L)
      } catch { case t: Throwable => holderFailed = Some(t) }
      finally holderDone.countDown()
    })
    holder.start()
    assert(holderEntered.await(5, java.util.concurrent.TimeUnit.SECONDS))
    Thread.sleep(800L) // well past staleMs since acquisition
    // contender sees a lease older than its own staleMs ONLY if the
    // heartbeat stopped; a live writer's beats keep the age fresh, so
    // the contender must fail loudly instead of stealing the lease
    intercept[IllegalStateException] {
      IndexFS.withWriterLease(base, staleMs = 400L) { fail("lease stolen from a live writer") }
    }
    assert(holderDone.await(5, java.util.concurrent.TimeUnit.SECONDS))
    assert(holderFailed.isEmpty, s"holder failed: $holderFailed")
    assert(!IndexFS.exists(s"$base/_WRITER_LEASE"),
      "lease not released after the slow holder finished")
    // after release the layout is immediately acquirable
    IndexFS.withWriterLease(base, staleMs = 400L) { () }
  }

  test("rebuild yields a single-generation layout: stale deltas do not survive") {
    import graft.ops.Text
    import graft.sources.Snapshot
    val docs = Tables.documents(spark, sf)
    val base = tmp("lmrebuild")
    Text.lmBuildIndex(docs, base).count()
    Text.lmAppend(docs.filter(col("doc_id") % 4 === 1), base)
    Text.lmDelete(docs.filter(col("doc_id") % 8 === 2), base)
    assert(Snapshot.require(base).has("bi_delta"))
    // the corpus changes under the same base → rebuild; generations
    // from the OLD corpus must not be served alongside the new base
    // (counts would skew) nor block appends (burned-id records)
    val subset = docs.filter(col("doc_id") % 3 =!= 0)
    Text.lmBuildIndex(subset, base).count()
    Seq("bi_delta", "uni_delta", "docs_delta", "docs_removed").foreach(d =>
      assert(!Snapshot.require(base).has(d), s"stale $d survived rebuild"))
    def key(r: org.apache.spark.sql.Row) =
      r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))
    assert(Text.lmScoreStored(subset, base).collect().map(key).toMap
      === lmExpected(subset, col("doc_id") % 2 === 0))
    // an id the stale docs_delta would have blocked appends cleanly
    Text.lmAppend(subset.filter(col("doc_id") % 4 === 1), base)
    assert(Text.lmScoreStored(subset, base).collect().map(key).toMap
      === lmExpected(subset,
        col("doc_id") % 2 === 0 || col("doc_id") % 4 === 1))
  }

  test("lmCompact is crash-safe: replays never double-fold the count tables") {
    import graft.ops.Text
    val docs = Tables.documents(spark, sf)
    def key(r: org.apache.spark.sql.Row) =
      r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))
    val expected = lmExpected(docs,
      (col("doc_id") % 2 === 0 || col("doc_id") % 4 === 1) &&
        col("doc_id") % 8 =!= 2)
    case class Crash(step: Int) extends RuntimeException
    for (crashAt <- Seq(1, 2)) {
      val base = tmp(s"lmcrash$crashAt")
      Text.lmBuildIndex(docs, base).count()
      Text.lmAppend(docs.filter(col("doc_id") % 4 === 1), base)
      Text.lmDelete(docs.filter(col("doc_id") % 8 === 2), base)
      // crash at step 1 (fold staged, manifest not published): the
      // generations are still live in the old manifest, so the replay
      // refolds from them; at step 2 (manifest published): the deltas
      // are gone from the manifest, so the replay is a clean no-op —
      // either way the fold applies EXACTLY once (count folds are not
      // idempotent)
      intercept[Crash] {
        Text.lmCompact(spark, base,
          onStep = s => if (s == crashAt) throw Crash(s))
      }
      Text.lmCompact(spark, base) // the replay
      assert(Text.lmScoreStored(docs, base).collect().map(key).toMap
        === expected, s"replay after crash-at-step-$crashAt corrupted counts")
      // and the served layout is single-generation again
      Seq("bi_delta", "uni_delta", "docs_delta", "docs_removed")
        .foreach(d => assert(
          !graft.sources.Snapshot.require(base).has(d),
          s"$d survived the replayed compaction"))
      // re-running after success stays a no-op
      Text.lmCompact(spark, base)
      assert(Text.lmScoreStored(docs, base).collect().map(key).toMap
        === expected)
    }
  }

  test("shared dedup base: admit replay and stored probe are order-independent") {
    import graft.ops.{Dedup, Text}
    // the dedup twin of the shared IVFADC mod-5 base: dedup_index_build,
    // dedup_incr_stored, and dedup_admit all serve ONE train-split
    // layout. The admission replay MUTATES it (delta segments), so the
    // stored probe must restore pristine before serving — in either
    // order, every slot's result must equal its solo run.
    val docs = Tables.documents(spark, sf).limit(300).localCheckpoint()
    val split = Text.trainValSplit(docs).select(col("doc_id"), col("split"))
    val withSplit = docs.join(split, Seq("doc_id")).localCheckpoint()
    val train = withSplit.filter(col("split") === "train")
    val batch = withSplit.filter(col("split") =!= "train")
      .select(col("doc_id"), col("text"))
    def key(r: org.apache.spark.sql.Row) = r.getLong(0) -> r.toSeq.tail

    // order A: build → probe → admit replay → probe again
    val baseA = tmp("dedupshareA")
    val censusA = Dedup.dedupBuildIndex(train, baseA).collect().map(key)
    val probeA1 = Dedup.incrementalNearDupStored(batch, train, baseA)
      .collect().map(key)
    val admitA = Scenarios.dedupAdmitProbe(docs, baseA).collect().map(key)
    // the replay left delta segments; the stored probe must not see them
    val probeA2 = Dedup.incrementalNearDupStored(batch, train, baseA)
      .collect().map(key)
    assert(probeA2 === probeA1,
      "stored probe changed after the admission replay mutated the shared base")

    // order B: admit replay FIRST (cold — its pristine restore builds the
    // train index and primes the cache), then the stored probe
    val baseB = tmp("dedupshareB")
    val admitB = Scenarios.dedupAdmitProbe(docs, baseB).collect().map(key)
    val probeB = Dedup.incrementalNearDupStored(batch, train, baseB)
      .collect().map(key)
    assert(admitB === admitA, "admit replay depends on slot order")
    assert(probeB === probeA1, "stored probe depends on slot order")

    // and a rebuild on the mutated base serves the same census (the
    // build drops delta segments atomically)
    val censusB = Dedup.dedupBuildIndex(train, baseB).collect().map(key)
    assert(censusB === censusA, "rebuild census depends on slot order")
  }

  test("iterative ops checkpoint reliably in reliable mode (the cluster path)") {
    import graft.ops.Graph
    val edges = Seq((1L, 2L), (2L, 3L), (4L, 5L), (6L, 6L), (5L, 7L),
      (8L, 9L), (9L, 10L), (10L, 8L)).toDF("src", "dst")
    def runCc() = Graph.connectedComponents(edges).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val withoutDir = runCc()
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    // a LOCAL master auto-selects one-pass DISK_ONLY local checkpoints
    // (reliability to the same local disk buys nothing); `reliable`
    // pins the non-local branch so its durability contract stays
    // testable from a local suite
    spark.conf.set("graft.checkpoint.mode", "reliable")
    try {
      val withDir = runCc()
      // result-identical: the checkpoint mode changes fault tolerance,
      // never the fixpoint
      assert(withDir === withoutDir)
      // and the rounds genuinely landed on the checkpoint filesystem
      // (an executor loss replays at most one round, not the loop)
      def anyRddDir(f: java.io.File): Boolean =
        f.isDirectory && (f.getName.startsWith("rdd-") ||
          Option(f.listFiles).toSeq.flatten.exists(anyRddDir))
      assert(anyRddDir(new java.io.File(dir)),
        "no reliable checkpoint written despite reliable mode")
      // the mode is auto or reliable; anything else (a typo, or the
      // retired disk/memdisk values) fails loudly instead of running
      // as auto
      Seq("disk", "memdisk", "relaible").foreach { bad =>
        spark.conf.set("graft.checkpoint.mode", bad)
        val ex = intercept[IllegalArgumentException](runCc())
        assert(ex.getMessage.contains(s"graft.checkpoint.mode=$bad"))
      }
    } finally {
      spark.conf.unset("graft.checkpoint.mode")
      spark.sparkContext.setCheckpointDir(null)
    }
  }

  test("local-master auto checkpoint mode: one-pass local blocks, result-identical") {
    import graft.ops.Graph
    val edges = Seq((1L, 2L), (2L, 3L), (4L, 5L), (6L, 6L), (5L, 7L),
      (8L, 9L), (9L, 10L), (10L, 8L)).toDF("src", "dst")
    def runCc() = Graph.connectedComponents(edges).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val reference = runCc()
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt-auto").toString
    spark.sparkContext.setCheckpointDir(dir)
    try {
      // auto on a local master: the loop must NOT route through the
      // checkpoint directory — a reliable checkpoint to the same local
      // disk executes every round's subtree twice for zero added
      // durability (round-12 optimization; the bench session always
      // configures a dir, so this branch is exactly what it measures)
      assert(runCc() === reference)
      def anyRddDir(f: java.io.File): Boolean =
        f.isDirectory && (f.getName.startsWith("rdd-") ||
          Option(f.listFiles).toSeq.flatten.exists(anyRddDir))
      assert(!anyRddDir(new java.io.File(dir)),
        "local-master auto mode paid a reliable checkpoint to local disk")
    } finally spark.sparkContext.setCheckpointDir(null)
  }

  test("stored-index maintenance checkpoints durably when a checkpoint dir is configured") {
    import graft.ops.Text
    val docs = Tables.documents(spark, sf)
    val base = tmp("maintckpt")
    Text.bm25BuildIndex(docs.filter(col("doc_id") % 2 === 0), base).count()
    val dir = java.nio.file.Files.createTempDirectory("graft-maint-ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    spark.conf.set("graft.checkpoint.mode", "reliable") // the cluster branch
    try {
      // an append under a configured checkpoint dir: its merge
      // materializations must land on the checkpoint FILESYSTEM, so a
      // lost executor replays from durable storage instead of failing
      // the nightly maintenance job
      Text.bm25Append(docs.filter(col("doc_id") % 2 === 1), base)
      def anyRddDir(f: java.io.File): Boolean =
        f.isDirectory && (f.getName.startsWith("rdd-") ||
          Option(f.listFiles).toSeq.flatten.exists(anyRddDir))
      assert(anyRddDir(new java.io.File(dir)),
        "maintenance bypassed the configured checkpoint dir (executor-local blocks)")
      // and the maintained layout still serves the full corpus
      val probed = Text.bm25ProbeStored(docs, base, 5)
      assert(probed.count() > 0)
    } finally {
      spark.conf.unset("graft.checkpoint.mode")
      spark.sparkContext.setCheckpointDir(null)
    }
  }

  test("hardlink restore: mutating the restored layout never touches the pristine cache") {
    import graft.sources.IndexFS
    val base = tmp("hardlink-restore")
    val cache = s"${base}_pristine"
    IndexFS.withWriterLease(base) {
      IndexFS.mkdirs(base)
      graft.sources.Snapshot.transact(base)(
        _.writeFull(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), "data"))
      IndexFS.writeString(s"$base/MARKER", "hl-test v1")
      graft.sources.StoredLayout.snapshotPristine(base)
    }
    def parquetFiles(dir: String): Seq[java.io.File] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk)
        else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
      walk(new java.io.File(dir))
    }
    val cached = parquetFiles(cache).map(f =>
      f.getName -> java.nio.file.Files.readAllBytes(f.toPath).toSeq).toMap
    assert(cached.nonEmpty)
    // restore (hardlinks the parquet), then MUTATE the restored base:
    // overwrite the control file in place, delete a parquet part —
    // the exact mutation classes a maintenance writer performs
    IndexFS.withWriterLease(base) {
      graft.sources.StoredLayout.wipeLayout(base)
      IndexFS.copyLayout(cache, base)
    }
    IndexFS.writeString(s"$base/MARKER", "hl-test v1 MUTATED after restore")
    parquetFiles(base).foreach(f => assert(f.delete()))
    // the pristine cache must be byte-identical to before the mutation
    val after = parquetFiles(cache).map(f =>
      f.getName -> java.nio.file.Files.readAllBytes(f.toPath).toSeq).toMap
    assert(after === cached, "pristine cache changed under base mutation")
    assert(IndexFS.readStringOpt(s"$cache/MARKER").contains("hl-test v1"),
      "pristine MARKER changed under base mutation")
  }

  test("Par.run: a failing thunk cancels its slow sibling's job and " +
      "joins it before rethrowing") {
    import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
    import java.util.concurrent.atomic.AtomicBoolean
    import org.apache.spark.TaskContext
    import org.apache.spark.scheduler.{JobSucceeded, SparkListener,
      SparkListenerJobEnd, SparkListenerJobStart}
    import graft.sources.Par
    val sc = spark.sparkContext
    val slowJobs = ConcurrentHashMap.newKeySet[Int]()
    val jobEnds = new ConcurrentHashMap[Int, SparkListenerJobEnd]()
    val slowRunning = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).flatMap(p =>
            Option(p.getProperty("spark.job.description"))).contains("slow-sibling")) {
          slowJobs.add(j.jobId)
          slowRunning.countDown()
        }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = {
        jobEnds.put(j.jobId, j); ()
      }
    }
    val landed = new AtomicBoolean(false)
    // the slow sibling: one 30 s job (its tasks stop early once killed),
    // then a side effect that must never land once its job is cancelled
    val slow: () => Long = () => {
      sc.setJobDescription("slow-sibling")
      val n = sc.parallelize(1 to 4, 4).map { x =>
        val t0 = System.nanoTime()
        while (!TaskContext.get().isInterrupted() &&
            System.nanoTime() - t0 < 30000000000L) Thread.sleep(20)
        x
      }.count()
      landed.set(true)
      n
    }
    // the failing thunk throws once the sibling's job is running
    val failing: () => Long = () => {
      slowRunning.await(60, TimeUnit.SECONDS)
      throw new IllegalStateException("sibling failed")
    }
    sc.addSparkListener(listener)
    try {
      val t0 = System.nanoTime()
      // the slow thunk comes FIRST: an in-order join would sit behind it
      val ex = intercept[IllegalStateException] {
        Par.run(spark)(Seq(slow, failing))
      }
      val returnedAt = System.currentTimeMillis()
      assert(ex.getMessage === "sibling failed")
      assert(System.nanoTime() - t0 < 20000000000L,
        "run waited for the slow sibling instead of cancelling it")
      val deadline = System.currentTimeMillis() + 30000L
      while (System.currentTimeMillis() < deadline &&
          (slowJobs.isEmpty || !slowJobs.stream().allMatch(jobEnds.containsKey(_))))
        Thread.sleep(50) // the listener bus is asynchronous
      assert(!slowJobs.isEmpty, "the slow sibling's job never started")
      slowJobs.forEach { id =>
        val end = jobEnds.get(id)
        assert(end != null, s"slow job $id never ended")
        assert(end.jobResult != JobSucceeded, s"slow job $id ran to completion")
        assert(end.time <= returnedAt,
          s"slow job $id was still running when run returned")
      }
      Thread.sleep(500)
      assert(!landed.get(), "the cancelled sibling's side effect landed")
    } finally sc.removeSparkListener(listener)
  }

  test("Par.run: a failing ivfpqBuildIndex training chain cancels and " +
      "joins its sibling before the build throws") {
    import graft.ops.{Similarity, Text}
    val sc = spark.sparkContext
    val emb = Tables.embeddings(spark, sf)
    // a vector only the unit→codebook chain reads: outside the k-means
    // training sample and past the nlist seed ids
    val poisonId = emb.filter(col("vec_id") >= 16 &&
        Text.tokenHash(col("vec_id").cast("string")) % 100 >= Similarity.trainPct)
      .agg(min(col("vec_id"))).head().getLong(0)
    val poison = udf { (id: Long, e: Seq[Float]) =>
      if (id == poisonId) throw new IllegalStateException("poisoned vector")
      e
    }
    val poisoned = emb.withColumn("embedding",
      poison(col("vec_id"), col("embedding")))
    val (returnedAt, run) = RunMetrics.measure(sc) {
      intercept[Exception] {
        Similarity.ivfpqBuildIndex(poisoned, tmp("parbuild"), 16)
      }
      System.currentTimeMillis()
    }
    assert(run.jobs.nonEmpty)
    run.jobs.foreach { j =>
      assert(j.endMs.nonEmpty, s"build job ${j.id} never ended")
      assert(j.endMs.get <= returnedAt,
        s"build job ${j.id} was still running when the build threw")
    }
  }
}
