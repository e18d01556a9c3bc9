package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Weak-scaling evidence for the stored-index design claims: duplicate
  * the sf0.1 corpus ×K with rewritten ids, build the BM25 and IVFADC
  * indexes at ×1 and ×K, and MEASURE (a) build wall-clock growth —
  * the banded/bucketed builds claim ~linear scaling, (b) probe
  * bytes-read as a fraction of the index — the bucket/cell-pruned
  * probes claim a corpus-size-independent FRACTION (the partition
  * layout, not the optimizer's mood, bounds probe I/O), and (c) probe
  * result correctness at the enlarged scale (rows served, top ranks
  * stable under duplication). Run:
  * `sbt "runMain graft.WeakScale [sfDir] [K]"`; one JSON line per
  * measurement plus a PASS/FAIL summary — committed numbers live in
  * BENCH_NOTES.md.
  */
object WeakScale {

  /** The harness's settings on top of [[GraftSession.harness]]. */
  private[graft] val overrides: Map[String, String] = Map(
    // the probe checks read the pushed cell/bucket IN-lists from plan
    // text: keep scan metadata untruncated (Spark's default cuts it at
    // 100 characters)
    "spark.sql.maxMetadataStringLength" -> "4096",
    // RELIABLE maintenance checkpoints for THIS harness only: the
    // byte gates are statements about LAYOUT file I/O, measured via
    // task inputMetrics — which also counts every block-manager
    // re-read of a persisted intermediate. Under the round-12
    // default (DISK_ONLY localCheckpoint on local masters) a
    // maintenance op's own bounded intermediates re-read per
    // consumer as UNCOMPRESSED rows and inflated "bytes read" ~8×
    // against budgets stated in parquet bytes (bm25 compact ×8 read
    // 127 MB by the counter vs 6.8 MB actually scanned from files),
    // with ZERO change in layout I/O: the scan sets and plans are
    // identical in both modes (reliable-checkpoint file reads never
    // landed in inputMetrics either, which is what the r11-committed
    // numbers were measured under). Pinning reliable mode here keeps
    // the instrument's semantics (and cross-round comparability)
    // while the shipped default stays DISK_ONLY for the bench and
    // production local runs.
    "graft.checkpoint.mode" -> "reliable")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val scaleK = args.lift(1).map(_.toInt).getOrElse(8)
    val spark = GraftSession.harness("weakscale").config(overrides).getOrCreate()

    // task-level input-bytes accounting: the probe-I/O claims are
    // about BYTES SCANNED, which executor task metrics report exactly
    val bytesRead = new AtomicLong(0L)
    val bytesWritten = new AtomicLong(0L)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
        if (te.taskMetrics != null) {
          bytesRead.addAndGet(te.taskMetrics.inputMetrics.bytesRead)
          bytesWritten.addAndGet(te.taskMetrics.outputMetrics.bytesWritten)
        }
    })
    def measured[T](body: => T): (T, Double, Long, Long) = {
      // listener events drain asynchronously; settle before snapshots
      org.apache.spark.graftbridge.ListenerBridge
        .waitUntilListenerBusEmpty(spark.sparkContext)
      val b0 = bytesRead.get(); val w0 = bytesWritten.get()
      val t0 = System.nanoTime()
      val r = body
      org.apache.spark.graftbridge.ListenerBridge
        .waitUntilListenerBusEmpty(spark.sparkContext)
      ((r, (System.nanoTime() - t0) / 1e9, bytesRead.get() - b0,
        bytesWritten.get() - w0))
    }
    def dirBytes(path: String): Long = {
      def walk(f: java.io.File): Long =
        if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(walk).sum
        else f.length
      walk(new java.io.File(path))
    }

    val tmp = System.getProperty("java.io.tmpdir")
    val work = s"$tmp/graft_weakscale"

    /** The ×k corpus: k copies with disjoint rewritten ids, written
      * once per (source, k) and reused (the measurement target is the
      * index machinery, not this setup write).
      */
    def enlarged(table: String, idCol: String, k: Int): DataFrame = {
      val path = s"$work/${table}_x$k"
      if (!graft.sources.IndexFS.hasParquet(path)) {
        val base = spark.read.parquet(s"$sfDir/$table.parquet")
        (0 until k).map(i => base.withColumn(idCol,
            col(idCol) + lit(i.toLong * 100000000L)))
          .reduce(_.unionByName(_))
          .write.mode("overwrite").parquet(path)
      }
      spark.read.parquet(path)
    }

    val results = scala.collection.mutable.LinkedHashMap[String, Double]()
    def report(k: String, v: Double): Unit = {
      results(k) = v
      println(f"""{"weakscale":"$k","value":$v%.3f}""")
    }

    for (k <- Seq(1, scaleK)) {
      // ---------- BM25 ----------
      val docs = enlarged("documents", "doc_id", k)
      val bmBase = s"$work/bm25_x$k"
      graft.sources.IndexFS.deleteRecursive(bmBase)
      val (_, tBuild, _, _) = measured {
        graft.ops.Text.bm25BuildIndex(docs, bmBase).count()
      }
      report(s"bm25_build_sec_x$k", tBuild)
      val idxBytes = dirBytes(bmBase)
      report(s"bm25_index_mb_x$k", idxBytes / 1e6)
      // measure the SERVING core only (the wrapper's freshness check
      // is metadata-only, but isolating the score path keeps the
      // bytes-read number a pure statement about the index layout);
      // warm once for codegen, then measure
      graft.ops.Text.bm25ScoreStored(spark, bmBase, 10).count()
      val (rows, tProbe, pBytes, _) = measured {
        graft.ops.Text.bm25ScoreStored(spark, bmBase, 10).count()
      }
      require(rows > 0, s"bm25 probe served no rows at x$k")
      report(s"bm25_probe_sec_x$k", tProbe)
      report(s"bm25_probe_mb_x$k", pBytes / 1e6)
      report(s"bm25_probe_frac_x$k", pBytes.toDouble / idxBytes)

      // ---------- IVFADC ----------
      val emb = enlarged("embeddings", "vec_id", k)
      val ivBase = s"$work/ivfpq_x$k"
      graft.sources.IndexFS.deleteRecursive(ivBase)
      // nlist 64 with 4 queries x nprobe 4: the probed-cell UNION of
      // the batch stays well under the cell count (<= 16/64), so the
      // fraction claim measures the layout, not probe saturation
      val (_, tIvBuild, _, _) = measured {
        graft.ops.Similarity.ivfpqBuildIndex(emb, ivBase, 64).count()
      }
      report(s"ivfpq_build_sec_x$k", tIvBuild)
      val ivBytes = dirBytes(ivBase)
      report(s"ivfpq_index_mb_x$k", ivBytes / 1e6)
      // pre-materialize the query vectors so the measured bytes are
      // INDEX reads, not the corpus scan that fishes out the queries
      val queries = graft.ops.Similarity.heldQueries(emb, 4)
      val probeDf = graft.ops.Similarity.ivfpqScoreStored(spark, ivBase,
        queries, 5, 4, 20)
      probeDf.count() // warm (codegen, broadcast build)
      val (ivRows, tIvProbe, ivPBytes, _) = measured { probeDf.count() }
      require(ivRows > 0, s"ivfpq probe served no rows at x$k")
      // ground truth for the pruning claim: the cell IN-list the probe
      // actually pushed (read off the executed scan) and the on-disk
      // bytes of exactly those partitions — probe I/O must be bounded
      // by the PROBED partitions, whatever fraction of the (skewed)
      // index they happen to hold
      val plan = probeDf.queryExecution.executedPlan.toString
      val probedCells = plan.linesIterator
        .filter(l => l.contains("Scan parquet") && l.contains("/cells/"))
        .flatMap(l => "INSET ([0-9, ]+)".r.findFirstMatchIn(l))
        .map(_.group(1).split(",").map(_.trim).filter(_.nonEmpty)
          .map(_.toLong).toSet)
        .nextOption().getOrElse(Set.empty[Long])
      require(probedCells.nonEmpty, "no cell IN-list on the cells scan")
      val gen = { // a fresh build has exactly one live generation
        val gs = graft.sources.IndexFS.listNames(s"$ivBase/cells")
        require(gs.size == 1, s"expected one generation: $gs"); gs.head
      }
      val probedBytes = probedCells.toSeq.map(c =>
        dirBytes(s"$ivBase/cells/$gen/cell=$c") +
          dirBytes(s"$ivBase/codes/$gen/cell=$c")).sum
      report(s"ivfpq_probe_sec_x$k", tIvProbe)
      report(s"ivfpq_probe_mb_x$k", ivPBytes / 1e6)
      report(s"ivfpq_probed_cells_x$k", probedCells.size.toDouble)
      report(s"ivfpq_probed_part_mb_x$k", probedBytes / 1e6)
      report(s"ivfpq_probe_frac_x$k", ivPBytes.toDouble / ivBytes)

      // ---------- maintenance: LSM append + tombstone compact ----------
      // the SAME fixed batch at every scale: maintenance I/O must be
      // bounded by the batch's affected segments/partitions plus the
      // doc-level artifacts, never by the token-level base tables —
      // the LSM claim, gated by bytes exactly like the probes
      val batchDocs = spark.read.parquet(s"$sfDir/documents.parquet")
        .filter(col("doc_id") < 2000)
        .withColumn("doc_id", col("doc_id") + lit(900000000L))
        .localCheckpoint() // batch derivation out of the measurement
      // the artifacts an append legitimately reads AND rewrites in
      // full: doc-count-sized doc lengths + the one-row stats
      val docLevel = dirBytes(s"$bmBase/dl") + dirBytes(s"$bmBase/stats")
      report(s"bm25_doclevel_mb_x$k", docLevel / 1e6)
      val (_, tApp, appRead, appWrite) = measured {
        graft.ops.Text.bm25Append(batchDocs, bmBase)
      }
      report(s"bm25_append_sec_x$k", tApp)
      report(s"bm25_append_read_mb_x$k", appRead / 1e6)
      report(s"bm25_append_write_mb_x$k", appWrite / 1e6)

      // bm25 tombstone compact: fix a doc slice, fold it out. Reads
      // decompose into the (doc_id)-column discovery scan over the
      // bucketed postings, the affected buckets' rewrite, the delta
      // scrub, and the doc-level refresh — measured against exactly
      // those artifacts.
      graft.ops.Text.bm25Delete(
        docs.filter(col("doc_id") < 100).select(col("doc_id")), bmBase)
      val (_, _, bmDisc, _) = measured {
        graft.sources.Snapshot.require(bmBase).read(spark, "tf")
          .agg(sum(col("doc_id"))).head
      }
      report(s"bm25_discovery_mb_x$k", bmDisc / 1e6)
      val docLevel2 = dirBytes(s"$bmBase/dl") + dirBytes(s"$bmBase/stats")
      val deltaPre =
        dirBytes(s"$bmBase/tf_delta") + dirBytes(s"$bmBase/pos_delta")
      val tfGensPre = graft.sources.IndexFS.listNames(s"$bmBase/tf").toSet
      val (_, tBmCmp, bmCmpRead, bmCmpWrite) = measured {
        graft.ops.Text.bm25Compact(spark, bmBase)
      }
      val bmCmpGen = {
        val gs = graft.sources.IndexFS.listNames(s"$bmBase/tf")
          .filterNot(tfGensPre)
        require(gs.size == 1, s"expected one compacted generation: $gs")
        gs.head
      }
      val bmCmpBuckets = graft.sources.IndexFS
        .listNames(s"$bmBase/tf/$bmCmpGen").filter(_.startsWith("bucket="))
      val bmCmpPre = bmCmpBuckets.map(b => tfGensPre.toSeq.map(g =>
        dirBytes(s"$bmBase/tf/$g/$b") + dirBytes(s"$bmBase/pos/$g/$b") +
          dirBytes(s"$bmBase/df/$g/$b")).sum).sum + deltaPre
      report(s"bm25_compact_sec_x$k", tBmCmp)
      report(s"bm25_compact_read_mb_x$k", bmCmpRead / 1e6)
      report(s"bm25_compact_write_mb_x$k", bmCmpWrite / 1e6)
      report(s"bm25_compact_buckets_x$k", bmCmpBuckets.size.toDouble)
      report(s"bm25_compact_pre_mb_x$k", bmCmpPre / 1e6)
      report(s"bm25_doclevel2_mb_x$k", docLevel2 / 1e6)

      val batchVecs = spark.read.parquet(s"$sfDir/embeddings.parquet")
        .filter(col("vec_id") < 1000)
        .withColumn("vec_id", col("vec_id") + lit(900000000L))
        .localCheckpoint()
      val quantBytes =
        dirBytes(s"$ivBase/centroids") + dirBytes(s"$ivBase/codebooks")
      report(s"ivfpq_quantizer_mb_x$k", quantBytes / 1e6)
      val (_, tIvApp, ivAppRead, ivAppWrite) = measured {
        graft.ops.Similarity.ivfpqAppend(batchVecs, ivBase)
      }
      // the appended generation's cell list IS the affected-partition
      // set; its pre-append bytes bound the legitimate merge read
      val appGen = {
        val gs = graft.sources.IndexFS.listNames(s"$ivBase/cells")
          .filterNot(_ == gen)
        require(gs.size == 1, s"expected one appended generation: $gs")
        gs.head
      }
      val affCells = graft.sources.IndexFS
        .listNames(s"$ivBase/cells/$appGen").filter(_.startsWith("cell="))
      val affPre = affCells.map(c => dirBytes(s"$ivBase/cells/$gen/$c") +
        dirBytes(s"$ivBase/codes/$gen/$c")).sum
      report(s"ivfpq_append_sec_x$k", tIvApp)
      report(s"ivfpq_append_read_mb_x$k", ivAppRead / 1e6)
      report(s"ivfpq_append_write_mb_x$k", ivAppWrite / 1e6)
      report(s"ivfpq_append_cells_x$k", affCells.size.toDouble)
      report(s"ivfpq_affected_pre_mb_x$k", affPre / 1e6)

      // tombstone a fixed doc slice, compact: reads decompose into the
      // column-pruned discovery scan (which vec lives in which cell)
      // plus the affected partitions' rewrite
      graft.ops.Similarity.ivfpqDelete(
        emb.filter(col("vec_id") < 50).select(col("vec_id")), ivBase)
      val (_, _, discBytes, _) = measured {
        graft.sources.Snapshot.require(ivBase).read(spark, "cells")
          .agg(sum(col("vec_id")), sum(col("cell").cast("long"))).head
      }
      report(s"ivfpq_discovery_mb_x$k", discBytes / 1e6)
      val gensPre = graft.sources.IndexFS.listNames(s"$ivBase/cells").toSet
      val (_, tCmp, cmpRead, cmpWrite) = measured {
        graft.ops.Similarity.ivfpqCompact(spark, ivBase)
      }
      val cmpGen = {
        val gs = graft.sources.IndexFS.listNames(s"$ivBase/cells")
          .filterNot(gensPre)
        require(gs.size == 1, s"expected one compacted generation: $gs")
        gs.head
      }
      val cmpCells = graft.sources.IndexFS
        .listNames(s"$ivBase/cells/$cmpGen").filter(_.startsWith("cell="))
      val cmpPre = cmpCells.map(c => gensPre.toSeq.map(g =>
        dirBytes(s"$ivBase/cells/$g/$c") +
          dirBytes(s"$ivBase/codes/$g/$c")).sum).sum
      report(s"ivfpq_compact_sec_x$k", tCmp)
      report(s"ivfpq_compact_read_mb_x$k", cmpRead / 1e6)
      report(s"ivfpq_compact_write_mb_x$k", cmpWrite / 1e6)
      report(s"ivfpq_compact_cells_x$k", cmpCells.size.toDouble)
      report(s"ivfpq_compact_pre_mb_x$k", cmpPre / 1e6)

      // ---------- dedup admission gate ----------
      // the newest stored-layout mutator: a FIXED batch (50 novel docs
      // — text reversed, so signatures share nothing with history —
      // plus 50 exact copies that must be rejected) admits against the
      // ×k standing band index. The claims: reads bounded by the
      // batch's own COLLIDING buckets (band-key buckets of the batch,
      // doc buckets of the candidates — partition-pruned, measured
      // against exactly those directories' bytes) plus the doc-level
      // sizes artifact; writes bounded by the three delta segments.
      val dedupBase = s"$work/dedup_x$k"
      graft.sources.IndexFS.deleteRecursive(dedupBase)
      val (_, tDBuild, _, _) = measured {
        graft.ops.Dedup.dedupBuildIndex(docs, dedupBase).count()
      }
      report(s"dedup_build_sec_x$k", tDBuild)
      def dedupGen(comp: String): String = {
        val gs = graft.sources.IndexFS.listNames(s"$dedupBase/$comp")
        require(gs.size == 1, s"expected one generation: $gs"); gs.head
      }
      val bandsGen = dedupGen("bands"); val shGen = dedupGen("shingles")
      val dedupBandsBytes = dirBytes(s"$dedupBase/bands")
      val dedupShBytes = dirBytes(s"$dedupBase/shingles")
      val dedupSizesBytes = dirBytes(s"$dedupBase/sizes")
      report(s"dedup_bands_mb_x$k", dedupBandsBytes / 1e6)
      report(s"dedup_shingles_mb_x$k", dedupShBytes / 1e6)
      report(s"dedup_sizes_mb_x$k", dedupSizesBytes / 1e6)
      val admitBatch = spark.read.parquet(s"$sfDir/documents.parquet")
        .filter(col("doc_id") < 100)
        .withColumn("text", when(col("doc_id") % 2 === 0,
            reverse(col("text"))).otherwise(col("text")))
        .withColumn("doc_id", col("doc_id") + lit(900000000L))
        .localCheckpoint() // batch derivation out of the measurement
      val (_, tAdmit, admRead, admWrite) = measured {
        graft.ops.Dedup.dedupAdmit(admitBatch, dedupBase).count()
      }
      val pp = graft.ops.Dedup.lastProbeParts.get
      val probedBandBytes = pp.bandParts.map { case (b, kb) =>
        dirBytes(s"$dedupBase/bands/$bandsGen/band_idx=$b/kb=$kb") }.sum
      val probedShingleBytes = pp.shingleBuckets.map(db =>
        dirBytes(s"$dedupBase/shingles/$shGen/db=$db")).sum
      val admitDeltaBytes = dirBytes(s"$dedupBase/bands_delta") +
        dirBytes(s"$dedupBase/shingles_delta") +
        dirBytes(s"$dedupBase/sizes_delta")
      report(s"dedup_admit_sec_x$k", tAdmit)
      report(s"dedup_admit_read_mb_x$k", admRead / 1e6)
      report(s"dedup_admit_write_mb_x$k", admWrite / 1e6)
      report(s"dedup_probed_bands_mb_x$k", probedBandBytes / 1e6)
      report(s"dedup_probed_shingles_mb_x$k", probedShingleBytes / 1e6)
      report(s"dedup_admit_delta_mb_x$k", admitDeltaBytes / 1e6)

      // segment write fan-out tracks the batch: a second admission
      // (fresh novel docs, tiny docsPerSegFile so the small fixture
      // exercises the fan) must split its shingle segment into
      // ~ceil(admitted / docsPerSegFile) files — the production
      // streaming path must never funnel a large replay batch's
      // segment through one write task
      if (k == 1) {
        def shingleSegDirs(): Set[String] = {
          val root = s"$dedupBase/shingles_delta"
          if (!graft.sources.IndexFS.exists(root)) Set.empty
          else graft.sources.IndexFS.listNames(root)
            .filterNot(_.startsWith("_")).flatMap(g =>
              graft.sources.IndexFS.listNames(s"$root/$g")
                .filter(_.startsWith("seg="))
                .map(s => s"$root/$g/$s")).toSet
        }
        val before = shingleSegDirs()
        val batch2 = spark.read.parquet(s"$sfDir/documents.parquet")
          .filter(col("doc_id") >= 100 && col("doc_id") < 200)
          .withColumn("text", reverse(col("text")))
          .withColumn("doc_id", col("doc_id") + lit(910000000L))
          .localCheckpoint()
        val v2 = graft.ops.Dedup.dedupAdmit(batch2, dedupBase,
          docsPerSegFile = 8L)
        val nAdm2 = v2.filter(col("admitted") && !col("already_indexed"))
          .count()
        val newSegs = (shingleSegDirs() -- before).toSeq
        val segFiles = newSegs.map(d => graft.sources.IndexFS.listNames(d)
          .count(_.startsWith("part-"))).sum
        val expected = math.max(1L, (nAdm2 + 7L) / 8L)
        report("dedup_seg_fanout_admitted", nAdm2.toDouble)
        report("dedup_seg_fanout_files", segFiles.toDouble)
        report("dedup_seg_fanout_expected", expected.toDouble)
      }
    }

    // ---------- the claims, as checks ----------
    var failures = 0
    def check(desc: String, ok: Boolean): Unit = {
      if (!ok) failures += 1
      println(s"${if (ok) "PASS" else "FAIL"}  $desc")
    }
    val slack = 1.8 // constant factors (JIT, shuffle setup) at small ×1
    check(f"bm25 build grows ~linearly: x$scaleK/x1 = " +
      f"${results(s"bm25_build_sec_x$scaleK") / results("bm25_build_sec_x1")}%.2f" +
      f" <= $scaleK × $slack",
      results(s"bm25_build_sec_x$scaleK") <=
        scaleK * slack * results("bm25_build_sec_x1"))
    check(f"ivfpq build grows ~linearly: x$scaleK/x1 = " +
      f"${results(s"ivfpq_build_sec_x$scaleK") / results("ivfpq_build_sec_x1")}%.2f" +
      f" <= $scaleK × $slack",
      results(s"ivfpq_build_sec_x$scaleK") <=
        scaleK * slack * results("ivfpq_build_sec_x1"))
    // probe I/O claims. BM25: query terms touch a FIXED bucket set, so
    // the read fraction of the index must not grow with the corpus
    // (and stays far below a full scan). IVFADC: the fixtures are
    // cluster-skewed, so the probed cells' SHARE of the index is
    // data-dependent — the invariant is that probe bytes stay bounded
    // by the PROBED partitions' on-disk bytes (pruning is real, reads
    // never exceed the claimed directories) and the probed-cell count
    // stays query-bounded (<= queries × nprobe), at every scale.
    // absolute contracts (a relative fraction ratio is distorted by
    // per-scale compression differences): at every scale the probe
    // reads a small fixed-bucket slice of the index, and probe bytes
    // grow at most ~linearly with the corpus
    check(f"bm25 probe reads a small index slice at every scale: " +
      f"frac x1 = ${results("bm25_probe_frac_x1")}%.3f, " +
      f"x$scaleK = ${results(s"bm25_probe_frac_x$scaleK")}%.3f < 0.15",
      results("bm25_probe_frac_x1") < 0.15 &&
        results(s"bm25_probe_frac_x$scaleK") < 0.15)
    check(f"bm25 probe bytes grow at most ~linearly: " +
      f"${results(s"bm25_probe_mb_x$scaleK")}%.3f MB <= " +
      f"${results("bm25_probe_mb_x1")}%.3f MB × $scaleK × 1.5",
      results(s"bm25_probe_mb_x$scaleK") <=
        results("bm25_probe_mb_x1") * scaleK * 1.5)
    for (k <- Seq(1, scaleK)) {
      // the 2x slack covers task-metric accounting (footer reads, page
      // granularity, speculative re-opens) — the claim excluded is a
      // full-index read, which would show as ~4x probed here
      check(f"ivfpq probe x$k reads only the probed partitions: " +
        f"${results(s"ivfpq_probe_mb_x$k")}%.3f MB <= " +
        f"${results(s"ivfpq_probed_part_mb_x$k")}%.3f MB × 2 + 0.2",
        results(s"ivfpq_probe_mb_x$k") <=
          results(s"ivfpq_probed_part_mb_x$k") * 2.0 + 0.2)
      check(f"ivfpq probed-cell count x$k is query-bounded: " +
        f"${results(s"ivfpq_probed_cells_x$k")}%.0f <= 16",
        results(s"ivfpq_probed_cells_x$k") <= 16.0)
      check(f"ivfpq probed partitions are a strict index subset x$k: " +
        f"${results(s"ivfpq_probed_part_mb_x$k")}%.3f < " +
        f"${results(s"ivfpq_index_mb_x$k")}%.3f",
        results(s"ivfpq_probed_part_mb_x$k") <
          results(s"ivfpq_index_mb_x$k"))
    }
    // maintenance-path claims (same fixed batch at every scale).
    // BM25 append: the token-level tables append as LSM delta segments
    // and are NEVER read-modify-rewritten — so append I/O may grow
    // only with the doc-level artifacts (dl/stats, corpus-doc-count-
    // sized but tiny rows), never with the token-level index. A
    // regression that scans/rewrites base tf/pos at ×8 would exceed
    // this budget by roughly the index size.
    for (m <- Seq("read", "write")) {
      check(f"bm25 append $m x$scaleK bounded by doc-level artifacts: " +
        f"${results(s"bm25_append_${m}_mb_x$scaleK")}%.2f MB <= " +
        f"${results(s"bm25_append_${m}_mb_x1")}%.2f × 2 + " +
        f"${results(s"bm25_doclevel_mb_x$scaleK")}%.2f × 3 + 2",
        results(s"bm25_append_${m}_mb_x$scaleK") <=
          results(s"bm25_append_${m}_mb_x1") * 2.0 +
            results(s"bm25_doclevel_mb_x$scaleK") * 3.0 + 2.0)
    }
    // BM25 compact: affected-bucket rewrite + delta scrub + doc-level
    // refresh, after the column-pruned which-bucket-holds-the-doc
    // discovery scan — all measured, nothing else in the budget
    for (k <- Seq(1, scaleK)) {
      check(f"bm25 compact x$k reads discovery + affected buckets: " +
        f"${results(s"bm25_compact_read_mb_x$k")}%.2f MB <= " +
        f"${results(s"bm25_discovery_mb_x$k")}%.2f × 2 + " +
        f"${results(s"bm25_compact_pre_mb_x$k")}%.2f × 2 + " +
        f"${results(s"bm25_doclevel2_mb_x$k")}%.2f × 3 + 2",
        results(s"bm25_compact_read_mb_x$k") <=
          results(s"bm25_discovery_mb_x$k") * 2.0 +
            results(s"bm25_compact_pre_mb_x$k") * 2.0 +
            results(s"bm25_doclevel2_mb_x$k") * 3.0 + 2.0)
      check(f"bm25 compact x$k writes only affected buckets + doc-level: " +
        f"${results(s"bm25_compact_write_mb_x$k")}%.2f MB <= " +
        f"${results(s"bm25_compact_pre_mb_x$k")}%.2f × 1.5 + " +
        f"${results(s"bm25_doclevel2_mb_x$k")}%.2f × 3 + 2",
        results(s"bm25_compact_write_mb_x$k") <=
          results(s"bm25_compact_pre_mb_x$k") * 1.5 +
            results(s"bm25_doclevel2_mb_x$k") * 3.0 + 2.0)
    }
    check(f"bm25 compact discovery is column-pruned at scale: " +
      f"${results(s"bm25_discovery_mb_x$scaleK")}%.2f MB < " +
      f"${results(s"bm25_index_mb_x$scaleK")}%.2f × 0.5",
      results(s"bm25_discovery_mb_x$scaleK") <
        results(s"bm25_index_mb_x$scaleK") * 0.5)
    // IVFADC append/compact: partition-merge layouts — I/O bounded by
    // the AFFECTED cell partitions (pre-op bytes) at every scale, the
    // same gate shape as the probes. Compact additionally pays the
    // column-pruned (vec_id, cell) discovery scan, measured directly.
    for (k <- Seq(1, scaleK)) {
      check(f"ivfpq append x$k reads only affected partitions + " +
        f"quantizer: ${results(s"ivfpq_append_read_mb_x$k")}%.2f MB <= " +
        f"${results(s"ivfpq_affected_pre_mb_x$k")}%.2f × 2 + 2",
        results(s"ivfpq_append_read_mb_x$k") <=
          results(s"ivfpq_affected_pre_mb_x$k") * 2.0 + 2.0)
      check(f"ivfpq append x$k writes only merged affected partitions: " +
        f"${results(s"ivfpq_append_write_mb_x$k")}%.2f MB <= " +
        f"${results(s"ivfpq_affected_pre_mb_x$k")}%.2f × 2 + 2",
        results(s"ivfpq_append_write_mb_x$k") <=
          results(s"ivfpq_affected_pre_mb_x$k") * 2.0 + 2.0)
      check(f"ivfpq compact x$k reads discovery + affected partitions: " +
        f"${results(s"ivfpq_compact_read_mb_x$k")}%.2f MB <= " +
        f"${results(s"ivfpq_discovery_mb_x$k")}%.2f × 2 + " +
        f"${results(s"ivfpq_compact_pre_mb_x$k")}%.2f × 2 + 2",
        results(s"ivfpq_compact_read_mb_x$k") <=
          results(s"ivfpq_discovery_mb_x$k") * 2.0 +
            results(s"ivfpq_compact_pre_mb_x$k") * 2.0 + 2.0)
      check(f"ivfpq compact x$k writes only affected partitions: " +
        f"${results(s"ivfpq_compact_write_mb_x$k")}%.2f MB <= " +
        f"${results(s"ivfpq_compact_pre_mb_x$k")}%.2f × 1.5 + 2",
        results(s"ivfpq_compact_write_mb_x$k") <=
          results(s"ivfpq_compact_pre_mb_x$k") * 1.5 + 2.0)
    }
    // the column-pruned discovery claim is a SCALE claim: at ×1 the
    // whole index is a couple of MB and per-file footer/dictionary
    // reads dominate any scan of it; at ×K the (vec_id)-only scan must
    // be a sub-half slice of the index and grow far slower than it
    check(f"ivfpq compact discovery is column-pruned at scale: " +
      f"${results(s"ivfpq_discovery_mb_x$scaleK")}%.2f MB < " +
      f"${results(s"ivfpq_index_mb_x$scaleK")}%.2f × 0.5",
      results(s"ivfpq_discovery_mb_x$scaleK") <
        results(s"ivfpq_index_mb_x$scaleK") * 0.5)
    check(f"ivfpq compact discovery grows sub-linearly: " +
      f"${results(s"ivfpq_discovery_mb_x$scaleK")}%.2f MB <= " +
      f"${results("ivfpq_discovery_mb_x1")}%.2f × $scaleK",
      results(s"ivfpq_discovery_mb_x$scaleK") <=
        results("ivfpq_discovery_mb_x1") * scaleK)
    // dedup admission claims: reads bounded by the probed (colliding)
    // buckets' on-disk bytes plus the doc-level sizes artifact — never
    // the whole postings/shingle stores; writes bounded by the three
    // delta segments. A regression that scans the token-level shingle
    // store wholesale at ×8 (~8× the ×1 bytes) blows the read budget
    // by the store's size; one that rewrites base components blows the
    // write budget.
    for (k <- Seq(1, scaleK)) {
      check(f"dedup admit x$k reads only colliding buckets + doc-level: " +
        f"${results(s"dedup_admit_read_mb_x$k")}%.2f MB <= " +
        f"probed bands ${results(s"dedup_probed_bands_mb_x$k")}%.2f × 2 + " +
        f"probed shingles ${results(s"dedup_probed_shingles_mb_x$k")}%.2f × 2 + " +
        f"sizes ${results(s"dedup_sizes_mb_x$k")}%.2f × 3 + 2",
        results(s"dedup_admit_read_mb_x$k") <=
          results(s"dedup_probed_bands_mb_x$k") * 2.0 +
            results(s"dedup_probed_shingles_mb_x$k") * 2.0 +
            results(s"dedup_sizes_mb_x$k") * 3.0 + 2.0)
      check(f"dedup admit x$k writes only its delta segments: " +
        f"${results(s"dedup_admit_write_mb_x$k")}%.2f MB <= " +
        f"${results(s"dedup_admit_delta_mb_x$k")}%.2f × 1.5 + 2",
        results(s"dedup_admit_write_mb_x$k") <=
          results(s"dedup_admit_delta_mb_x$k") * 1.5 + 2.0)
    }
    // pruning is REAL at scale: the fixed batch's probed buckets are a
    // strict minority of the ×K stores (at ×1 a small index has few
    // buckets and a batch legitimately touches most of them)
    check(f"dedup probed band buckets are a minority slice at ×$scaleK: " +
      f"${results(s"dedup_probed_bands_mb_x$scaleK")}%.2f MB < " +
      f"${results(s"dedup_bands_mb_x$scaleK")}%.2f × 0.6",
      results(s"dedup_probed_bands_mb_x$scaleK") <
        results(s"dedup_bands_mb_x$scaleK") * 0.6)
    check(f"dedup probed shingle buckets are a strict subset at ×$scaleK: " +
      f"${results(s"dedup_probed_shingles_mb_x$scaleK")}%.2f MB < " +
      f"${results(s"dedup_shingles_mb_x$scaleK")}%.2f × 0.8",
      results(s"dedup_probed_shingles_mb_x$scaleK") <
        results(s"dedup_shingles_mb_x$scaleK") * 0.8)
    // the fixed batch's delta segments are corpus-size-INDEPENDENT
    check(f"dedup admit writes are flat across scale: " +
      f"${results(s"dedup_admit_write_mb_x$scaleK")}%.2f MB <= " +
      f"${results("dedup_admit_write_mb_x1")}%.2f × 2 + 1",
      results(s"dedup_admit_write_mb_x$scaleK") <=
        results("dedup_admit_write_mb_x1") * 2.0 + 1.0)
    // segment write parallelism tracks the batch (Dedup.dedupAdmit's
    // docsPerSegFile sizing): fanned out past one file, and never past
    // ceil(admitted / docsPerSegFile)
    check(f"dedup admit shingle segment fans out with the batch: " +
      f"2 <= ${results("dedup_seg_fanout_files")}%.0f files <= " +
      f"ceil(${results("dedup_seg_fanout_admitted")}%.0f/8) = " +
      f"${results("dedup_seg_fanout_expected")}%.0f",
      results("dedup_seg_fanout_files") >= 2 &&
        results("dedup_seg_fanout_files") <=
          results("dedup_seg_fanout_expected"))
    println(if (failures == 0) "== weak-scaling: ALL PASS =="
      else s"== weak-scaling: $failures FAILURES ==")
    spark.stop()
    if (failures > 0) sys.exit(1)
  }
}
