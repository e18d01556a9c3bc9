package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._

/** The library session builder must ship the byte-verified serving
  * configuration (VERDICT r8 #2): a user following the GraftSession
  * scaladoc gets the same bounded stored-ANN probe I/O the WeakScale
  * harness enforces, not the bloom-filter-inflated plans.
  */
class GraftSessionSpec extends SparkTestBase {
  import spark.implicits._

  test("GraftSession.builder ships the serving config (bloom-filter " +
      "injection off, extensions, UTC, sized shuffle partitions)") {
    val c = GraftSession.configs(8)
    assert(c("spark.sql.optimizer.runtime.bloomFilter.enabled") === "false")
    assert(c("spark.sql.extensions") === "graft.functions.GraftExtensions")
    assert(c("spark.sql.session.timeZone") === "UTC")
    assert(c("spark.sql.shuffle.partitions") === "8")
    // and the builder really applies them: the shared test session is
    // built from the same map (asserted below) and serves with bounded
    // bytes; the mains' harness sessions are checked in the last test
  }

  test("the shared spec session is the shipped one: ParamLiterals and " +
      "the 256-entry codegen cache") {
    assert(spark.sessionState.columnarRules.contains(graft.plans.ParamLiterals.Hook))
    (GraftSession.configs(4) - "spark.sql.extensions").foreach { case (k, v) =>
      assert(spark.conf.get(k) === v, k)
    }
    assert(spark.sessionState.conf.codegenCacheMaxEntries === 256)
  }

  test("GraftSession.configs caps the codegen cache at 256 classes and " +
      "leaves every other setting as it was") {
    assert(GraftSession.configs(8) === Map(
      "spark.sql.extensions" -> "graft.functions.GraftExtensions",
      "spark.sql.shuffle.partitions" -> "8",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "false",
      // one index_serve probe cycle needs ~170-200 generated classes;
      // Spark's default of 100 recompiles every probe
      "spark.sql.codegen.cache.maxEntries" -> "256"))
  }

  test("a session configured per GraftSession serves the stored ANN " +
      "probe within the WeakScale task-bytes bound") {
    import graft.ops.Similarity
    val servingKey = "spark.sql.optimizer.runtime.bloomFilter.enabled"
    assert(spark.conf.get(servingKey) === GraftSession.configs(4)(servingKey))
    // plan-text introspection below needs the full INSET list, not the
    // 100-char default truncation (same setting as graft.WeakScale)
    val metaKey = "spark.sql.maxMetadataStringLength"
    val savedMeta = spark.conf.getOption(metaKey)
    spark.conf.set(metaKey, "4096")
    val base = java.nio.file.Files
      .createTempDirectory("graft-gsess").toString + "/ivf"
    try {
      val emb = Tables.embeddings(spark, sf)
      Similarity.ivfpqBuildIndex(emb, base, 16).count()
      val queries = Similarity.heldQueries(emb, 4)
      val probe = Similarity.ivfpqScoreStored(spark, base, queries, 5, 4, 20)
      probe.count() // warm: codegen + broadcast build
      // task-level input-byte accounting, as in graft.WeakScale
      val bytesRead = new AtomicLong(0L)
      val listener = new SparkListener {
        override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
          if (te.taskMetrics != null)
            bytesRead.addAndGet(te.taskMetrics.inputMetrics.bytesRead)
      }
      org.apache.spark.graftbridge.ListenerBridge
        .waitUntilListenerBusEmpty(spark.sparkContext)
      spark.sparkContext.addSparkListener(listener)
      try {
        assert(probe.count() > 0)
        org.apache.spark.graftbridge.ListenerBridge
          .waitUntilListenerBusEmpty(spark.sparkContext)
      } finally spark.sparkContext.removeSparkListener(listener)
      // the probed-cell IN-list the executed scan actually pushed, and
      // the on-disk bytes of exactly those partitions — the same bound
      // WeakScale enforces at sf0.1 ×1/×8
      val plan = probe.queryExecution.executedPlan.toString
      val probedCells = plan.linesIterator
        .filter(l => l.contains("Scan parquet") && l.contains("/cells/"))
        .flatMap(l => "INSET ([0-9, ]+)".r.findFirstMatchIn(l))
        .map(_.group(1).split(",").map(_.trim).filter(_.nonEmpty)
          .map(_.toLong).toSet)
        .nextOption().getOrElse(Set.empty[Long])
      assert(probedCells.nonEmpty, s"no cell IN-list pushed:\n${plan.take(2000)}")
      assert(probedCells.size <= 16, s"cell set not query-bounded: $probedCells")
      def dirBytes(path: String): Long = {
        def walk(f: java.io.File): Long =
          if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(walk).sum
          else f.length
        walk(new java.io.File(path))
      }
      val gen = new java.io.File(s"$base/cells").listFiles
        .map(_.getName).filter(_.startsWith("gsn=")) match {
          case Array(g) => g
          case other => fail(s"expected one generation: ${other.toSeq}")
        }
      val probedBytes = probedCells.toSeq.map(c =>
        dirBytes(s"$base/cells/$gen/cell=$c") +
          dirBytes(s"$base/codes/$gen/cell=$c")).sum
      val measured = bytesRead.get()
      // same slack as WeakScale: 2× covers footer/page accounting; the
      // excluded failure mode (bloom filter re-scanning the vector
      // table once per probe) shows as a multiple of the index size
      assert(measured <= probedBytes * 2 + 200000L,
        s"probe read $measured B > bound ${probedBytes * 2 + 200000L} B " +
          s"(probed partitions: $probedBytes B) — serving config not effective")
    } finally {
      savedMeta match {
        case Some(v) => spark.conf.set(metaKey, v)
        case None    => spark.conf.unset(metaKey)
      }
      graft.sources.IndexFS.deleteRecursive(base)
    }
  }

  test("every main's session is GraftSession.configs plus exactly its " +
      "named overrides") {
    // a harness session needs its own context: this test stops the
    // shared one; later suites' sessions start a fresh one
    spark.stop()
    val n = GraftSession.harnessCpus
    def confOf(overrides: Map[String, String]): Map[String, String] = {
      val s = GraftSession.harness("spec").config(overrides).getOrCreate()
      try {
        assert(s.sparkContext.master === s"local[$n]")
        assert(s.sparkContext.getCheckpointDir.exists(_.contains("graft_ckpt_spec")))
        assert(s.sessionState.columnarRules.contains(graft.plans.ParamLiterals.Hook))
        s.conf.getAll.filter { case (k, _) =>
          k.startsWith("spark.sql.") || k.startsWith("graft.") }
      } finally s.stop()
    }
    val shipped = confOf(Map.empty)
    assert(GraftSession.configs(n).toSet.subsetOf(shipped.toSet), shipped)
    Seq(PlanAudit.overrides, WeakScale.overrides).foreach { o =>
      assert(confOf(o) === shipped ++ o)
    }
  }
}
