package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.Snapshot

/** Snapshot reads list each immutable generation leaf once per JVM and
  * infer each leaf set's schema once (bounded), while returning exactly
  * what a plain `spark.read` of the live leaves returns.
  */
class SnapshotListingSpec extends SparkTestBase {
  import spark.implicits._

  /** One committed transaction writing each (frame, comp, partCols). */
  private def commit(base: String)(
      writes: (Snapshot.Txn => Unit)*): Snapshot.Manifest =
    Snapshot.transact(base) { txn => writes.foreach(_(txn)); txn }.snap

  private final case class Listing(jobs: Int, discovered: Long, hits: Long)

  /** Run `body`, counting Spark's "Listing leaf files" jobs and the
    * files its file indexes discovered by listing vs. served from the
    * file-status cache.
    */
  private def listing[T](body: => T): (T, Listing) = {
    val (out, run) = RunMetrics.measure(spark.sparkContext)(body)
    (out, Listing(run.listingJobs, run.filesDiscovered, run.cacheHits))
  }

  /** The plain reader over every generation leaf of `comp` — the
    * reference a snapshot read must equal while one generation is live.
    */
  private def plainRead(base: String, comp: String): DataFrame = {
    val leaves = new java.io.File(s"$base/$comp").listFiles
      .filter(_.getName.startsWith(s"${Snapshot.GSN}="))
      .map(_.getPath).toSeq
    spark.read.option("basePath", s"$base/$comp").parquet(leaves: _*)
      .drop(Snapshot.GSN)
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  private val wide = (0 until 640).toDF("id")
    .withColumn("term", concat(lit("t"), col("id").cast("string")))
    .withColumn("bucket", (col("id") % 64).cast("int"))
  private val twoLevel = (0 until 512).toDF("id")
    .withColumn("sig", col("id").cast("long") * 31L)
    .withColumn("band_idx", (col("id") % 4).cast("int"))
    .withColumn("kb", expr("id div 4") % 64)
  private val flat = (0 until 50).toDF("id")
    .withColumn("v", col("id").cast("double") / 3.0)

  test("a second read of a snapshot component lists nothing: 0 listing " +
      "jobs, 0 files discovered, every file served from the cache") {
    val base = tmp("snaplist")
    commit(base)(_.writeFull(wide, "tf", "bucket"))
    // a 64-bucket leaf is over Spark's 32-directory threshold, so its
    // first listing is a distributed job of its own
    val (n1, first) = listing(Snapshot.require(base).read(spark, "tf").count())
    assert(n1 === 640L)
    assert(first.jobs >= 1 && first.discovered >= 64, first)
    // a fresh manifest object and a fresh DataFrame: only the cached
    // listing is shared
    val (n2, second) = listing(Snapshot.require(base).read(spark, "tf").count())
    assert(n2 === 640L)
    assert(second.jobs === 0, second)
    assert(second.discovered === 0L, second)
    assert(second.hits >= 64L, second)
    // readOpt answers emptiness from the same cached listing
    val (some, third) = listing(Snapshot.require(base).readOpt(spark, "tf"))
    assert(some.isDefined)
    assert(third.jobs === 0 && third.discovered === 0L, third)
  }

  test("snapshot reads equal a plain basePath read: schema, partition " +
      "column types and rows (64 buckets, band_idx/kb, unpartitioned)") {
    val base = tmp("snapeq")
    commit(base)(
      _.writeFull(wide, "tf", "bucket"),
      _.writeFull(twoLevel, "bands", "band_idx", "kb"),
      _.writeFull(flat, "stats"))
    Seq("tf", "bands", "stats").foreach { comp =>
      val want = plainRead(base, comp)
      // twice: the schema-miss path (inference) and the schema-hit path
      (1 to 2).foreach { pass =>
        val got = Snapshot.require(base).read(spark, comp)
        assert(got.schema === want.schema, s"$comp pass $pass")
        assert(rows(got) === rows(want), s"$comp pass $pass")
      }
    }
    val bands = Snapshot.require(base).read(spark, "bands").schema
    assert(bands("band_idx").dataType.typeName === "integer")
    assert(bands("kb").dataType.typeName === "integer")
  }

  test("the stored BM25 postings scan keeps its static bucket " +
      "PartitionFilters on a cached listing") {
    import graft.ops.Text
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    object plans extends AdaptiveSparkPlanHelper
    val docs = Tables.documents(spark, sf)
    val base = tmp("snapbm25")
    Text.bm25BuildIndex(docs, base).count()
    val inline = rows(Text.bm25TopK(docs, 10))
    (1 to 2).foreach { pass =>
      val probe = Text.bm25ProbeStored(docs, base, 10)
      assert(rows(probe) === inline, s"pass $pass")
      val plan = probe.queryExecution.executedPlan
      val tfScans = plans.collectWithSubqueries(plan) {
        case s: FileSourceScanExec => s
      }.filter(_.relation.location.rootPaths.exists(_.toString.contains("/tf/")))
      assert(tfScans.nonEmpty, plan.toString.take(1500))
      tfScans.foreach { s =>
        assert(s.metadata("PartitionFilters").contains("bucket"),
          s.metadata("PartitionFilters"))
      }
    }
  }

  test("after append, delete, compact and gc, reads return exactly the " +
      "live rows") {
    val base = tmp("snapcycle")
    spark.conf.set("graft.snapshot.keepLast", "1")
    spark.conf.set("graft.snapshot.graceMs", "0")
    def live(): Set[Int] =
      Snapshot.require(base).read(spark, "tf").select(col("id"))
        .as[Int].collect().toSet
    try {
      commit(base)(_.writeFull(wide, "tf", "bucket"))
      var want = (0 until 640).toSet
      assert(live() === want)
      // append: new rows in new buckets 64-67
      val added = (640 until 680).toDF("id")
        .withColumn("term", concat(lit("t"), col("id").cast("string")))
        .withColumn("bucket", (lit(64) + col("id") % 4).cast("int"))
      commit(base)(_.writeParts(added, "tf", Seq("bucket"),
        (64 to 67).map(b => Seq(b.toString))))
      want ++= 640 until 680
      assert(live() === want)
      // delete: bucket 5 loses its rows
      commit(base)(_.dropParts("tf", Seq(Seq("5"))))
      want = want.filterNot(i => i < 640 && i % 64 == 5)
      assert(live() === want)
      // compact: restage the live rows as one generation
      val cur = Snapshot.require(base).read(spark, "tf").localCheckpoint()
      commit(base)(_.writeFull(cur, "tf", "bucket"))
      assert(live() === want)
      // gc reclaimed every older generation leaf
      Snapshot.gc(base)
      val leaves = new java.io.File(s"$base/tf").listFiles
        .filter(_.getName.startsWith(s"${Snapshot.GSN}="))
      assert(leaves.length === 1, leaves.map(_.getName).toSeq)
      assert(live() === want)
      assert(rows(Snapshot.require(base).read(spark, "tf")) ===
        rows(plainRead(base, "tf")))
    } finally {
      spark.conf.unset("graft.snapshot.keepLast")
      spark.conf.unset("graft.snapshot.graceMs")
    }
  }

  test("the schema cache is bounded: an evicted leaf set re-infers the " +
      "identical schema") {
    val base = tmp("snapschema")
    val snap = commit(base)(_.writeFull(twoLevel, "bands", "band_idx", "kb"))
    val key = snap.schemaKey("bands")
    val first = snap.read(spark, "bands").schema
    val cached = Snapshot.schemaCache.get(key)
    assert(cached.isDefined)
    (0 until Snapshot.SchemaCacheEntries).foreach { i =>
      Snapshot.schemaCache.put(s"$base/filler-$i", cached.get)
    }
    assert(Snapshot.schemaCache.size === Snapshot.SchemaCacheEntries)
    assert(Snapshot.schemaCache.get(key).isEmpty, "least recent not evicted")
    val again = snap.read(spark, "bands")
    assert(again.schema === first)
    assert(Snapshot.schemaCache.get(key).map(_.json) === cached.map(_.json))
    assert(Snapshot.schemaCache.size === Snapshot.SchemaCacheEntries)
    assert(rows(again) === rows(plainRead(base, "bands")))
  }
}
