package graft

import org.apache.spark.sql.functions._

import graft.ops.{Dedup, Similarity, Text}
import graft.sources.{IndexFS, Snapshot, Sources}

/** The serving path's driver-held frames: held probe frames
  * ([[Sources.hold]]), held snapshot components
  * ([[Snapshot.Manifest.held]]), the bounded ranked tail, and the job
  * count each stored probe runs once warm. This suite stops the shared
  * test context in its last test; later suites start a fresh one.
  */
class StoredProbeSpec extends SparkTestBase {
  import spark.implicits._

  /** Spark jobs `body` starts. */
  private def jobs[T](body: => T): (T, Int) = {
    val (out, run) = RunMetrics.measure(spark.sparkContext)(body)
    (out, run.jobs.size)
  }

  private def isLocal(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.analyzed
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]

  test("held frame: bounded frames stay on the driver, a frame above " +
      "the byte constant takes the Spark-side checkpoint") {
    val df = spark.range(0, 40).select(col("id"), (col("id") % 3).as("k"))
    val (small, smallJobs) = jobs(Sources.hold(df, Some(40)))
    assert(smallJobs === 1 && isLocal(small.df) && small.size.contains(40L))
    val (keys, keyJobs) = jobs(small.keys(col("k")).map(_.getLong(0)).sorted)
    assert(keys === Seq(0L, 1L, 2L) && keyJobs === 0,
      s"held key set ran $keyJobs jobs")
    // a bound whose estimate exceeds HeldBytes, or no bound, takes the
    // Spark-side checkpoint; rows whose measured footprint fits are
    // read back for the key sets
    assert(!Sources.fitsHeld(Sources.HeldBytes, df.schema))
    Seq(Sources.hold(df, Some(Sources.HeldBytes)), Sources.hold(df, None))
      .foreach(h => assert(!isLocal(h.df) && h.size.contains(40L)))
    // a frame above the byte constant never reaches the driver
    val wide = spark.range(0, 300000).select(col("id"), (col("id") % 3).as("k"))
    val big = Sources.hold(wide, Some(300000L))
    assert(big.rows.isEmpty && !isLocal(big.df))
    assert(big.keys(col("k")).map(_.getLong(0)).sorted === Seq(0L, 1L, 2L))
  }

  test("ranked tail: the bounded single-partition tail and the range " +
      "sort return the same rows in the same order") {
    val pruned = spark.range(0, 300)
      .select((col("id") % 7).as("query_id"), col("id").as("neighbor_id"),
        ((col("id") * 37) % 11).cast("double").as("sim")) // ties on sim
      .repartition(4)
    def tail(bound: Option[Long]) = Similarity.rankedTail(pruned, "query_id",
      "sim", "neighbor_id", bound).collect().toSeq
    val bounded = tail(Some(300L))
    assert(bounded.nonEmpty && bounded === tail(None))
  }

  test("held components: new owners are re-read, a GC'd layout keeps " +
      "serving its live rows") {
    val base = tmp("held")
    def commit(f: Snapshot.Txn => Unit): Unit = Snapshot.transact(base)(f)
    def held() = Snapshot.require(base).held(spark, "c").rows.get
      .map(r => (r.getLong(0), r.getInt(1))).sortBy(_._1)
    commit(_.writeFull(Seq((1L, 0), (2L, 1)).toDF("v", "p"), "c", "p"))
    assert(held() === Seq((1L, 0), (2L, 1)))
    val (_, warm) = jobs(held())
    assert(warm === 0, s"a held component ran $warm jobs")
    // an append-shaped commit replaces one partition: new leaf set
    commit(_.writeParts(Seq((3L, 1)).toDF("v", "p"), "c", Seq("p"), Seq(Seq("1"))))
    assert(held() === Seq((1L, 0), (3L, 1)))
    // a partition drop keeps the leaf set and changes only ownership
    val leaves = Snapshot.require(base).schemaKey("c")
    commit(_.dropParts("c", Seq(Seq("0"))))
    assert(Snapshot.require(base).schemaKey("c") === leaves)
    assert(held() === Seq((3L, 1)))
    // a rebuild-shaped commit replaces the component
    commit(_.writeFull(Seq((5L, 2)).toDF("v", "p"), "c", "p"))
    assert(held() === Seq((5L, 2)))
    val gcConf = Seq("graft.snapshot.graceMs" -> "0", "graft.snapshot.keepLast" -> "1")
    gcConf.foreach { case (k, v) => spark.conf.set(k, v) }
    try (1 to 2).foreach(_ => IndexFS.withWriterLease(base)(Snapshot.gc(base)))
    finally gcConf.foreach { case (k, _) => spark.conf.unset(k) }
    assert(held() === Seq((5L, 2)))
    assert(Snapshot.heldCache.size <= Snapshot.HeldEntries)
  }

  // shared stored layouts for the probe cases below (built once)
  private lazy val emb = Tables.embeddings(spark, sf)
  private lazy val docs = Tables.documents(spark, sf)
  private lazy val hist = docs.filter(col("doc_id") % 5 =!= 0)
  private lazy val batch = docs.filter(col("doc_id") % 5 === 0)
  private lazy val layouts: (String, String, String) = {
    val (iv, bm, dd) = (tmp("ivfpq"), tmp("bm25"), tmp("dedup"))
    Similarity.ivfpqBuildIndex(emb, iv, 16).count()
    Text.bm25BuildIndex(docs, bm).count()
    Dedup.dedupBuildIndex(hist, dd).count()
    (iv, bm, dd)
  }

  test("stored probes: warm job counts stay at their pinned figures") {
    val (iv, bm, dd) = layouts
    val probes = Seq[(String, Int, () => Any)](
      ("ivfpqProbeStored", 7, () => Similarity.ivfpqProbeStored(emb, iv, 8, 5).collect()),
      ("ivfpqFilteredStored", 4, () => Similarity.ivfpqFilteredStored(emb, iv, 8, 5).collect()),
      ("bm25ProbeStored", 6, () => Text.bm25ProbeStored(docs, bm, 10).collect()),
      ("incrementalNearDupStored", 18, () => Dedup.incrementalNearDupStored(batch, hist, dd).collect()))
    probes.foreach { case (_, _, f) => f() } // warm: listings, held components
    probes.foreach { case (name, pinned, f) =>
      val (_, n) = jobs(f())
      assert(n <= pinned, s"$name ran $n jobs, pinned at $pinned")
    }
  }

  test("trained artifacts are held on the driver, and a small IVFADC " +
      "build runs its pinned job count") {
    val unit = emb.select(col("vec_id"),
      Similarity.normalized(col("embedding")).as("embedding"))
    assert(isLocal(Similarity.kmeansCentroids(emb, 16)))
    assert(isLocal(Similarity.pqCodebooks(unit)))
    // sqTopK's encode and decode both read the one-row params held
    val sqPlan = Similarity.sqTopK(emb, 8, 5).queryExecution.analyzed
    assert(sqPlan.collect {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation
        if l.output.map(_.name) == Seq("mns", "sps") => l
    }.nonEmpty, "sqTopK's params are not a local relation")
    // an added checkpoint shows up as extra jobs here (50 alone, 51
    // after the suites before it: the two training chains run at once)
    val (_, n) = jobs(Similarity.ivfpqBuildIndex(emb, tmp("ivfpq-pin"), 16).count())
    assert(n <= 51, s"ivfpqBuildIndex ran $n jobs, pinned at 51")
  }

  test("held components: no entry survives the context's stop()") {
    val (iv, _, _) = layouts
    Similarity.ivfpqProbeStored(emb, iv, 4, 5).collect()
    val sc = spark.sparkContext
    def entries = Snapshot.heldCache.values.count(_.sc eq sc)
    assert(entries > 0)
    spark.stop()
    assert(entries === 0, "a stopped context's held rows are still cached")
  }
}
