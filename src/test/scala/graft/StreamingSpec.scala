package graft

import org.apache.spark.sql.functions._
import graft.streaming.StreamingOps

/** JVM-singleton probe for sink closures (survives closure serialization
  * in local mode).
  */
object StreamSinkProbe {
  val seen = new java.util.concurrent.atomic.AtomicLong(0)
}

/** Streaming behaviors that have no DuckDB oracle: batch↔stream
  * equivalence (the unified-model guarantee), the rate-limited sink's
  * pacing + error isolation, and cooperative cancellation.
  */
class StreamingSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val eventsBatch = Tables.events(spark, sf).cache()

  /** The streaming file source wants a directory; stage the fixture file
    * into one (simulates the O20 "new table discovered" event).
    */
  private lazy val eventsDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-events-stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("events.parquet"))
    dir.toString
  }

  test("streaming tumbling counts == batch tumbling counts (memory sink)") {
    // stream the same parquet through readStream with the batch schema
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val rawSchema = spark.read.parquet(s"$sf/events.parquet").schema
    val stream = StreamingOps.fileStream(spark, eventsDir, rawSchema,
        maxFilesPerTrigger = 1)
      .transform(Tables.normalizeEventTs)
    val q = StreamingOps.tumblingCounts(stream, "1 hour")
      .writeStream.outputMode("complete")
      .format("memory").queryName("tumbling_out").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("tumbling_out")
        .orderBy("window_start", "event_type")
        .collect()
      val batch = StreamingOps.tumblingCounts(eventsBatch, "1 hour")
        .orderBy("window_start", "event_type")
        .collect()
      assert(streamed.length === batch.length && streamed.length > 0)
      streamed.zip(batch).foreach { case (s, b) => assert(s === b) }
    } finally q.stop()
  }

  test("watermarked aggregation drops state but keeps on-time rows (append mode)") {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val rawSchema = spark.read.parquet(s"$sf/events.parquet").schema
    val stream = StreamingOps.fileStream(spark, eventsDir, rawSchema)
      .transform(Tables.normalizeEventTs)
    val q = StreamingOps.watermarkedCounts(stream, "1 hour", "10 minutes")
      .writeStream.outputMode("append")
      .format("memory").queryName("wm_out").start()
    try {
      q.processAllAvailable()
      // append mode emits only windows closed by the watermark; all but
      // the last open window must be final and match the batch result
      val streamed = spark.table("wm_out")
      val batch = StreamingOps.tumblingCounts(eventsBatch, "1 hour")
        .select("window_start", "event_type", "n")
      val mismatches = streamed.join(batch, Seq("window_start", "event_type"))
        .filter(streamed("n") =!= batch("n")).count()
      assert(mismatches === 0)
      assert(streamed.count() > 0)
    } finally q.stop()
  }

  test("rate-limited sink paces commits and isolates row failures (O14/O17)") {
    val df = (1 to 40).toDF("i").repartition(4)
    val t0 = System.nanoTime()
    val (ok, err) = StreamingOps.rateLimitedForeach(df, rowsPerSecPerPartition = 100) {
      row => if (row.getInt(0) % 10 == 0) throw new RuntimeException("boom")
    }
    val elapsedMs = (System.nanoTime() - t0) / 1000000L
    assert(ok === 36 && err === 4)       // failures counted, never fatal
    // 10 rows per partition at 100 rows/s -> ≥ ~90ms per partition
    assert(elapsedMs >= 80, s"no pacing observed: ${elapsedMs}ms")
  }

  test("unthrottled sink commits everything") {
    val df = (1 to 100).toDF("i")
    val (ok, err) = StreamingOps.rateLimitedForeach(df, rowsPerSecPerPartition = 0)(_ => ())
    assert(ok === 100 && err === 0)
  }

  test("cancellable job group: body result returned, partial work stands (O16)") {
    val n = StreamingOps.runCancellable(spark, "g1") {
      Tables.lineitem(spark, sf).count()
    }
    assert(n > 0)
  }

  test("session_window streaming agrees with the batch lag-based sessionize") {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val rawSchema = spark.read.parquet(s"$sf/events.parquet").schema
    val stream = StreamingOps.fileStream(spark, eventsDir, rawSchema)
      .transform(Tables.normalizeEventTs)
    val q = stream
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_window.start").as("session_start"), col("n_events"))
      .writeStream.outputMode("complete")
      .format("memory").queryName("sess_out").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("sess_out")
        .orderBy("user_id", "session_start").collect()
      val batch = StreamingOps.sessionize(eventsBatch, 30)
        .select(col("user_id"), col("session_start"), col("n_events"))
        .orderBy("user_id", "session_start").collect()
      assert(streamed.length === batch.length && streamed.length > 0)
      streamed.zip(batch).foreach { case (s, b) => assert(s === b) }
    } finally q.stop()
  }

  test("native session_window boundary: exact-gap merges, gap+1s splits") {
    val df = Seq(
      (1L, 1L, "2024-01-01 10:00:00", 1.0),
      (1L, 2L, "2024-01-01 10:30:00", 1.0),  // exactly 30:00 → MERGES
      (1L, 3L, "2024-01-01 11:00:01", 1.0))  // 30:01 after #2 → splits
      .toDF("user_id", "event_id", "ts_s", "value")
      .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
    val out = StreamingOps.nativeSessionWindows(df).collect()
    assert(out.length === 2, out.mkString("; "))
    // session_end = last event + gap
    assert(out.head.getAs[java.sql.Timestamp]("session_end").toString
      === "2024-01-01 11:00:00.0")
    assert(out.head.getAs[Long]("n_events") === 2L)
  }

  test("rate source produces rows (streaming source discovery family)") {
    val q = spark.readStream.format("rate")
      .option("rowsPerSecond", "50").load()
      .writeStream.format("memory").queryName("rate_out").start()
    try {
      Thread.sleep(1500)
      q.processAllAvailable()
      assert(spark.table("rate_out").count() > 0)
    } finally q.stop()
  }

  test("rate-limited STREAM writer paces and isolates errors per batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Int]
    StreamSinkProbe.seen.set(0)
    // NOTE: commit closures are serialized per task even in local mode —
    // shared state must live in a JVM singleton, not a captured local
    val q = StreamingOps.rateLimitedStreamWriter(
        input.toDS().toDF(), rowsPerSecPerPartition = 0) { row =>
        if (row.getInt(0) % 5 == 0) throw new RuntimeException("boom")
        StreamSinkProbe.seen.incrementAndGet(); ()
      }.start()
    try {
      input.addData(1 to 10: _*)
      q.processAllAvailable()
      assert(StreamSinkProbe.seen.get() === 8) // 5 and 10 fail, isolated per-row
    } finally q.stop()
  }

  test("streaming dedup drops cross-batch duplicate keys (state bounded by watermark)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Long)]
    val src = input.toDF().toDF("event_id", "ts_ms")
      .withColumn("ts", timestamp_millis(col("ts_ms")))
    val q = StreamingOps.streamingDedup(src, Seq("event_id"), "10 minutes")
      .writeStream.format("memory").queryName("sdedup").outputMode("append")
      .start()
    try {
      input.addData((1L, 1000L), (2L, 2000L))
      q.processAllAvailable()
      input.addData((1L, 3000L), (3L, 4000L)) // 1 is a dup: dropped
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("sdedup").select("event_id").as[Long].collect().sorted
    assert(got.toSeq === Seq(1L, 2L, 3L))
  }

  test("streaming dedup in event-time order matches the batch first-per-key analog") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    // (event_id, user_id, event_type, ts_ms): three keys, two with dups
    val rows = Seq(
      (10L, 1L, "click", 1000L), (11L, 1L, "click", 2000L),
      (12L, 1L, "view", 3000L),
      (13L, 2L, "click", 61000L), (14L, 2L, "click", 61500L),
      (15L, 2L, "click", 130000L))
    def mkDf(df: org.apache.spark.sql.DataFrame) = df
      .toDF("event_id", "user_id", "event_type", "ts_ms")
      .withColumn("ts", timestamp_millis(col("ts_ms")))
      .withColumn("minute", date_trunc("minute", col("ts")))
    val input = MemoryStream[(Long, Long, String, Long)]
    val q = StreamingOps.streamingDedup(mkDf(input.toDF()),
        Seq("user_id", "event_type", "minute"), "10 minutes")
      .writeStream.format("memory").queryName("sdedup2").outputMode("append")
      .start()
    try {
      rows.foreach { r => input.addData(r) } // event-time arrival order
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("sdedup2")
      .select("user_id", "event_type", "event_id").as[(Long, String, Long)]
      .collect().sorted
    val batch = StreamingOps.firstEventPerKey(mkDf(rows.toDF()))
      .select(col("user_id"), col("event_type"),
        col("first_event_id").as("event_id"))
      .as[(Long, String, Long)].collect().sorted
    assert(streamed.toSeq === batch.toSeq)
    // the batch analog also reports the collapse counts
    val nDups = StreamingOps.firstEventPerKey(mkDf(rows.toDF()))
      .agg(sum(col("n_dups"))).as[Long].head()
    assert(nDups === rows.length)
  }

  test("flatMapGroupsWithState emits a session row only when the session closes") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StreamingOps.UserStamp
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[UserStamp]
    val q = StreamingOps.closedSessions(input.toDS(), gapMs = 10000L)
      .writeStream.format("memory").queryName("closed_sessions")
      .outputMode("append").start()
    try {
      input.addData(UserStamp(1L, 0L), UserStamp(1L, 1000L))
      q.processAllAvailable()
      // open session: nothing emitted yet
      assert(spark.table("closed_sessions").isEmpty)
      input.addData(UserStamp(1L, 50000L)) // gap > 10s closes the session
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("closed_sessions")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got === Seq((1L, 0L, 1000L, 2L)))
  }

  test("stream-stream join matches clicks to purchases within the time band") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(Long, Long)]
    val purchases = MemoryStream[(Long, Long)]
    def withTs(df: org.apache.spark.sql.DataFrame) =
      df.toDF("user_id", "ts_ms")
        .withColumn("ts", timestamp_millis(col("ts_ms"))).drop("ts_ms")
    val q = StreamingOps.clickToPurchaseJoin(
        withTs(clicks.toDF()), withTs(purchases.toDF()), windowMinutes = 10)
      .writeStream.format("memory").queryName("ss_join").outputMode("append")
      .start()
    try {
      val base = 1000000000000L // realistic event time, away from epoch 0
      clicks.addData((1L, base), (2L, base))
      // user 1 purchases inside the band; user 2 purchases 20 min later
      purchases.addData((1L, base + 60000L), (2L, base + 1200000L))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("ss_join").select("c_user").as[Long].collect().toSeq
    assert(got === Seq(1L))
  }

  test("stream-stream band join on fixture events == its batch analog") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val ev = Tables.events(spark, sf)
    def side(kind: String) = ev.filter(col("event_type") === kind)
      .select(col("user_id"), col("event_id"), expr("unix_micros(ts)").as("us"))
      .as[(Long, Long, Long)].collect().toSeq
    val clicks = MemoryStream[(Long, Long, Long)]
    val purchases = MemoryStream[(Long, Long, Long)]
    def withTs(df: org.apache.spark.sql.DataFrame) =
      df.toDF("user_id", "event_id", "us")
        .withColumn("ts", timestamp_micros(col("us"))).drop("us")
    // the streaming operator keys pairs by (c_user, c_ts, p_ts); carry
    // event ids through for an exact pair comparison
    val q = StreamingOps.clickToPurchaseJoin(
        withTs(clicks.toDF()).withColumnRenamed("event_id", "click_id"),
        withTs(purchases.toDF()).withColumnRenamed("event_id", "purchase_id"),
        windowMinutes = 10)
      .writeStream.format("memory").queryName("ss_fixture_join")
      .outputMode("append").start()
    try {
      clicks.addData(side("click"))
      purchases.addData(side("purchase"))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("ss_fixture_join")
      .select("click_id", "purchase_id").as[(Long, Long)].collect().toSet
    val batch = StreamingOps.clickAttributionBatch(ev)
      .select("click_id", "purchase_id").as[(Long, Long)].collect().toSet
    assert(streamed === batch)
    assert(batch.nonEmpty)
  }

  test("stream-stream LEFT OUTER join emits unmatched rows after watermark") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(Long, Long)]
    val purchases = MemoryStream[(Long, Long)]
    def withTs(df: org.apache.spark.sql.DataFrame) =
      df.toDF("user_id", "ts_ms")
        .withColumn("ts", timestamp_millis(col("ts_ms"))).drop("ts_ms")
    val q = StreamingOps.clickToPurchaseLeftJoin(
        withTs(clicks.toDF()), withTs(purchases.toDF()), windowMinutes = 10)
      .writeStream.format("memory").queryName("ss_left").outputMode("append")
      .start()
    try {
      val base = 1000000000000L
      clicks.addData((1L, base), (2L, base))
      purchases.addData((1L, base + 60000L)) // only user 1 matches
      q.processAllAvailable()
      // push BOTH watermarks far past user 2's band so its null-row flushes
      clicks.addData((9L, base + 7200000L))
      purchases.addData((9L, base + 7200000L))
      q.processAllAvailable()
      clicks.addData((10L, base + 10800000L))
      purchases.addData((10L, base + 10800000L))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("ss_left")
      .select(col("c_user"), col("p_user").isNull.as("unmatched")).collect()
      .map(r => (r.getLong(0), r.getBoolean(1))).toSet
    assert(rows.contains((1L, false)), rows.toString)
    assert(rows.contains((2L, true)), s"expected user 2 null-row: $rows")
  }

  test("stream-static join enriches a stream against a batch dimension") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    // the everyday enrichment shape: an unbounded stream joined to a
    // static dim — no watermark needed (the dim is complete), and the
    // dim side broadcasts per micro-batch
    val stream = MemoryStream[Long]
    val dim = Tables.nation(spark, sf)
      .select(col("n_nationkey").cast("long").as("k"), col("n_name"))
    val q = stream.toDF().toDF("k")
      .join(broadcast(dim), Seq("k"))
      .writeStream.format("memory").queryName("enrich_out")
      .outputMode("append").start()
    try {
      stream.addData(0L, 1L, 2L, 999L) // 999 has no dim row
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("enrich_out").select("k", "n_name")
      .as[(Long, String)].collect().toMap
    assert(got.keySet === Set(0L, 1L, 2L))
    assert(got(1L) === "NATION_1")
  }

  test("Trigger.AvailableNow drains the backlog then stops (backfill mode)") {
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("graft-avail").toString
    (1 to 3).foreach { i =>
      Seq((i.toLong, s"f$i")).toDF("k", "v").coalesce(1)
        .write.mode("append").parquet(dir)
    }
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("v", StringType)))
    val q = StreamingOps.fileStream(spark, dir, schema, maxFilesPerTrigger = 1)
      .writeStream.format("memory").queryName("avail_out")
      .trigger(Trigger.AvailableNow()).start()
    // AvailableNow = process everything discoverable NOW (across as many
    // micro-batches as maxFilesPerTrigger dictates), then terminate —
    // the production backfill/catch-up pattern, no manual stop
    assert(q.awaitTermination(120000), "query did not self-terminate")
    assert(spark.table("avail_out").count() === 3)
  }

  test("file stream + foreachBatch merge writeback: O20 discovery into O18 row commit") {
    import org.apache.spark.sql.types._
    val srcDir = java.nio.file.Files.createTempDirectory("graft-merge-src").toString
    val tgt = java.nio.file.Files.createTempDirectory("graft-merge-tgt").toString + "/table"
    Seq((1L, "old"), (2L, "old"), (3L, "old")).toDF("key", "value")
      .coalesce(1).write.mode("overwrite").parquet(tgt)
    val schema = StructType(Seq(
      StructField("key", LongType), StructField("value", StringType)))
    val q = StreamingOps.fileStream(spark, srcDir, schema)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!batch.isEmpty)
          graft.sources.Sources.mergeColumnUpdate(spark, tgt, batch, "key", "value")
        ()
      }
      .option("checkpointLocation", srcDir + "-chk")
      .start()
    try {
      Seq((2L, "new")).toDF("key", "value")
        .coalesce(1).write.mode("append").parquet(srcDir)
      q.processAllAvailable()
    } finally q.stop()
    val got = graft.sources.Sources.readVersioned(spark, tgt)
      .as[(Long, String)].collect().toMap
    assert(got === Map(1L -> "old", 2L -> "new", 3L -> "old"))
  }

  test("checkpoint restart resumes the file stream exactly-once (no replay)") {
    import org.apache.spark.sql.types._
    val srcDir = java.nio.file.Files.createTempDirectory("graft-ckpt-src").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft-ckpt-out").toString + "/t"
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val schema = StructType(Seq(StructField("id", LongType)))
    def start() = StreamingOps.fileStream(spark, srcDir, schema,
        maxFilesPerTrigger = 10)
      .writeStream.format("parquet")
      .option("path", outDir).option("checkpointLocation", ckpt)
      .outputMode("append").start()

    val q1 = start()
    try {
      Seq(1L, 2L, 3L).toDF("id").coalesce(1).write.mode("append").parquet(srcDir)
      q1.processAllAvailable()
    } finally q1.stop()

    // second incarnation, same checkpoint: only the NEW file is read
    val q2 = start()
    try {
      Seq(4L, 5L).toDF("id").coalesce(1).write.mode("append").parquet(srcDir)
      q2.processAllAvailable()
    } finally q2.stop()

    val got = spark.read.parquet(outDir).as[Long].collect().sorted.toSeq
    assert(got === Seq(1L, 2L, 3L, 4L, 5L)) // each row exactly once
  }

  test("foreachBatch MERGE survives an injected mid-batch crash: replay after restart neither loses nor duplicates rows") {
    import org.apache.spark.sql.types._
    val srcDir = java.nio.file.Files.createTempDirectory("graft-crash-src").toString
    val tgt = java.nio.file.Files.createTempDirectory("graft-crash-tgt").toString + "/table"
    val ckpt = java.nio.file.Files.createTempDirectory("graft-crash-ckpt").toString
    Seq((1L, "old"), (2L, "old"), (3L, "old")).toDF("key", "value")
      .coalesce(1).write.mode("overwrite").parquet(tgt)
    val schema = StructType(Seq(
      StructField("key", LongType), StructField("value", StringType)))
    val merges = new java.util.concurrent.atomic.AtomicInteger(0)
    def start() = StreamingOps.fileStream(spark, srcDir, schema)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          graft.sources.Sources.upsert(spark, tgt, batch, "key")
          // crash AFTER the merge but BEFORE the checkpoint commits the
          // batch — the worst window: the sink committed, the source
          // offset didn't, so restart MUST replay this batch
          if (merges.incrementAndGet() == 1)
            throw new RuntimeException("injected crash before checkpoint commit")
        }
        ()
      }
      .option("checkpointLocation", ckpt).start()

    val q1 = start()
    Seq((2L, "new"), (10L, "ins")).toDF("key", "value")
      .coalesce(1).write.mode("append").parquet(srcDir)
    try q1.processAllAvailable() catch { case _: Throwable => () }
    assert(q1.exception.isDefined, "injected failure did not surface")
    try q1.stop() catch { case _: Throwable => () }
    // the merge DID land before the crash — the replay must not undo
    // or double-apply it
    assert(graft.sources.Sources.readVersioned(spark, tgt)
      .as[(Long, String)].collect().toMap
      === Map(1L -> "old", 2L -> "new", 3L -> "old", 10L -> "ins"))

    // second incarnation over the SAME checkpoint: the uncommitted
    // batch replays (at-least-once delivery) and the keyed MERGE makes
    // the replay idempotent (exactly-once OUTCOME); later batches flow
    val q2 = start()
    try {
      Seq((3L, "upd")).toDF("key", "value")
        .coalesce(1).write.mode("append").parquet(srcDir)
      q2.processAllAvailable()
    } finally q2.stop()
    assert(merges.get() >= 3, s"batch was not replayed (merges=${merges.get()})")
    val rows = graft.sources.Sources.readVersioned(spark, tgt)
      .as[(Long, String)].collect().toSeq
    assert(rows.map(_._1).distinct.length === rows.length, "duplicated keys")
    assert(rows.toMap ===
      Map(1L -> "old", 2L -> "new", 3L -> "upd", 10L -> "ins"))
  }

  test("streaming ingestion into the standing BM25 index: crash-replayed appends stay exactly-once") {
    import org.apache.spark.sql.types._
    import graft.ops.Text
    // the production shape: a standing index serves while a stream of
    // new documents folds in per micro-batch via the idempotent
    // bm25Append (anti-join by doc_id — at-least-once delivery from a
    // crash-replayed batch still yields the exactly-once layout)
    val docs = Tables.documents(spark, sf).limit(300).localCheckpoint()
    val baseDocs = docs.filter(col("doc_id") % 5 =!= 4)
    val srcDir = java.nio.file.Files.createTempDirectory("graft-bm25s-src").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-bm25s-ckpt").toString
    val idx = java.nio.file.Files.createTempDirectory("graft-bm25s-idx").toString + "/idx"
    Text.bm25BuildIndex(baseDocs, idx).count()
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val appends = new java.util.concurrent.atomic.AtomicInteger(0)
    def start() = StreamingOps.fileStream(spark, srcDir, schema)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          Text.bm25Append(batch, idx)
          // crash after the append landed but before the checkpoint
          // commits the offset — the batch WILL replay on restart
          if (appends.incrementAndGet() == 1)
            throw new RuntimeException("injected crash before checkpoint commit")
        }
        ()
      }
      .option("checkpointLocation", ckpt).start()

    val q1 = start()
    docs.filter(col("doc_id") % 10 === 4).select(col("doc_id"), col("text"))
      .coalesce(1).write.mode("append").parquet(srcDir)
    try q1.processAllAvailable() catch { case _: Throwable => () }
    assert(q1.exception.isDefined, "injected failure did not surface")
    try q1.stop() catch { case _: Throwable => () }

    // restart over the same checkpoint: batch 1 replays (idempotent
    // no-op), then the second slice of the stream flows
    val q2 = start()
    try {
      docs.filter(col("doc_id") % 10 === 9).select(col("doc_id"), col("text"))
        .coalesce(1).write.mode("append").parquet(srcDir)
      q2.processAllAvailable()
    } finally q2.stop()
    assert(appends.get() >= 3, s"batch was not replayed (appends=${appends.get()})")

    // the layout must now be EXACTLY the from-scratch index over the
    // full corpus: same dl row set (no duplicated doc from the replay)
    // and the probe ranking identical to the inline BM25 plan
    assert(graft.sources.Snapshot.require(idx).read(spark, "dl")
      .count() === docs.count())
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))
    assert(Text.bm25ScoreStored(spark, idx, 10).collect().map(key).toSeq
      === Text.bm25TopK(docs, 10).collect().map(key).toSeq)
  }

  test("streaming ingestion into the standing IVFADC index: crash-replayed appends stay exactly-once") {
    import org.apache.spark.sql.types._
    import graft.ops.Similarity
    // mirror of the BM25 ingestion spec for the ANN side: new vectors
    // stream into the stored layout via the idempotent ivfpqAppend
    // (assign+encode with the STANDING quantizers, anti-join merge),
    // and a crash-replayed micro-batch must leave the layout identical
    // to a clean run of the same appends
    val emb = Tables.embeddings(spark, sf).limit(400).localCheckpoint()
    val baseCorpus = emb.filter(col("vec_id") % 5 =!= 4)
    val srcDir = java.nio.file.Files.createTempDirectory("graft-ivfs-src").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ivfs-ckpt").toString
    val idx = java.nio.file.Files.createTempDirectory("graft-ivfs-idx").toString + "/idx"
    val ref = java.nio.file.Files.createTempDirectory("graft-ivfs-ref").toString + "/idx"
    Similarity.ivfpqBuildIndex(baseCorpus, idx, 16).count()
    Similarity.ivfpqBuildIndex(baseCorpus, ref, 16).count()
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    val appends = new java.util.concurrent.atomic.AtomicInteger(0)
    def start() = StreamingOps.fileStream(spark, srcDir, schema)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          Similarity.ivfpqAppend(batch, idx)
          if (appends.incrementAndGet() == 1)
            throw new RuntimeException("injected crash before checkpoint commit")
        }
        ()
      }
      .option("checkpointLocation", ckpt).start()

    val b1 = emb.filter(col("vec_id") % 10 === 4).select(col("vec_id"), col("embedding"))
    val b2 = emb.filter(col("vec_id") % 10 === 9).select(col("vec_id"), col("embedding"))
    val q1 = start()
    b1.coalesce(1).write.mode("append").parquet(srcDir)
    try q1.processAllAvailable() catch { case _: Throwable => () }
    assert(q1.exception.isDefined, "injected failure did not surface")
    try q1.stop() catch { case _: Throwable => () }
    val q2 = start()
    try {
      b2.coalesce(1).write.mode("append").parquet(srcDir)
      q2.processAllAvailable()
    } finally q2.stop()
    assert(appends.get() >= 3, s"batch was not replayed (appends=${appends.get()})")

    // clean reference: the same two appends, no crash
    Similarity.ivfpqAppend(b1, ref)
    Similarity.ivfpqAppend(b2, ref)
    val n = emb.count()
    for (b <- Seq(idx, ref); part <- Seq("cells", "codes")) {
      val ids = graft.sources.Snapshot.require(b).read(spark, part)
        .select("vec_id").as[Long].collect()
      assert(ids.length === n.toInt, s"$b/$part has ${ids.length} rows, want $n")
      assert(ids.distinct.length === ids.length, s"$b/$part has duplicate vec_ids")
    }
    val queries = Similarity.heldQueries(emb, 4)
    def probe(b: String) = Similarity.ivfpqScoreStored(spark, b, queries, 5, 4, 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq
    assert(probe(idx) === probe(ref))
  }

  test("lateDataAudit: time-ordered arrival (no jitter) never drops; jitter creates real lates") {
    val ev = graft.Tables.events(spark, sf)
    // jitterSeconds=1 -> pmod(h,1)=0 -> arrival == event time: an event
    // in arrival-hour H has ts >= H's start >= every earlier batch's
    // max ts, so nothing can be behind the watermark
    val ordered = StreamingOps.lateDataAudit(ev, 30, 3600L, 1L)
      .agg(sum("n_late")).as[Long].collect().head
    assert(ordered === 0L)
    val jittered = StreamingOps.lateDataAudit(ev)
      .select("n_events", "n_late", "n_on_time")
      .as[(Long, Long, Long)].collect()
    assert(jittered.map(_._2).sum > 0, "jittered arrival produced no lates")
    jittered.foreach { case (n, l, o) => assert(l + o === n) }
    // accounting must not lose events
    assert(jittered.map(_._1).sum === ev.count())
  }

  test("streaming near-dup admission gate: crash-replayed batches stay exactly-once") {
    import org.apache.spark.sql.types._
    import graft.ops.Dedup
    // the streaming-curation capstone: micro-batches are verdicted
    // against the STANDING near-dup band index, survivors fold in as
    // delta segments, and a crash-replayed batch must leave the index
    // identical to a clean run (bm25Append's segment-id device)
    val docs = Tables.documents(spark, sf).limit(300).localCheckpoint()
    val history = docs.filter(col("doc_id") % 5 =!= 4).localCheckpoint()
    val srcDir = java.nio.file.Files.createTempDirectory("graft-adm-src").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-adm-ckpt").toString
    val idx = java.nio.file.Files.createTempDirectory("graft-adm-idx").toString + "/idx"
    val ref = java.nio.file.Files.createTempDirectory("graft-adm-ref").toString + "/idx"
    Dedup.dedupBuildIndex(history, idx).count()
    Dedup.dedupBuildIndex(history, ref).count()
    // batch 1 = 5 verbatim copies of history docs (guaranteed dups —
    // Jaccard 1.0) plus genuinely new docs; batch 2 = more new docs
    val copies = history.orderBy(col("doc_id")).limit(5)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    val b1 = docs.filter(col("doc_id") % 10 === 4)
      .select(col("doc_id"), col("text")).unionByName(copies)
      .localCheckpoint()
    val b2 = docs.filter(col("doc_id") % 10 === 9)
      .select(col("doc_id"), col("text")).localCheckpoint()
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val admits = new java.util.concurrent.atomic.AtomicInteger(0)
    def start() = StreamingOps.fileStream(spark, srcDir, schema)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          Dedup.dedupAdmit(batch, idx).count()
          // crash after the admit landed but before the checkpoint
          // commits the offset — the batch WILL replay on restart
          if (admits.incrementAndGet() == 1)
            throw new RuntimeException("injected crash before checkpoint commit")
        }
        ()
      }
      .option("checkpointLocation", ckpt).start()

    val q1 = start()
    b1.coalesce(1).write.mode("append").parquet(srcDir)
    try q1.processAllAvailable() catch { case _: Throwable => () }
    assert(q1.exception.isDefined, "injected failure did not surface")
    try q1.stop() catch { case _: Throwable => () }
    val q2 = start()
    try {
      b2.coalesce(1).write.mode("append").parquet(srcDir)
      q2.processAllAvailable()
    } finally q2.stop()
    assert(admits.get() >= 3, s"batch was not replayed (admits=${admits.get()})")

    // clean reference: the same two admissions, no crash
    val r1 = Dedup.dedupAdmit(b1, ref).collect()
    val r2 = Dedup.dedupAdmit(b2, ref).collect()
    // the constructed verbatim copies were all rejected
    val rejected = r1.filter(r => !r.getBoolean(5)).map(_.getLong(0)).toSet
    assert(rejected.count(_ >= 1000000L) === 5,
      s"verbatim history copies escaped the gate: $rejected")
    // crash-replayed index serves the SAME doc set as the clean one
    def served(b: String): Set[Long] = {
      val snap = graft.sources.Snapshot.require(b)
      val s0 = snap.read(spark, "sizes").select("doc_id")
      val all = snap.readOpt(spark, "sizes_delta") match {
        case Some(d) => s0.unionByName(d.select("doc_id"))
        case None    => s0
      }
      all.as[Long].collect().toSet
    }
    val admittedRef = (r1 ++ r2).filter(_.getBoolean(5)).map(_.getLong(0)).toSet
    val historyIds = history.select("doc_id").as[Long].collect().toSet
    assert(served(ref) === historyIds ++ admittedRef)
    assert(served(idx) === served(ref),
      "crash-replayed index diverged from the clean run")
    // and no duplicate signature rows anywhere in the served sizes
    val idxSnap = graft.sources.Snapshot.require(idx)
    val allSizes = idxSnap.read(spark, "sizes").select("doc_id")
      .unionByName(idxSnap.read(spark, "sizes_delta").select("doc_id"))
      .as[Long].collect()
    assert(allSizes.distinct.length === allSizes.length,
      "replay duplicated a signature row")
  }

  test("sessionize respects the gap rule on a crafted trace") {
    val rows = Seq(
      (1L, "2024-01-01 00:00:00", 1L), (2L, "2024-01-01 00:10:00", 1L),
      (3L, "2024-01-01 01:10:00", 1L), // 60min gap > 30 -> new session
      (4L, "2024-01-01 00:05:00", 2L))
      .map { case (id, t, u) => (id, java.sql.Timestamp.valueOf(t), u, 1.0) }
      .toDF("event_id", "ts", "user_id", "value")
    val sessions = StreamingOps.sessionize(rows, 30)
      .select("user_id", "session_id", "n_events")
      .as[(Long, Long, Long)].collect().toSet
    assert(sessions === Set((1L, 1L, 2L), (1L, 2L, 1L), (2L, 1L, 1L)))
  }
}
