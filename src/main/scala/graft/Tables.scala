package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated fixture tables (TESTDATA.md /
  * FIXTURES.md). One parquet file per table under the scale-factor dir.
  *
  * All reads go through `spark.read.parquet` so Catalyst's vectorized
  * reader, predicate pushdown, and column pruning apply. At cluster
  * scale the same call reads a partitioned directory tree; nothing here
  * assumes a single file.
  */
object Tables {
  /** Resolved-relation cache, keyed by (session, path). Every
    * `spark.read.parquet(path)` call runs schema inference as its own
    * Spark job plus a fresh file listing — measured ~50-150 ms of
    * driver/inference overhead per QUERY CONSTRUCTION, paid again on
    * every bench pass for every query (a 205-query board re-reads the
    * same ten fixture paths ~500 times per pass). Caching the resolved
    * DataFrame is METADATA caching only — the logical plan and file
    * index — never rows: every action still computes from the parquet
    * bytes. The same assumption Spark's own catalog/FileStatusCache
    * makes applies: a fixture path is immutable within a session (the
    * fixtures are generated once per scale factor and never rewritten;
    * mutable layouts — stored indexes, sinks — do NOT go through
    * [[table]]). A session's entries are dropped when its context
    * stops, so a stopped session and its resolved plans do not stay
    * reachable for the life of the JVM.
    */
  private[graft] val relationCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val sc = spark.sparkContext
    graft.sources.Sources.onContextEnd(sc, "Tables.relationCache") {
      relationCache.keySet.removeIf(_._1.sparkContext eq sc); ()
    }
    val path = s"$sfDir/$name.parquet"
    relationCache.computeIfAbsent((spark, path), _ => spark.read.parquet(path))
  }

  def region(s: SparkSession, d: String): DataFrame   = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  val names: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Register every fixture table as a temp view so the whole engine is
    * reachable from the plain SQL surface (`spark.sql("... FROM
    * lineitem")`) — the same names the DuckDB oracles use.
    */
  def registerViews(spark: SparkSession, sfDir: String): Unit =
    names.foreach { n =>
      val df = if (n == "events") events(spark, sfDir) else table(spark, sfDir, n)
      df.createOrReplaceTempView(n)
    }

  /** `events.ts` normalization to plain TimestampType, dispatched on
    * the PHYSICAL encoding the fixture writer chose — the generator has
    * shipped both INT64 TIMESTAMP(NANOS) (read as raw longs under the
    * legacy conf, converted with integral division: micros since epoch
    * exceed 2^53 in nanos, so a double round-trip would lose µs) and
    * untagged µs timestamps (isAdjustedToUTC=false, which Spark 4
    * infers as TIMESTAMP_NTZ; under the session's fixed UTC zone the
    * NTZ→LTZ cast is an exact reinterpretation). Downstream
    * window/watermark logic always sees TimestampType.
    */
  def normalizeEventTs(raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw // already TimestampType
    }
  }

  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeEventTs(table(s, d, "events"))
  }
}
