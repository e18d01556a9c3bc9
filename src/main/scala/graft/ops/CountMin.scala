package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.sources.Sources

/** Count-Min sketch (Cormode & Muthukrishnan 2005) over the token
  * stream — the fixed-size frequency summary a streaming/merge-heavy
  * pipeline keeps when exact per-token counts would be unbounded state.
  *
  * Representation: the d×w counter matrix as a (row, col, n) DataFrame
  * of at most d·w rows — computed by ONE exploded pass + one hash
  * aggregation, independent of corpus size. Sketches merge by unioning
  * and re-summing (counter addition — associative, partition-order
  * free), which is what makes the summary maintainable incrementally
  * at 100 TB: the shuffle carries d·w counters per partition, never a
  * per-token row.
  *
  * Point estimate: `est(x) = min_j counters[j][h_j(x)]` — a one-sided
  * overestimate (collisions only ADD). All hashes are md5-derived, so
  * the sketch contents AND its exact overcounts are reproducible in
  * DuckDB for the oracle, unlike a murmur-based sketch.
  */
object CountMin {

  val P: Long = Dedup.P

  /** Sketch geometry: d=3 hash rows × w=1024 columns. Error bound:
    * est − true ≤ (e/w)·N with probability 1 − e^(−d); w scales with
    * the desired absolute error, not with corpus size.
    */
  val depth: Int = 3
  val width: Int = 1024

  /** Per-row (a, b) universal-hash constants (a < 2^30: a·v+b stays in
    * signed-64 for v < 2^32).
    */
  val cmAB: Seq[(Long, Long)] = Seq(
    (479001599L, 123456791L),
    (999999937L, 433494437L),
    (104395301L, 54018521L))

  private def bucket(v: Column, j: Int): Column = {
    val (a, b) = cmAB(j)
    ((lit(a) * v + lit(b)) % P) % width
  }

  /** Build the counter matrix over one string column: explode the d
    * (row, bucket) pairs per item and hash-aggregate. Output:
    * (row, col, n) with n = Σ occurrences hashed there.
    */
  def sketch(items: DataFrame, item: Column): DataFrame = {
    val v = Text.tokenHash(item).as("v")
    items.select(v)
      .select(posexplode(array((0 until depth).map(j => bucket(col("v"), j)): _*))
        .as(Seq("row", "col")))
      .groupBy(col("row"), col("col"))
      .agg(count(lit(1)).as("n"))
  }

  /** Point-estimate the frequency of each key in `keys(keyCol)` from a
    * prebuilt sketch: d broadcast joins of the (tiny) key set against
    * the (fixed-size) counter matrix, then the row-wise min. Missing
    * counters (nothing hashed there) read as 0.
    */
  def estimate(keys: DataFrame, keyCol: String, counters: DataFrame): DataFrame = {
    val v = Text.tokenHash(col(keyCol))
    var df = keys.withColumn("cm_v", v)
    (0 until depth).foreach { j =>
      df = df.withColumn(s"cm_h$j", bucket(col("cm_v"), j))
        .join(broadcast(counters.filter(col("row") === j)
            .select(col("col").as(s"cm_c$j"), col("n").as(s"cm_n$j"))),
          col(s"cm_h$j") === col(s"cm_c$j"), "left")
    }
    df.withColumn("est_n",
        least((0 until depth).map(j => coalesce(col(s"cm_n$j"), lit(0L))): _*))
      .drop((Seq("cm_v") ++ (0 until depth)
        .flatMap(j => Seq(s"cm_h$j", s"cm_c$j", s"cm_n$j"))): _*)
  }

  /** Heavy-hitter check over the document token stream: the exact
    * top-k tokens (total order: count desc, token asc) with their CMS
    * estimates and overcounts — one row per head token, the
    * oracle-checkable surface for the sketch family. At stream scale
    * the exact side is what you CAN'T afford; it is computed here
    * precisely to pin the sketch's one-sided error in the output.
    */
  def heavyHitters(documents: DataFrame, k: Int = 20): DataFrame = {
    val tok = documents
      .repartition(documents.sparkSession.sparkContext.defaultParallelism,
        col("doc_id"))
      .select(explode(Text.tokens(col("text"))).as("token"))
    val counters = sketch(tok, col("token"))
    // the head is held (k rows) so the top-k runs as a terminal
    // TakeOrderedAndProject job — left inline, a mid-plan orderBy+limit
    // plans as a full range-sort of the vocabulary under the joins
    val exact = Sources.hold(
      tok.groupBy(col("token")).agg(count(lit(1)).as("exact_n"))
        .orderBy(col("exact_n").desc, col("token")).limit(k),
      Some(k.toLong)).df
    // k rows in one partition: the output sort needs no exchange
    estimate(exact, "token", counters)
      .select(col("token"), col("exact_n"), col("est_n"),
        (col("est_n") - col("exact_n")).as("overcount"))
      .coalesce(1)
      .orderBy(col("exact_n").desc, col("token"))
  }
}
