package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators. Every value is a pure function of
  * (seed, row id), computed with Spark's xxhash64, so the same seed
  * gives byte-identical tables however the rows are partitioned. The
  * tables have the fixture schemas the library reads (FIXTURES.md):
  * `lineitem`, `documents` and `embeddings` at sf0.1 shape.
  */
object Inputs {

  /** Documents and embeddings at sf0.1. */
  val nDocs = 5000
  val nVecs = 2000
  val dim = 64
  val nLabels = 10

  /** Shared vocabulary: the fixture's content words plus the language
    * profiles' stopwords, so language ID and the stopword gates see
    * realistic mixes.
    */
  val contentWords: Seq[String] = Seq("batch", "part", "spark", "line",
    "column", "order", "small", "sort", "fast", "value", "scan", "hash",
    "slow", "group", "agg", "filter", "query", "big", "key", "window",
    "row", "table", "stream", "merge", "data", "join", "customer",
    "vector", "a", "the", "index", "probe", "shard", "commit", "cell",
    "token", "delta", "gate", "page", "field")
  val langs: Seq[String] = Seq("en", "de", "es", "fr", "zh")
  val stopwords: Map[String, Seq[String]] = graft.ops.Text.langProfiles.toMap

  /** A seeded 64-bit hash of (seed, salt, parts...) — the one source of
    * randomness of every generated column.
    */
  def h(seed: Long, salt: Int, parts: Column*): Column =
    xxhash64((lit(seed) +: lit(salt) +: parts): _*)

  /** A uniform draw in [0, n) from [[h]]. */
  def u(n: Long, seed: Long, salt: Int, parts: Column*): Column =
    pmod(h(seed, salt, parts: _*), lit(n))

  /** Seeded bijection on 64-bit ids (xor with a seeded key, then three
    * xorshift steps; each step is invertible), so distinct ids give
    * distinct keys.
    */
  def rowKey(id: Column, seed: Long): Column = {
    val key = new scala.util.Random(seed).nextLong()
    val x0 = id.bitwiseXOR(lit(key))
    val x1 = x0.bitwiseXOR(shiftleft(x0, 13))
    val x2 = x1.bitwiseXOR(shiftrightunsigned(x1, 7))
    x2.bitwiseXOR(shiftleft(x2, 17))
  }

  /** `rows` lineitem rows in the fixture schema plus a unique `rowkey`.
    * Quantities are 1..50, so `l_quantity > 50` never holds.
    */
  def lineitem(spark: SparkSession, seed: Long, rows: Long): DataFrame =
    spark.range(0L, rows, 1L, 8).select(
      rowKey(col("id"), seed).as("rowkey"),
      (u(150000L, seed, 1, col("id")) + 1).as("l_orderkey"),
      (u(20000L, seed, 2, col("id")) + 1).as("l_partkey"),
      (u(1000L, seed, 3, col("id")) + 1).as("l_suppkey"),
      (u(7L, seed, 4, col("id")) + 1).cast("int").as("l_linenumber"),
      (u(50L, seed, 5, col("id")) + 1).cast("double").as("l_quantity"),
      (u(10000000L, seed, 6, col("id")) / 100.0).as("l_extendedprice"),
      (u(11L, seed, 7, col("id")) / 100.0).as("l_discount"),
      (u(9L, seed, 8, col("id")) / 100.0).as("l_tax"),
      element_at(array(lit("A"), lit("N"), lit("R")),
        (u(3L, seed, 9, col("id")) + 1).cast("int")).as("l_returnflag"),
      element_at(array(lit("O"), lit("F")),
        (u(2L, seed, 10, col("id")) + 1).cast("int")).as("l_linestatus"),
      timestamp_seconds(lit(694224000L) +
        u(2500L, seed, 11, col("id")) * 86400L).as("l_shipdate"))

  private def pick(words: Seq[String], idx: Column): Column =
    element_at(array(words.map(lit): _*), (idx + 1).cast("int"))

  /** `n` documents with ids from `firstId`. Each token is a stopword of
    * the document's language with probability 1/5, else a content word;
    * one document in ten carries an email and a phone number for the
    * PII operators.
    */
  def documents(spark: SparkSession, seed: Long, n: Long,
                firstId: Long = 0L): DataFrame = {
    val id = col("id")
    val lang = pick(langs, u(langs.size, seed, 20, id))
    val nTok = (u(86L, seed, 21, id) + 15).cast("int")
    val stopIdx = langs.map(l => stopwords(l))
    val tokens = transform(sequence(lit(1), nTok), i => {
      val r = u(1000003L, seed, 22, id, i)
      when(pmod(r, lit(5L)) === 0,
        langs.indices.foldLeft(lit(null).cast("string")) { (acc, li) =>
          when(col("lang") === langs(li),
            pick(stopIdx(li), pmod(r, lit(stopIdx(li).size.toLong))))
            .otherwise(acc)
        })
        .otherwise(pick(contentWords, pmod(r, lit(contentWords.size.toLong))))
    })
    val pii = when(u(10L, seed, 23, id) === 0,
      concat(lit(" contact u"), u(100000L, seed, 24, id).cast("string"),
        lit("@example.org call "), (u(900L, seed, 25, id) + 100).cast("string"),
        lit("-"), (u(9000L, seed, 26, id) + 1000).cast("string")))
      .otherwise(lit(""))
    spark.range(firstId, firstId + n)
      .select(id, lang.as("lang"))
      .withColumn("text", concat(array_join(tokens, " "), pii))
      .select(id.as("doc_id"), col("text"), col("lang"),
        concat(lit("src"), pmod(id, lit(20L)).cast("string")).as("source"),
        length(col("text")).cast("long").as("n_chars"))
  }

  /** `n` vectors with ids from `firstId`: label centroid plus noise, so
    * neighbours share labels and an inverted-file index has structure
    * to exploit.
    */
  def embeddings(spark: SparkSession, seed: Long, n: Long,
                 firstId: Long = 0L): DataFrame = {
    def unit(x: Column): Column = (x - 1000000L).cast("double") / 1000000.0
    val label = u(nLabels.toLong, seed, 30, col("id")).cast("int")
    spark.range(firstId, firstId + n)
      .select(col("id").as("vec_id"), label.as("label"))
      .withColumn("embedding", transform(sequence(lit(0), lit(dim - 1)), j =>
        (unit(u(2000001L, seed, 31, col("label"), j)) +
          lit(0.8) * unit(u(2000001L, seed, 32, col("vec_id"), j)))
          .cast("float")))
      .select(col("vec_id"), col("embedding"), col("label"))
  }

  /** Replace the tokens at two seeded positions of `text` with seeded
    * content words: a near-copy with the same length and language.
    */
  def perturb(text: Column, seed: Long, id: Column): Column = {
    val tk = split(text, " ")
    val n = size(tk).cast("long")
    val p1 = u(1000003L, seed, 40, id) % n
    val p2 = u(1000003L, seed, 41, id) % n
    array_join(transform(tk, (t, i) =>
      when(i === p1, pick(contentWords, u(contentWords.size, seed, 42, id)))
        .when(i === p2, pick(contentWords, u(contentWords.size, seed, 43, id)))
        .otherwise(t)), " ")
  }

  /** `n` planted copies of seeded source documents, with ids from
    * `firstId` and the source id in `src_id`; `near` copies get two
    * token edits ([[perturb]]), the others are exact.
    */
  def copies(docs: DataFrame, seed: Long, salt: Int, n: Int, firstId: Long,
             near: Boolean): DataFrame = {
    val order = org.apache.spark.sql.expressions.Window.orderBy(col("__r"), col("doc_id"))
    val picked = docs.withColumn("__r", h(seed, salt, col("doc_id")))
      .orderBy(col("__r"), col("doc_id")).limit(n)
      .withColumn("__i", row_number().over(order) - 1 + firstId)
    val text = if (near) perturb(col("text"), seed, col("__i")) else col("text")
    picked.select(col("__i").as("doc_id"), text.as("text"), col("lang"),
        col("source"), col("doc_id").as("src_id"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }
}
