package graft

import org.apache.spark.sql.functions._
import graft.functions.{GraftExtensions, StatsAggregator, VectorFunctions}

/** Custom function surfaces: the codegen'd vector_dot through both the
  * Column API and SQL (extension-registered), the typed Aggregator, and
  * a plain Scala UDF for completeness (SURVEY §2.2 UDF/UDAF).
  */
class FunctionsSpec extends SparkTestBase {
  import spark.implicits._

  test("vector_dot Column API matches driver-side computation") {
    val df = Seq((Array(1.0f, 2.0f, 3.0f), Array(4.0f, 5.0f, 6.0f))).toDF("a", "b")
    val got = df.select(VectorFunctions.float_dot(col("a"), col("b"))).as[Double].head()
    assert(got === (4.0 + 10.0 + 18.0))
  }

  test("vector_dot registered for SQL via GraftExtensions") {
    GraftExtensions.register(spark)
    Tables.embeddings(spark, sf).createOrReplaceTempView("emb_fn_test")
    val got = spark.sql(
      "SELECT vector_dot(embedding, embedding) AS n FROM emb_fn_test ORDER BY vec_id LIMIT 1")
      .as[Double].head()
    val exp = Tables.embeddings(spark, sf).orderBy("vec_id")
      .select(VectorFunctions.float_dot(col("embedding"), col("embedding")))
      .as[Double].head()
    assert(got === exp)
  }

  test("minhash_sig registered for SQL matches the Dedup pipeline signatures") {
    GraftExtensions.register(spark)
    val sig = spark.sql(
      "SELECT minhash_sig(split('a b c d e', ' ')) AS sig").as[Seq[Long]].head()
    val exp = graft.ops.Dedup
      .withMinhashSignature(Seq((1L, "a b c d e")).toDF("doc_id", "text"))
      .drop("doc_id").as[(Long, Long, Long, Long, Long, Long, Long, Long,
        Long, Long, Long, Long, Long, Long, Long, Long)].head()
    assert(sig === exp.productIterator.toSeq)
    val sh = spark.sql("SELECT simhash32(split('a b c', ' ')) AS h").as[Long].head()
    val shExp = graft.ops.Dedup.simhash(Seq((1L, "a b c")).toDF("doc_id", "text"))
      .select("simhash").as[Long].head()
    assert(sh === shExp)
  }

  test("phash_bands matches the builtin 64-tree formulation bit for bit") {
    import graft.ops.Multimodal
    // varied shapes: shorter than 64 chars (clen clamps to 1, tail
    // chunks empty), exactly 64, long, empty, multi-byte UTF-8 (char
    // offsets ≠ byte offsets), and whitespace
    val texts = Seq(
      "", "a", "short doc", "x" * 63, "y" * 64, "z" * 65,
      (0 until 1200).map(i => ('a' + i % 23).toChar).mkString,
      "héllo wörld ünïcode " * 12, "日本語テキスト" * 30, "  spaced   out  " * 10)
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val fast = df.select(col("doc_id"),
        graft.functions.PhashBands.phash_bands(col("text")).as("pb"))
      .select(col("doc_id") +: (0 until Multimodal.phashNBands).map(b =>
        element_at(col("pb"), b + 1).as(s"b$b")): _*)
      .collect().map(r => r.getLong(0) -> (1 to 4).map(r.getLong)).toMap
    val sized = df.select(col("doc_id"), col("text"),
      greatest(lit(1L),
        expr(s"length(text) div ${Multimodal.phashChunks}").cast("long"))
        .as("clen"))
    val ref = sized.select(col("doc_id") +:
        Multimodal.phashBandCols(col("text"), col("clen"))
          .zipWithIndex.map { case (c, b) => c.as(s"b$b") }: _*)
      .collect().map(r => r.getLong(0) -> (1 to 4).map(r.getLong)).toMap
    assert(fast === ref)
    // null payload → null fingerprint (same as the builtin's null bands)
    val nullRow = Seq((0L, Option.empty[String])).toDF("doc_id", "text")
      .select(graft.functions.PhashBands.phash_bands(col("text")).as("pb"))
      .collect().head
    assert(nullRow.isNullAt(0))
  }

  test("phash_bands registered for SQL and stays inside codegen") {
    GraftExtensions.register(spark)
    val viaSql = spark.sql("SELECT phash_bands('hello world') AS pb")
      .as[Seq[Long]].head()
    val viaCol = Seq("hello world").toDF("t")
      .select(graft.functions.PhashBands.phash_bands(col("t")))
      .as[Seq[Long]].head()
    assert(viaSql === viaCol && viaSql.length === 4)
    // every band stays in the unsigned 16-bit range by construction
    assert(viaSql.forall(b => b >= 0L && b <= 0xFFFFL))
  }

  test("codegen-fallback tripwire fires on the 64 KB failure mode, silent on the native path") {
    import graft.ops.Multimodal
    // initialize Spark's logging BEFORE installing the watcher:
    // Spark's first log call reconfigures the log4j context, which
    // would discard an appender installed earlier (exactly how a
    // solo `-z tripwire` run differs from the full suite, where an
    // earlier test already touched the session)
    spark.range(1).count()
    Bench.CodegenWatch.install()
    Bench.CodegenWatch.hits.clear()
    val docs = Tables.documents(spark, sf)
    // FIRST, a wording-independent-of-plan-size positive: force a
    // fallback deterministically by dropping the huge-method limit, so
    // the watcher's needle phrases are exercised against THIS Spark
    // build regardless of whether any natural plan blows janino's
    // limit. If a version bump rewords the fallback log, this breaks
    // loudly here instead of silently blinding the bench tripwire.
    val limitKey = "spark.sql.codegen.hugeMethodLimit"
    val savedLimit = spark.conf.get(limitKey)
    try {
      spark.conf.set(limitKey, "10")
      docs.groupBy(col("lang")).agg(count(lit(1))).count()
    } finally spark.conf.set(limitKey, savedLimit)
    assert(Bench.CodegenWatch.distinctHits.nonEmpty,
      "watcher missed a FORCED huge-method fallback — Spark's log " +
        "wording changed; update CodegenWatch.needles")
    Bench.CodegenWatch.hits.clear()
    // then reconstruct the round-4 failure: builtin 64-md5-tree fingerprint
    // fused with the banding self-join blows janino's method limit and
    // Spark silently falls back to interpreted execution — the watcher
    // must catch the fallback warnings
    val sized = docs.select(col("doc_id"), col("text"),
      greatest(lit(1L),
        expr(s"length(text) div ${Multimodal.phashChunks}").cast("long"))
        .as("clen"))
    val fp = sized.select(col("doc_id") +:
        Multimodal.phashBandCols(col("text"), col("clen"))
          .zipWithIndex.map { case (c, b) => c.as(s"b$b") }: _*)
      .repartition(4, col("doc_id"))
    val banded = fp.select(col("doc_id"),
      posexplode(array(col("b0"), col("b1"), col("b2"), col("b3")))
        .as(Seq("band_idx", "band_val")))
    val cand = banded.alias("x").join(banded.alias("y"),
        col("x.band_idx") === col("y.band_idx") &&
          col("x.band_val") === col("y.band_val") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id1"), col("y.doc_id").as("id2"))
      .distinct()
    // the fallback fires in the verify stage, where the fingerprint
    // recompute fuses with the Hamming projection into one generated
    // class
    val f1 = fp.select(col("doc_id").as("id1"), col("b0").as("x0"),
      col("b1").as("x1"), col("b2").as("x2"), col("b3").as("x3"))
    val f2 = fp.select(col("doc_id").as("id2"), col("b0").as("y0"),
      col("b1").as("y1"), col("b2").as("y2"), col("b3").as("y3"))
    cand.join(f1, Seq("id1")).join(f2, Seq("id2"))
      .select(col("id1"), col("id2"),
        expr("CAST(bit_count(x0 ^ y0) + bit_count(x1 ^ y1) + " +
          "bit_count(x2 ^ y2) + bit_count(x3 ^ y3) AS BIGINT)").as("hamming"))
      .filter(col("hamming") <= 4)
      .count()
    assert(Bench.CodegenWatch.distinctHits.nonEmpty,
      "watcher missed the known 64 KB codegen fallback")
    // the shipped native path must be fallback-free
    Bench.CodegenWatch.hits.clear()
    Multimodal.phashDups(docs, maxHamming = 4).count()
    assert(Bench.CodegenWatch.distinctHits.isEmpty,
      s"native path fell out of codegen: ${Bench.CodegenWatch.distinctHits}")
  }

  test("pair_combos enumerates exactly the i<j pairs of the HOF formulation") {
    val df = Seq(
      (1L, Seq(10L, 20L, 30L, 40L)),
      (2L, Seq(7L)),
      (3L, Seq.empty[Long])).toDF("id", "parts")
    val fast = df.select(col("id"),
        explode(graft.functions.PairCombos.pair_combos(col("parts"))).as("pr"))
      .select(col("id"), col("pr.a"), col("pr.b")).collect().toSet
    val ref = df.select(col("id"),
        explode(flatten(transform(col("parts"), (p1, i) =>
          transform(slice(col("parts"), i + 2, size(col("parts"))), p2 =>
            struct(p1.as("a"), p2.as("b")))))).as("pr"))
      .select(col("id"), col("pr.a"), col("pr.b")).collect().toSet
    assert(fast === ref)
    assert(fast.size === 6) // C(4,2); singleton and empty yield nothing
  }

  test("KMV sketch: exact below k, within 20% above k, merge-order-free") {
    // below k distinct values the sketch IS the exact set
    val small = (1 to 40).map(i => (i % 10).toLong).toDF("h")
    val sEst = small.agg(graft.functions.KmvSketch.estimate(col("h"))).as[Double].head()
    assert(sEst === 10.0)
    // above k: bottom-k estimator lands within 20% on fixture partkeys
    val li = Tables.lineitem(spark, sf)
    val row = graft.ops.Scalar.kmvDistinct(li).collect().head
    val (exact, est) = (row.getLong(1), row.getDouble(2))
    assert(exact > graft.functions.KmvSketch.k)
    assert(math.abs(est - exact) <= 0.2 * exact, s"est=$est exact=$exact")
    // determinism across partitionings (merge order must not matter)
    val a = li.repartition(3).groupBy("l_returnflag")
      .agg(graft.functions.KmvSketch.estimate(
        graft.ops.Text.tokenHash(col("l_partkey").cast("string"))).as("e"))
      .orderBy("l_returnflag").as[(String, Double)].collect().toSeq
    val b = li.repartition(17).groupBy("l_returnflag")
      .agg(graft.functions.KmvSketch.estimate(
        graft.ops.Text.tokenHash(col("l_partkey").cast("string"))).as("e"))
      .orderBy("l_returnflag").as[(String, Double)].collect().toSeq
    assert(a === b)
  }

  test("typed Aggregator distributes count/min/max/sum per group") {
    val events = Tables.events(spark, sf)
    val got = events.select(col("event_type"), col("value"))
      .groupBy("event_type")
      .agg(StatsAggregator.asColumn.as("stats"))
      .select(col("event_type"), col("stats._1").as("n"),
        col("stats._2").as("mn"), col("stats._3").as("mx"))
      .as[(String, Long, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    val exp = events.groupBy("event_type")
      .agg(count(lit(1)).as("n"), min("value").as("mn"), max("value").as("mx"))
      .as[(String, Long, Double, Double)].collect()
    exp.foreach { case (k, n, mn, mx) =>
      val (gn, gmn, gmx) = got(k)
      assert(gn === n && gmn === mn && gmx === mx, s"group $k")
    }
  }

  test("GraftExtensions wires a fresh session: SQL function + planner strategy") {
    // the shared session is built with the extension; the plain one,
    // on the same context, is not
    val plain = plainSession()
    assert(plain ne spark, "expected a brand-new session")
    val dot = "SELECT vector_dot(array(1.0F,2.0F), array(3.0F,4.0F)) AS d"
    intercept[org.apache.spark.sql.AnalysisException](plain.sql(dot))
    // injected SQL function resolves
    val d = spark.sql(dot).head().getDouble(0)
    assert(d === 11.0)
    // injected planner strategy plans the custom node WITHOUT the
    // PlanBridge fallback registration
    assert(!spark.experimental.extraStrategies.contains(
      graft.plans.TopKPerKeyStrategy))
    import spark.implicits._
    val df = Seq((1L, 5L), (1L, 9L), (1L, 7L), (2L, 3L))
      .toDF("key", "ord")
    val got = org.apache.spark.sql.graftbridge.PlanBridge
      .topKPerKey(df, Seq("key"), Seq("ord"), 2, registerStrategy = false)
      .as[(Long, Long)].collect().toSet
    assert(got === Set((1L, 9L), (1L, 7L), (2L, 3L)))
  }

  test("bench JSON line stays inside the driver's output-tail capture") {
    // worst case: every registered query name, long durations
    val results = SparkEntry.queries.keys.toSeq.sorted
      .zipWithIndex.map { case (n, i) => n -> (1000.0 + i) }
    val line = Bench.renderLine(results, "/root/testdata/sf0.1")
    assert(line.length < 1500, s"bench line too long: ${line.length} chars")
    assert(line.startsWith("""{"metric":"total""""))
    assert(!line.contains("\n"))
  }

  test("zorder_key native expression matches the builtin twin bit for bit") {
    import graft.functions.ZOrderKey
    val li = Tables.lineitem(spark, sf)
    val mismatches = li.select(
        ZOrderKey.zorder_key(col("l_partkey"), col("l_suppkey")).as("nat"),
        ZOrderKey.zorderKeyBuiltin(col("l_partkey"), col("l_suppkey")).as("ref"))
      .filter(col("nat") =!= col("ref"))
      .count()
    assert(mismatches === 0L)
  }

  test("zorder_key interleaves known bit patterns correctly") {
    import graft.functions.ZOrderKey
    // x = 0b1010 -> even positions, y = 0b0101 -> odd positions
    val got = Seq((10L, 5L)).toDF("x", "y")
      .select(ZOrderKey.zorder_key(col("x"), col("y"))).as[Long].head()
    // x bits 1,3 -> z bits 2,6; y bits 0,2 -> z bits 1,5
    assert(got === ((1L << 2) | (1L << 6) | (1L << 1) | (1L << 5)))
    // scalar helper agrees
    assert(ZOrderKey.interleave(10L) === ((1L << 2) | (1L << 6)))
  }

  test("zorder_key registered for SQL via GraftExtensions") {
    GraftExtensions.register(spark)
    val got = spark.sql("SELECT zorder_key(10, 5) AS z").as[Long].head()
    assert(got === ((1L << 2) | (1L << 6) | (1L << 1) | (1L << 5)))
  }

  test("hashed_linear_score registered for SQL, matches the Column API") {
    import graft.functions.HashedLinearScore
    GraftExtensions.register(spark)
    val viaSql = spark.sql(
      "SELECT hashed_linear_score(split('a b c', ' ')) AS s").as[Long].head()
    val viaCol = Seq("a b c").toDF("t")
      .select(HashedLinearScore.hashed_linear_score(
        split(col("t"), " "), 17, 8)).as[Long].head()
    assert(viaSql === viaCol)
    // independent hand-derivation of one feature weight: md5("u:a")
    // prefix32 mod 17 - 8, summed over u:a,u:b,u:c,b:a_b,b:b_c
    def w(f: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(f.getBytes("UTF-8"))
      val h = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      h % 17 - 8
    }
    assert(viaSql === Seq("u:a", "u:b", "u:c", "b:a_b", "b:b_c").map(w).sum)
  }

  test("scala UDF surface works (slow path, for API completeness only)") {
    val vowels = udf((s: String) => s.count("aeiou".contains(_)))
    val got = Seq("spark", "aeiou").toDF("s")
      .select(vowels(col("s"))).as[Int].collect().toSeq
    assert(got === Seq(1, 5))
  }
}
