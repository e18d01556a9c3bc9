package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ops.{Dedup, Similarity, Text}
import graft.sources.Sources

/** Batch LLM-data curation: per op one seeded shard of a corpus with
  * planted exact and near copies goes through language ID, the quality
  * gate, PII masking, MinHash near-dup detection and near-dup
  * clustering; the matching embeddings shard goes through SemDeDup.
  */
final class CorpusCurateWorkload extends Workload {
  import CorpusCurateWorkload._

  val name = "corpus_curate"
  val itemUnit = "docs"
  val cycle: Int = shards

  private var corpus, vectors = ""
  /** Planted doc → (source doc, exact?). */
  private var plantedDocs: Map[Long, (Long, Boolean)] = Map.empty
  private var shardOfDoc: Map[Long, Int] = Map.empty
  /** Vector ids are shard-local: shard → ids, and shard → planted copies. */
  private var vecsOfShard: Map[Int, Set[Long]] = Map.empty
  private var plantedVecs: Map[Int, Map[Long, Long]] = Map.empty
  private var texts: Map[Long, String] = Map.empty

  def generate(spark: SparkSession, seed: Long, dir: String): Unit = {
    Inputs.documents(spark, seed, Inputs.nDocs).write.parquet(s"$dir/base_docs.parquet")
    val base = spark.read.parquet(s"$dir/base_docs.parquet")
    val all = base.withColumn("src_id", lit(-1L))
      .unionByName(Inputs.copies(base, seed, 80, exactCopies, 5000000L, near = false))
      .unionByName(Inputs.copies(base, seed, 81, nearCopies, 5100000L, near = true))
      .withColumn("shard", shardOf(coalesce(nullif(col("src_id"), lit(-1L)), col("doc_id")), seed))
    all.drop("src_id").write.parquet(s"$dir/curate_docs.parquet")
    all.select("doc_id", "src_id", "shard", "text").write.parquet(s"$dir/curate_truth.parquet")
    // vectors carry shard-local ids from 0 (SemDeDup seeds its k-means
    // with the lowest ids); planted copies number after their shard's
    // originals, so each copy's exemplar is its source
    val vecs = Inputs.embeddings(spark, seed, Inputs.nVecs).withColumn("src", lit(-1L))
    val copies = vecs.withColumn("__r", Inputs.h(seed, 82, col("vec_id")))
      .orderBy("__r", "vec_id").limit(vecCopies)
      .select(col("vec_id"), col("embedding"), col("label"), col("vec_id").as("src"))
    val family = org.apache.spark.sql.expressions.Window.partitionBy("shard")
      .orderBy(col("src") >= 0, col("vec_id"))
    val allV = vecs.unionByName(copies)
      .withColumn("shard", shardOf(col("vec_id"), seed))
      .withColumn("local", (row_number().over(family) - 1).cast("long"))
    val srcLocal = allV.filter(col("src") < 0)
      .select(col("vec_id").as("src"), col("local").as("src_id"))
    val withSrc = allV.join(srcLocal, Seq("src"), "left")
      .select(col("local").as("vec_id"), col("embedding"), col("label"), col("shard"),
        coalesce(col("src_id"), lit(-1L)).as("src_id"))
    withSrc.drop("src_id").write.parquet(s"$dir/curate_vecs.parquet")
    withSrc.select("vec_id", "src_id", "shard").write.parquet(s"$dir/curate_vec_truth.parquet")
  }

  def setup(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val docs = ctx.call("Tables", "Tables.table") {
      val df = Tables.table(spark, ctx.inputs, "curate_docs"); df.schema; df
    }
    val vecs = ctx.call("Tables", "Tables.table") {
      val df = Tables.table(spark, ctx.inputs, "curate_vecs"); df.schema; df
    }
    corpus = s"${ctx.root}/corpus"
    vectors = s"${ctx.root}/vectors"
    ctx.call("sources.Sources", "Sources.writeVersioned") {
      Sources.writeVersioned(docs, corpus)
    }
    ctx.call("sources.Sources", "Sources.writeVersioned") {
      Sources.writeVersioned(vecs, vectors)
    }
    // warm-up: one shard
    op(ctx, -1)
  }

  override def prepareChecks(ctx: Ctx): Unit = {
    val t = ctx.spark.read.parquet(s"${ctx.inputs}/curate_truth.parquet").collect()
    texts = t.map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    shardOfDoc = t.map(r => r.getAs[Long]("doc_id") -> r.getAs[Int]("shard")).toMap
    plantedDocs = t.filter(_.getAs[Long]("src_id") >= 0).map(r =>
      r.getAs[Long]("doc_id") -> (r.getAs[Long]("src_id"), r.getAs[Long]("doc_id") < 5100000L)).toMap
    val v = ctx.spark.read.parquet(s"${ctx.inputs}/curate_vec_truth.parquet").collect()
    vecsOfShard = v.groupBy(_.getAs[Int]("shard")).map { case (sh, rs) =>
      sh -> rs.map(_.getAs[Long]("vec_id")).toSet }
    plantedVecs = v.filter(_.getAs[Long]("src_id") >= 0).groupBy(_.getAs[Int]("shard"))
      .map { case (sh, rs) =>
        sh -> rs.map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("src_id")).toMap }
  }

  def op(ctx: Ctx, i: Int): OpResult = {
    val spark = ctx.spark
    val shard = shardFor(ctx.seed, i)
    val docs = ctx.call("sources.Sources", "Sources.readVersioned") {
      Sources.readVersioned(spark, corpus)
    }.filter(col("shard") === shard).drop("shard")
    val vecs = ctx.call("sources.Sources", "Sources.readVersioned") {
      Sources.readVersioned(spark, vectors)
    }.filter(col("shard") === shard).drop("shard")

    val langRows = ctx.call("ops.Text", "Text.languageId") {
      Text.languageId(docs).select("doc_id").collect().map(_.getLong(0)).toSeq
    }
    val gate = ctx.call("ops.Text", "Text.gopherGate") {
      Text.gopherGate(docs).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    val pii = ctx.call("ops.Text", "Text.piiMask") {
      Text.piiMask(docs).agg(count(lit(1)), sum("n_emails")).head()
    }
    val minhash = ctx.call("functions", "functions.minhash_sig") {
      docs.select(expr("minhash_sig(split(text, ' '))").as("sig"))
        .agg(count(col("sig")), bit_xor(xxhash64(col("sig")))).head()
    }
    val pairs = ctx.call("ops.Dedup", "Dedup.minhashNearDups") {
      Dedup.minhashNearDups(docs).filter(col("is_near_dup"))
        .select("doc1", "doc2").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    }
    val clusters = ctx.call("ops.Dedup", "Dedup.nearDupClusters") {
      Dedup.nearDupClusters(docs).select("doc_id", "canon_id").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    val dots = ctx.call("functions", "functions.vector_dot") {
      vecs.agg(count(lit(1)), sum(expr("vector_dot(embedding, embedding)")),
        sum(aggregate(col("embedding"), lit(0.0), (a, x) => a + x * x))).head()
    }
    val sem = ctx.call("ops.Similarity", "Similarity.semDedup") {
      Similarity.semDedup(vecs, nlist = semNlist, threshold = semThreshold)
        .select("vec_id", "kept").collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    }
    val n = langRows.size.toLong
    OpResult(n, () => Checks.curate(
      shardDocs = shardOfDoc.collect { case (d, s) if s == shard => d }.toSet,
      shardVecs = vecsOfShard.getOrElse(shard, Set.empty),
      plantedDocs = plantedDocs, plantedVecs = plantedVecs.getOrElse(shard, Map.empty),
      texts = texts,
      langRows = langRows, gateTotal = gate.getOrElse("0_total", -1L),
      piiRows = pii.getLong(0), sigRows = minhash.getLong(0), pairs = pairs,
      clusters = clusters, dotRows = dots.getLong(0), dotKernel = dots.getDouble(1),
      dotBuiltin = dots.getDouble(2), semKept = sem))
  }

  def inputSizes(ctx: Ctx): Map[String, (Long, Long)] = Map(
    "corpus" -> ((Inputs.nDocs + exactCopies + nearCopies).toLong,
      Workload.bytesUnder(s"${ctx.inputs}/curate_docs.parquet")),
    "vectors" -> ((Inputs.nVecs + vecCopies).toLong,
      Workload.bytesUnder(s"${ctx.inputs}/curate_vecs.parquet")),
    "shard_docs" -> ((Inputs.nDocs + exactCopies + nearCopies).toLong / shards, 0L))
}

object CorpusCurateWorkload {
  val shards = 2
  val exactCopies = 160
  val nearCopies = 160
  val vecCopies = 80
  val semNlist = 8
  val semThreshold = 0.98

  /** A planted copy lands in its source's shard. */
  def shardOf(family: org.apache.spark.sql.Column, seed: Long): org.apache.spark.sql.Column =
    Inputs.u(shards.toLong, seed, 83, family).cast("int")

  /** Each cycle of `shards` ops visits every shard once, from a seeded
    * starting shard.
    */
  def shardFor(seed: Long, i: Int): Int =
    Math.floorMod(i + new scala.util.Random(seed).nextInt(shards), shards)
}
