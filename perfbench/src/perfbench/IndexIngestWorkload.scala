package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ops.{Dedup, Similarity, Text}
import graft.sources.Snapshot

/** Admission cycles against standing layouts: the commit side of the
  * layouts `index_serve` reads. Base layouts hold a seeded four-fifths of
  * the corpus; each op admits a batch from the remaining fifth.
  */
final class IndexIngestWorkload extends Workload {
  import IndexIngestWorkload._

  val name = "index_ingest"
  val cycle: Int = maintenanceEvery
  val itemUnit = "docs"

  private var docs, embs, planted: DataFrame = _
  private var ivfpq, bm25, dedup = ""
  private var texts: Map[Long, String] = Map.empty
  /** The incoming fifth in a seeded order; batches are taken in turn,
    * so no id is admitted twice in a run.
    */
  private var docOrder, vecOrder: IndexedSeq[Long] = IndexedSeq.empty
  private val admittedDocs = scala.collection.mutable.ArrayBuffer.empty[Long]
  private val appendedVecs = scala.collection.mutable.ArrayBuffer.empty[Long]
  private val deletedDocs = scala.collection.mutable.Set.empty[Long]
  private val deletedVecs = scala.collection.mutable.Set.empty[Long]
  private var nextDoc, nextVec = 0
  /** Latency of each post-commit probe, seconds. */
  val probeSeconds = scala.collection.mutable.ArrayBuffer.empty[Double]

  def generate(spark: SparkSession, seed: Long, dir: String): Unit = {
    Inputs.documents(spark, seed, Inputs.nDocs).write.parquet(s"$dir/documents.parquet")
    Inputs.embeddings(spark, seed, Inputs.nVecs).write.parquet(s"$dir/embeddings.parquet")
    // exact copies of base documents, planted into the incoming batches
    val base = spark.read.parquet(s"$dir/documents.parquet")
      .filter(!incoming(col("doc_id"), seed))
    Inputs.copies(base, seed, 60, 200, 3000000L, near = false)
      .write.parquet(s"$dir/planted_docs.parquet")
  }

  def setup(ctx: Ctx): Unit = {
    val spark = ctx.spark
    // a single client with no concurrent readers: GC may reclaim
    // unreferenced generations at once
    spark.conf.set("graft.snapshot.graceMs", "0")
    docs = ctx.call("Tables", "Tables.documents") {
      val df = Tables.documents(spark, ctx.inputs); df.schema; df
    }
    embs = ctx.call("Tables", "Tables.embeddings") {
      val df = Tables.embeddings(spark, ctx.inputs); df.schema; df
    }
    planted = ctx.call("Tables", "Tables.table") {
      val df = Tables.table(spark, ctx.inputs, "planted_docs"); df.schema; df
    }
    ivfpq = s"${ctx.root}/ivfpq"
    bm25 = s"${ctx.root}/bm25"
    dedup = s"${ctx.root}/dedup"
    val baseDocs = docs.filter(!incoming(col("doc_id"), ctx.seed))
    // the three base layouts are independent
    ctx.concurrently(
      () => ctx.call("ops.Similarity", "Similarity.ivfpqBuildIndex") {
        Similarity.ivfpqBuildIndex(embs.filter(!incoming(col("vec_id"), ctx.seed)),
          ivfpq, nlist).collect()
      },
      () => ctx.call("ops.Text", "Text.bm25BuildIndex") {
        Text.bm25BuildIndex(baseDocs, bm25).collect()
      },
      () => ctx.call("ops.Dedup", "Dedup.dedupBuildIndex") {
        Dedup.dedupBuildIndex(baseDocs, dedup).collect()
      })
    // the client's copy of the texts it draws phrase queries from
    texts = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val rng = new scala.util.Random(ctx.seed)
    docOrder = rng.shuffle(docs.filter(incoming(col("doc_id"), ctx.seed))
      .select("doc_id").collect().map(_.getLong(0)).sorted.toIndexedSeq)
    vecOrder = rng.shuffle(embs.filter(incoming(col("vec_id"), ctx.seed))
      .select("vec_id").collect().map(_.getLong(0)).sorted.toIndexedSeq)
    nextDoc = 0; nextVec = 0
    admittedDocs.clear(); appendedVecs.clear(); deletedDocs.clear(); deletedVecs.clear()
    // warm-up: one cycle with maintenance
    op(ctx, -1)
    probeSeconds.clear()
  }

  def op(ctx: Ctx, i: Int): OpResult = {
    val spark = ctx.spark
    val rng = new scala.util.Random(ctx.seed * 1000003L + i)
    if (nextDoc + docsPerBatch > docOrder.size || nextVec + vecsPerBatch > vecOrder.size)
      throw new IllegalStateException("incoming fifth exhausted")
    val docIds = docOrder.slice(nextDoc, nextDoc + docsPerBatch)
    val vecIds = vecOrder.slice(nextVec, nextVec + vecsPerBatch)
    nextDoc += docsPerBatch; nextVec += vecsPerBatch
    val plantedIds = Seq.fill(plantedPerBatch)(3000000L + rng.nextInt(200)).distinct
    val batchDocs = docs.filter(col("doc_id").isin(docIds: _*))
      .unionByName(planted.filter(col("doc_id").isin(plantedIds: _*)).drop("src_id"))
    val batchVecs = embs.filter(col("vec_id").isin(vecIds: _*))

    // 1: admission through the dedup gate, then both indexes
    val verdicts = ctx.call("ops.Dedup", "Dedup.dedupAdmit") {
      Dedup.dedupAdmit(batchDocs, dedup).collect().toSeq
    }
    val admitted = verdicts.filter(_.getAs[Boolean]("admitted")).map(_.getAs[Long]("doc_id"))
    ctx.call("ops.Similarity", "Similarity.ivfpqAppend") {
      Similarity.ivfpqAppend(batchVecs, ivfpq)
    }
    ctx.call("ops.Text", "Text.bm25Append") {
      Text.bm25Append(docs.filter(col("doc_id").isin(admitted: _*)), bm25)
    }
    admittedDocs ++= admitted
    appendedVecs ++= vecIds

    // 2: every few cycles, delete seeded ids, compact and collect garbage
    val (delDocs, delVecs) =
      if (Math.floorMod(i, maintenanceEvery) != maintenanceEvery - 1) (Nil, Nil)
      else {
        val dd = Seq.fill(3)(admittedDocs(rng.nextInt(admittedDocs.size))).distinct
        val dv = Seq.fill(3)(appendedVecs(rng.nextInt(appendedVecs.size))).distinct
        import spark.implicits._
        ctx.call("ops.Text", "Text.bm25Delete") { Text.bm25Delete(dd.toDF("doc_id"), bm25) }
        ctx.call("ops.Similarity", "Similarity.ivfpqDelete") {
          Similarity.ivfpqDelete(dv.toDF("vec_id"), ivfpq)
        }
        ctx.call("ops.Text", "Text.bm25Compact") { Text.bm25Compact(spark, bm25) }
        ctx.call("ops.Similarity", "Similarity.ivfpqCompact") {
          Similarity.ivfpqCompact(spark, ivfpq)
        }
        ctx.call("sources.Snapshot", "Snapshot.gc") {
          Seq(bm25, ivfpq, dedup).foreach(b =>
            graft.sources.IndexFS.withWriterLease(b)(Snapshot.gc(b)))
        }
        deletedDocs ++= dd; deletedVecs ++= dv
        (dd, dv)
      }

    // 3: the post-commit probe: the batch's vectors as queries (ids
    // renumbered from 0, the probe's query convention) through the
    // stored index's exact-rerank path with an always-true label filter,
    // so each just-appended vector must come back as its own nearest
    // neighbour; and one phrase from each admitted doc (plus any just
    // deleted)
    val t0 = System.nanoTime()
    val queryVecs = batchVecs.withColumn("__q",
        (row_number().over(org.apache.spark.sql.expressions.Window.orderBy("vec_id")) - 1)
          .cast("long"))
    val qIds = vecIds.sorted
    val vecRows = ctx.call("ops.Similarity", "Similarity.ivfpqFilteredStored") {
      Similarity.ivfpqFilteredStored(
        queryVecs.select(col("__q").as("vec_id"), col("embedding"), col("label")),
        ivfpq, qIds.size, probeK, nlist, probeNprobe, labelMod = 1).collect().toSeq
    }
    val phraseDocs = (admitted.filter(d => d < 3000000L).take(8) ++ delDocs).distinct
    val phrases = phraseDocs.zipWithIndex.map { case (d, j) =>
      val tk = texts(d).split(" ")
      (j.toLong, tk.slice(0, 3).mkString(" "))
    }
    val phraseRows =
      if (phrases.isEmpty) Nil
      else ctx.call("ops.Text", "Text.phraseSearchStored") {
        Text.phraseSearchStored(docs, bm25, phrases).collect().toSeq
      }
    probeSeconds += (System.nanoTime() - t0) / 1e9

    val items = admitted.size.toLong + vecIds.size
    val deletedDocsNow = deletedDocs.toSet
    val deletedVecsNow = deletedVecs.toSet
    OpResult(items, () => Checks.ingest(
      verdicts = verdicts.map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("admitted")).toMap,
      planted = plantedIds.toSet,
      vecQueries = qIds,
      vecHits = vecRows.map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("neighbor_id")),
      phraseDocs = phraseDocs,
      phraseHits = phraseRows.map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("doc_id")),
      deletedDocs = deletedDocsNow, deletedVecs = deletedVecsNow))
  }

  override def finish(ctx: Ctx): Map[String, Double] =
    (if (probeSeconds.isEmpty) Map.empty[String, Double]
     else Map("ingest_probe_p50_s" -> Stats.median(probeSeconds.toSeq))) ++
      Workload.layoutStats(ctx.spark, Seq(ivfpq, bm25, dedup))

  def inputSizes(ctx: Ctx): Map[String, (Long, Long)] = Map(
    "documents" -> (Inputs.nDocs.toLong,
      Workload.bytesUnder(s"${ctx.inputs}/documents.parquet")),
    "embeddings" -> (Inputs.nVecs.toLong,
      Workload.bytesUnder(s"${ctx.inputs}/embeddings.parquet")),
    "batch" -> ((docsPerBatch + vecsPerBatch).toLong, 0L))
}

object IndexIngestWorkload {
  val nlist = 16
  val docsPerBatch = 30
  val vecsPerBatch = 12
  val plantedPerBatch = 3
  val maintenanceEvery = 2
  val probeK = 5
  val probeNprobe = 4

  /** The seeded fifth of ids that arrives after the base build. */
  def incoming(id: org.apache.spark.sql.Column, seed: Long): org.apache.spark.sql.Column =
    Inputs.u(5L, seed, 70, id) === 0
}
