package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, MapType, StringType, StructType}

/** Sources & sinks beyond the fixture parquet (SURVEY.md §2.2
  * "Scans/sources/sinks"): CSV and JSON readers/writers, driver-held
  * probe frames ([[hold]]), partitioned parquet output, and the
  * O18-style bulk writeback (the reference's per-row commit protocol
  * generalized to a partition-overwrite MERGE).
  */
object Sources {

  /** THE materialisation policy of `graft.ops`: an intermediate frame
    * falls in exactly one of three cases.
    *
    *  - **(a) bounded by the operator's own parameters** (trained
    *    centroids and codebooks, SQ params, a BPE winner, probed cells,
    *    an exact top-k head): [[hold]] with that bound. The values are
    *    still computed in Spark; only the rows move to the driver, and
    *    consumers read a local relation.
    *  - **(b) corpus-sized with more than one consumer** (stored-layout
    *    maintenance under the writer lease, training samples, the
    *    iterative graph and label loops): this function, spelled
    *    `.maintCheckpoint()`. The read side may come back coalesced
    *    ([[adaptiveCoalesce]]); a CPU-heavy consumer spreads itself.
    *  - **(c) one consumer, or already materialised** (a held frame, a
    *    frame this function returned): no checkpoint at all.
    *
    * Result-identical in every mode; what varies is WHERE the
    * materialized rows live and how many times the subtree runs:
    *
    *  - **cluster** (non-local master AND a checkpoint directory
    *    configured): RELIABLE `df.checkpoint()` — the rounds land on
    *    the checkpoint FILESYSTEM, so losing an executor
    *    mid-maintenance replays from durable storage instead of
    *    failing the nightly job. Reliable checkpointing pays for that
    *    durability by executing the subtree twice (the eager action
    *    plus `ReliableCheckpointRDD`'s separate write job) — the
    *    right trade where executor loss is real.
    *  - **local master**: `localCheckpoint(eager, DISK_ONLY)` — ONE
    *    execution, blocks on the executor's disk. A reliable
    *    checkpoint to a local tmpdir buys zero extra durability here
    *    (same process, same disk — if it dies, both copies die), so
    *    the second execution was pure waste; measured across the full
    *    board it was the largest single overhead on the maintenance
    *    slots (round-12 bench notes). DISK_ONLY, not the default
    *    MEMORY_AND_DISK: a 205-query board accumulates checkpoint
    *    blocks faster than the ContextCleaner drops them, and heap
    *    pressure from hundreds of retained block sets degraded the
    *    whole board in the round-11 A/B — disk blocks ride the OS
    *    page cache without competing with execution memory.
    *
    * `graft.checkpoint.mode` (session conf): `auto` (default) picks by
    * master/checkpoint-dir as above; `reliable` forces the cluster
    * branch (a local harness measuring checkpoint-file bytes). Any
    * other value fails loudly.
    */
  private[graft] def truncatingCheckpoint(df: DataFrame): DataFrame = {
    val sc = df.sparkSession.sparkContext
    df.sparkSession.conf.getOption("graft.checkpoint.mode").getOrElse("auto") match {
      case "reliable" => df.checkpoint()
      case "auto" =>
        if (!sc.isLocal && sc.getCheckpointDir.isDefined) df.checkpoint()
        else adaptiveCoalesce(df.localCheckpoint(true,
          org.apache.spark.storage.StorageLevel.DISK_ONLY))
      case other => throw new IllegalArgumentException(
        s"graft.checkpoint.mode=$other: expected auto or reliable")
    }
  }

  /** Read-side partition-count adaptation for a just-materialized
    * checkpoint (guide §2: derive partitioning from DATA SIZE, never a
    * constant). The CPU-heavy stages deliberately run at
    * defaultParallelism (the `spread()` discipline), so their
    * checkpointed output keeps e.g. 32 partitions even when it is a
    * few KB of geometry-bounded rows — and then EVERY downstream
    * consumer (tiny joins, broadcast collects, census counts)
    * schedules 32+ tasks for kilobytes. The materialized byte size is
    * known exactly post-checkpoint (the blocks are in the block
    * manager), so size the read-side partition count as
    * ceil(bytes / advisoryPartitionSize), clamped to [1, current] —
    * a narrow coalesce, no shuffle. A genuinely large frame (GBs at
    * 100 TB batch sizes) keeps its partitions untouched; downstream
    * CPU-heavy consumers re-`spread()` explicitly regardless, so no
    * compute stage loses parallelism.
    */
  private def adaptiveCoalesce(ck: DataFrame): DataFrame =
    org.apache.spark.sql.graftbridge.PlanBridge.materializedFootprint(ck) match {
      case Some((bytes, nParts)) if nParts > 1 =>
        val advisory =
          try org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
            ck.sparkSession.conf.get(
              "spark.sql.adaptive.advisoryPartitionSizeInBytes", "64MB"))
          catch { case _: Exception => 64L * 1024 * 1024 }
        val target = math.max(1L, (bytes + advisory - 1) / advisory)
        if (target < nParts) ck.coalesce(target.toInt) else ck
      case _ => ck
    }

  /** Suffix-form syntax for [[truncatingCheckpoint]] — case (b) of the
    * policy, maintenance materializations and driver loops alike.
    */
  private[graft] implicit class MaintCheckpointSyntax(private val df: DataFrame) extends AnyVal {
    def maintCheckpoint(): DataFrame = Sources.truncatingCheckpoint(df)
  }

  /** CSV round-trip: header + explicit schema on read (schema inference
    * would scan twice — never at 100 TB).
    */
  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).option("header", "true").csv(path)

  def readCsv(spark: SparkSession, path: String,
              schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.option("header", "true").schema(schema).csv(path)

  /** JSON-lines round-trip (schema explicit, same reasoning). */
  def writeJson(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).json(path)

  def readJson(spark: SparkSession, path: String,
               schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** ORC round-trip: the other columnar format Spark ships natively
    * (vectorized reader, predicate pushdown like parquet).
    */
  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).orc(path)

  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** Whole-line text source: one string column `value` per line — the
    * raw-corpus ingestion path before any parsing.
    */
  def readText(spark: SparkSession, path: String): DataFrame =
    spark.read.text(path)

  /** (context, hook name) pairs whose [[onContextEnd]] listener is
    * registered.
    */
  private val endHooks = java.util.concurrent.ConcurrentHashMap
    .newKeySet[(org.apache.spark.SparkContext, String)]()

  /** Run `f` when `sc` stops — how a driver-side cache drops a
    * context's entries so a stopped session does not stay reachable.
    * One listener per (context, `name`); later calls with the same
    * pair, or on a stopped context, register nothing.
    */
  private[graft] def onContextEnd(sc: org.apache.spark.SparkContext,
                                  name: String)(f: => Unit): Unit =
    if (!sc.isStopped && endHooks.add((sc, name)))
      sc.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onApplicationEnd(
            end: org.apache.spark.scheduler.SparkListenerApplicationEnd): Unit = {
          f
          endHooks.remove((sc, name))
          ()
        }
      })

  /** Largest estimated footprint, in bytes, of a frame held on the
    * driver: a [[hold]] frame, a single-partition ranked tail
    * ([[graft.ops.Similarity.rankedTail]]), and one held snapshot
    * component ([[Snapshot.Manifest.held]]) — also the bound on all
    * held components together.
    */
  private[graft] val HeldBytes: Long = 4L << 20

  /** Planner-side row width used against [[HeldBytes]]: fixed-width
    * columns at their size, and a generous 1 KB allowance for every
    * variable-width value (arrays, maps, binary), whose length is not
    * known before the rows exist. Strings count at 64 bytes.
    */
  private def rowWidth(t: DataType): Long = t match {
    case s: StructType => 8L + s.fields.map(f => rowWidth(f.dataType)).sum
    case _: ArrayType | _: MapType | _: BinaryType => 1024L
    case _: StringType => 64L
    case other => other.defaultSize.toLong
  }

  /** True iff `rows` rows of `schema` fit [[HeldBytes]]. */
  private[graft] def fitsHeld(rows: Long, schema: StructType): Boolean =
    rows >= 0 && rows <= HeldBytes / rowWidth(schema)

  /** A probe-sized frame kept on the driver ([[hold]]): `df` is what
    * downstream plans read, `rows` its rows when they fit
    * [[HeldBytes]].
    */
  private[graft] final class Held private[graft] (val df: DataFrame,
                                                  val rows: Option[Seq[Row]]) {
    /** Distinct values of `cols` over the frame. From held rows the
      * projection folds over a local relation on the driver, so no
      * Spark job runs; otherwise one Spark-side distinct collects them.
      */
    def keys(cols: Column*): Seq[Row] = rows match {
      case Some(rs) => df.sparkSession.createDataFrame(rs.asJava, df.schema)
        .select(cols: _*).collect().toSeq.distinct
      case None => df.select(cols: _*).distinct().collect().toSeq
    }

    /** The row count, when the rows are held. */
    def size: Option[Long] = rows.map(_.size.toLong)

    /** The held rows, or the frame collected now — for driver-side
      * math over frames that a plan would broadcast anyway.
      */
    def all: Seq[Row] = rows.getOrElse(df.collect().toSeq)
  }

  /** Rows already on the driver as a held frame over a local relation. */
  private[graft] def local(spark: SparkSession, rows: Seq[Row],
                           schema: StructType): Held =
    new Held(spark.createDataFrame(rows.asJava, schema), Some(rows))

  /** The HELD-FRAME idiom: materialise a probe-sized frame once and
    * keep it on the driver. Probes build a few frames of a few hundred
    * rows (query vectors, probed cells, batch band keys) that feed
    * several consumers and a partition IN-list; checkpointing them,
    * then counting or collecting their key sets, cost one Spark job per
    * step, and on the serving path per-job overhead, not data, sets
    * latency.
    *
    * `maxRows` is the caller's own bound on the frame (from its
    * parameters: `nQueries`, `nQueries × nprobe`); when that many rows
    * fit [[HeldBytes]], ONE collect runs and the frame becomes a
    * `LocalRelation` of the collected rows: consumers never re-run
    * its subtree, key sets ([[Held.keys]]) and counts come from the
    * rows in Scala, and callers can compute over the rows directly.
    * (Broadcasting a local relation still costs one small job.)
    *
    * Fallback, when the bound is unknown (`None`: a caller-supplied
    * batch) or too large: the Spark-side `localCheckpoint()`. Its
    * measured storage footprint then decides whether the rows are read
    * back (one job, no shuffle) for the key sets; the plans keep the
    * checkpoint either way. Large frames never touch the driver.
    */
  private[graft] def hold(df: DataFrame, maxRows: Option[Long]): Held =
    maxRows match {
      case Some(n) if fitsHeld(n, df.schema) =>
        local(df.sparkSession, df.collect().toSeq, df.schema)
      case _ =>
        val ck = df.localCheckpoint()
        val small = org.apache.spark.sql.graftbridge.PlanBridge
          .materializedFootprint(ck).exists(_._1 <= HeldBytes)
        new Held(ck, if (small) Some(ck.collect().toSeq) else None)
    }

  /** The OR of `cs` as a balanced tree (`lit(false)` when empty): Spark
    * converts a Column recursively, and a left-deep `reduce(_ || _)`
    * over thousands of partition tuples overflows the default stack.
    */
  private[graft] def anyOf(cs: Seq[Column]): Column = {
    def tree(v: IndexedSeq[Column]): Column =
      if (v.size == 1) v.head
      else { val (l, r) = v.splitAt(v.size / 2); tree(l) || tree(r) }
    if (cs.isEmpty) lit(false) else tree(cs.toIndexedSeq)
  }

  /** Partitioned parquet sink: one directory per partition value —
    * the layout that makes partition PRUNING work on re-read (filters
    * on the partition column never touch non-matching files).
    */
  def writePartitioned(df: DataFrame, path: String, partitionCol: String): Unit =
    df.write.mode(SaveMode.Overwrite).partitionBy(partitionCol).parquet(path)

  /** ANN index storage layout: the corpus written partitioned by its
    * TRAINED IVF cell, so a probe reads only its nprobe cell
    * directories — the storage half of the IVF contract
    * ([[graft.ops.Similarity.ivfTopK]]): compute prunes to
    * nprobe/nlist of the vectors AND the scan prunes to nprobe/nlist
    * of the bytes (PartitionFilters on `cell`, proven in SourcesSpec).
    * Returns the trained centroids — the probe side needs the same
    * quantizer the layout was built with, so they travel together.
    */
  def writeIvfCells(embeddings: DataFrame, path: String,
                    nlist: Int): DataFrame = {
    val centroids = graft.ops.Similarity.kmeansCentroids(embeddings, nlist)
    val assigned = graft.ops.Similarity.assignCells(embeddings, centroids)
    writePartitioned(assigned, path, "cell")
    centroids
  }

  /** Bucketed table write: co-locates (and pre-sorts) rows by the join
    * key so equi-joins between tables bucketed the same way need NO
    * shuffle at read time — the bucketing metadata lives in the catalog
    * and Catalyst drops the Exchange. The 100 TB pattern for fact-fact
    * joins that repeat across workloads.
    */
  def writeBucketed(df: DataFrame, table: String, buckets: Int, keys: String*): Unit =
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .format("parquet")
      .saveAsTable(table)

  /** Z-ordered parquet write: cluster rows by the Morton interleave of
    * two columns ([[graft.functions.ZOrderKey]]) so every output file
    * covers a tight bounding BOX in (c1, c2) — parquet footer min/max
    * stats then skip files for predicates on EITHER column. A plain
    * `orderBy(c1)` layout prunes only on c1; Z-order is the layout for
    * tables queried by more than one dimension (the Delta/Iceberg
    * Z-ORDER feature as a plain write path).
    *
    * Both columns are min/max-normalized to the full 2^bits range
    * before interleaving — raw interleave gives the wider-ranged column
    * all the high bits (a 1..200 key over a 1..10 key degrades to a
    * plain sort on the first), which is why production Z-ORDER
    * implementations cluster on per-column RANGE IDS, not raw values.
    * The min/max pass is one tiny aggregate broadcast back to the scan;
    * at 100 TB it comes from footer stats or a sample instead. (The
    * linear scaling multiplies (x−min) by 2^bits, so column ranges
    * above ~2^47 should pre-shift — documented, not fixture-relevant.)
    *
    * `repartitionByRange` on the z-key samples the distribution, so
    * files are balanced even when the key space is sparse; the
    * within-partition sort tightens each file's box at zero extra
    * shuffle cost.
    */
  def writeZOrdered(df: DataFrame, path: String, files: Int,
                    c1: String, c2: String, bits: Int = 16): Unit = {
    val top = (1L << bits) - 1
    val mm = df.agg(
      min(col(c1)).cast("long").as("__min1"), max(col(c1)).cast("long").as("__max1"),
      min(col(c2)).cast("long").as("__min2"), max(col(c2)).cast("long").as("__max2"))
    def scale(c: String, mn: String, mx: String) = expr(
      s"CAST((CAST($c AS BIGINT) - $mn) * $top DIV " +
        s"greatest(CAST(1 AS BIGINT), $mx - $mn) AS BIGINT)")
    val z = graft.functions.ZOrderKey.zorder_key(col("__n1"), col("__n2"), bits)
    df.crossJoin(broadcast(mm))
      .withColumn("__n1", scale(c1, "__min1", "__max1"))
      .withColumn("__n2", scale(c2, "__min2", "__max2"))
      .withColumn("__z", z)
      .repartitionByRange(files, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__n1", "__n2", "__z", "__min1", "__max1", "__min2", "__max2")
      .write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** Versioned tables: a parquet table whose rewrites go through the
    * [[Snapshot]] manifest — MERGE/upsert/compact write a new
    * generation and flip one manifest atomically, so a reader racing
    * any rewrite either sees the complete old table or the complete
    * new one, never a half-swap or vanished files. The table data
    * lives under `base/data/gsn=<stamp>/`; [[readVersioned]] resolves
    * the latest manifest (falling back to a plain parquet directory
    * for tables that have never been rewritten).
    */
  private val tableComp = "data"

  /** The plain table's own part-files, as explicit paths. Adoption and
    * the pre-manifest read path use THIS list, never a glob of `base`:
    * once a staged `data/` generation subtree exists next to the root
    * part-files (mid-adoption, or after a crash in that window), a
    * directory-level `spark.read.parquet(base)` fails partition
    * discovery on the mixed structure — an explicit file list cannot.
    */
  private def rootParquetFiles(base: String): Seq[String] =
    IndexFS.listNames(base).filter(_.endsWith(".parquet"))
      .sorted.map(n => s"$base/$n")

  def readVersioned(spark: SparkSession, base: String): DataFrame =
    Snapshot.current(base).map(_.read(spark, tableComp)).getOrElse {
      val roots = rootParquetFiles(base)
      if (roots.nonEmpty && IndexFS.isDirectory(s"$base/$tableComp"))
        spark.read.parquet(roots: _*) // crashed adoption: skip the glob
      else spark.read.parquet(base)
    }

  /** (Re)write a versioned table: one staged generation write + one
    * atomic manifest flip; prior generations serve concurrent readers
    * until GC's grace period passes.
    */
  def writeVersioned(df: DataFrame, base: String): Unit =
    Snapshot.transact(base)(_.writeFull(df, tableComp))

  /** Upgrade a plain parquet directory to the versioned layout on its
    * first rewrite: stage its rows as a fresh generation, publish,
    * then age the root part-files out through the same grace policy
    * as generation leaves. Idempotent; no-op when the table is
    * already versioned or the directory is empty.
    *
    * Two crash-window rules keep every step readable and retryable:
    * the adoption read uses the EXPLICIT root-file list (a retry after
    * a crash that left a staged `data/` subtree must not glob the
    * mixed directory — see [[rootParquetFiles]]), and the root files
    * are NOT deleted synchronously at commit — a concurrent reader
    * that resolved "no manifest" a moment before the publish planned a
    * scan of exactly those files, so they wait out the snapshot grace
    * period behind an adoption-time marker (mtime = adoption), the
    * same dereference-anchored rule [[Snapshot.gc]] applies to leaves.
    */
  private val adoptedMarker = ".adopted"

  private def adoptIfPlain(spark: SparkSession, base: String): Unit =
    IndexFS.withWriterLease(base) {
      if (!Snapshot.enabled(base) && IndexFS.hasParquet(base)) {
        Snapshot.transact(base)(_.writeFull(
          spark.read.parquet(rootParquetFiles(base): _*), tableComp))
        IndexFS.writeString(s"$base/$adoptedMarker",
          System.currentTimeMillis().toString)
      }
      if (Snapshot.enabled(base)) {
        // the plain write's root part-files PLUS its Hadoop bookkeeping
        // (_SUCCESS, _common_metadata, _metadata): all of it ages out
        // together, so the adopted directory converges to a clean
        // manifest-only layout instead of keeping a confusing mixed
        // shape for external plain readers
        val roots = rootParquetFiles(base) ++
          IndexFS.listNames(base)
            .filter(n => n == "_SUCCESS" || n == "_common_metadata" ||
              n == "_metadata")
            .map(n => s"$base/$n")
        if (roots.nonEmpty) {
          val marker = s"$base/$adoptedMarker"
          // marker missing = a pre-marker adoption or a crash between
          // publish and stamp: anchor the grace window at first
          // observation, exactly like a retirement stamp
          if (!IndexFS.exists(marker))
            IndexFS.writeString(marker, System.currentTimeMillis().toString)
          if (IndexFS.mtimeOf(marker).exists(
              _ <= System.currentTimeMillis() - Snapshot.graceMs)) {
            roots.foreach(IndexFS.deleteRecursive)
            IndexFS.deleteRecursive(marker)
          }
        }
      }
    }

  /** Stage `rewrite` of the (adopted) table as its next generation
    * and publish it, returning the rows written. The count is observed
    * on the staged write itself, so no job re-reads the committed
    * table.
    */
  private def commitCounted(spark: SparkSession, base: String)
                           (rewrite: DataFrame => DataFrame): Long = {
    val written = Observation()
    Snapshot.transact(base) { txn =>
      txn.writeFull(rewrite(txn.snap.read(spark, tableComp))
        .observe(written, count(lit(1)).as("rows")), tableComp)
    }
    written.get("rows").asInstanceOf[Long]
  }

  /** O18 — bulk writeback: apply a keyed update set to a stored table
    * (the reference's per-row commit protocol, OBP.js:554-621, as a
    * batch MERGE). Reads the target, left-joins the updates on the key,
    * and rewrites with the updated column — the update set is broadcast,
    * so the target is scanned exactly once and never shuffled. Parquet
    * has no in-place update; the rewrite lands as a new [[Snapshot]]
    * generation and one manifest flip makes it live (the
    * transactional-table pattern without a table format) — concurrent
    * readers keep the previous generation.
    */
  def mergeColumnUpdate(spark: SparkSession, targetPath: String,
                        updates: DataFrame, key: String, column: String): Long =
    IndexFS.withWriterLease(targetPath) {
      adoptIfPlain(spark, targetPath)
      val upd = updates.select(col(key), col(column).as("__newval"))
      commitCounted(spark, targetPath)(
        _.join(broadcast(upd), Seq(key), "left")
          .withColumn(column, coalesce(col("__newval"), col(column)))
          .drop("__newval"))
    }

  /** O18 registry probe — the MERGE sink end to end, replayable: stage
    * a FRESH copy of the lineitem slice under `base` every run (so the
    * measured cost IS the full writeback cost and a replay is
    * deterministic), apply a keyed single-column MERGE
    * ([[mergeColumnUpdate]]: rows with l_quantity >= 45 get discount
    * 0.99 — the reference's "write the changed field back per row"
    * protocol, OBP.js:554-621, as one batch), then census the merged
    * table by (returnflag, discount). The oracle recomputes the
    * UPDATE's effect as a CASE projection over the same input, so a
    * lost row, a clobbered non-target row, or a missed update all
    * hash-mismatch. Key = md5 over (l_orderkey, l_linenumber,
    * l_partkey, l_suppkey) — the fixtures' UNIQUE lineitem key
    * ((orderkey, linenumber) alone is NOT unique here); the update
    * set is key-distinct, so the MERGE can never fan a target row out.
    */
  def mergeProbe(spark: SparkSession, sfDir: String, base: String): DataFrame = {
    val target = s"$base/lineitem_copy"
    writeVersioned(spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select(md5(concat_ws("|", col("l_orderkey"), col("l_linenumber"),
          col("l_partkey"), col("l_suppkey"))).as("rowkey"),
        col("l_quantity"), col("l_discount"), col("l_returnflag")),
      target)
    val updates = readVersioned(spark, target)
      .filter(col("l_quantity") >= 45)
      .select(col("rowkey")).distinct()
      .withColumn("l_discount", lit(0.99))
    mergeColumnUpdate(spark, target, updates, "rowkey", "l_discount")
    readVersioned(spark, target)
      .groupBy(col("l_returnflag"), col("l_discount"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("l_returnflag"), col("l_discount"))
  }

  /** Full-row MERGE (upsert): updates replace matching keys, new keys
    * insert, untouched rows survive — target ⟕̸ updates (anti) ∪
    * updates, the rewrite every table format's MERGE INTO lowers to
    * when there's no deletion-vector path. The anti-join broadcasts the
    * update set, so the target scans once; the staging-dir swap gives
    * the same no-partial-visibility contract as `mergeColumnUpdate`.
    */
  def upsert(spark: SparkSession, targetPath: String,
             updates: DataFrame, key: String): Long =
    IndexFS.withWriterLease(targetPath) {
      adoptIfPlain(spark, targetPath)
      commitCounted(spark, targetPath)(target => target
        .join(broadcast(updates.select(col(key))), Seq(key), "left_anti")
        .unionByName(updates.select(target.columns.map(col): _*)))
    }

  /** Small-file compaction: rewrite a directory into ⌈rows/target⌉
    * files. Streaming sinks and per-batch upserts accumulate small
    * files; at scale the fix is a periodic coalesced rewrite sized by
    * row count (a proxy for bytes when row width is stable), not a
    * bigger write — readers pay per-file open cost and the driver pays
    * per-file planning cost until compaction runs.
    */
  def compact(spark: SparkSession, path: String, rowsPerFile: Long): Long =
    IndexFS.withWriterLease(path) {
      adoptIfPlain(spark, path)
      Snapshot.transact(path) { txn =>
        val df = txn.snap.read(spark, tableComp)
        val n = df.count()
        val files = math.max(1L, (n + rowsPerFile - 1) / rowsPerFile).toInt
        txn.writeFull(df.repartition(files), tableComp)
        files.toLong
      }
    }
}
