package graft.sources

import java.net.{URLDecoder, URLEncoder}
import java.nio.charset.StandardCharsets

import scala.jdk.CollectionConverters._
import scala.util.chaining._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Snapshot manifests for stored layouts — READER ISOLATION for the
  * stored-index data plane (the control-plane twin of
  * [[IndexFS.withWriterLease]], which serializes writers but cannot
  * protect a probe racing a maintenance rewrite).
  *
  * The problem it solves: a dynamic-partition-overwrite (or a
  * staging-dir swap) REPLACES files in place, so a probe that planned
  * its scan before the rewrite can fault on vanished files
  * (FileNotFoundException) or read a half-replaced generation. At
  * 100 TB the stored indexes exist precisely to be probed WHILE
  * nightly maintenance runs, so in-place replacement is not an option.
  *
  * The design (the Iceberg/Delta snapshot idea, cut down to what the
  * graft layouts need):
  *
  *  - every component keeps ONE stable directory, with one extra
  *    LEADING partition level `gsn=<stamp>` (generation stamp). A
  *    maintenance op never modifies or deletes a live file: it writes
  *    its output to a hidden staging directory and RENAMES it in as a
  *    fresh stamp's subtree (pure addition — one data write, one
  *    metadata move, and the output path never overlaps the input
  *    paths, so Spark's overwrite-while-reading guard never needs a
  *    defensive materialization), then
  *  - publishes the next numbered MANIFEST under `base/_SNAPSHOTS/`
  *    by atomic exclusive create. The manifest records, per component,
  *    which (partition, gsn) combinations are LIVE — ownership, as
  *    explicit include/exclude partition-value lists per stamp;
  *  - a reader resolves the LATEST manifest once per query and applies
  *    the ownership predicate as an ordinary static partition filter
  *    over a SINGLE scan of the component directory — partition
  *    pruning and dynamic partition pruning keep working exactly as
  *    on the un-versioned layout, and the files a resolved manifest
  *    references are immutable, so the read is a consistent snapshot;
  *  - old generations are garbage-collected only after a GRACE period
  *    and only when unreferenced by the kept manifests, so an
  *    in-flight probe that resolved the previous manifest finishes
  *    against intact files.
  *
  * Crash atomicity falls out: every mutation — append, delete,
  * compact, scrub, resplit, full rebuild, table MERGE — becomes "write
  * new leaves, flip one manifest". A crash before the publish leaves
  * unreferenced leaves (reclaimed by grace-period GC) and readers
  * never see them; a crash after the publish is a completed
  * operation: the manifest IS the commit point. Generalizes the
  * reference's per-row commit
  * no-partial-visibility contract (Odoo-Batch-Processing.user.js:554-621)
  * to whole-layout maintenance.
  *
  * [[transact]] is the one write path. It takes the layout's writer
  * lease, resolves the base manifest once, and hands the caller's body
  * a [[Txn]] that stages new leaves and edits ownership against that
  * manifest. Then it commits. If the body or the commit throws, it
  * aborts: the staging writes are cancelled and joined, nothing is
  * deleted, and no published manifest is touched. A transaction that
  * staged nothing and left ownership unchanged publishes no manifest
  * and runs no GC, so a conditional maintenance step needs no
  * transaction of its own.
  *
  * Stamps are random 63-bit values, not a counter: a writer that
  * crashed after writing data but before publishing can never collide
  * with a later writer's leaf directories, so orphaned leaves are
  * inert garbage rather than corruption. Manifest FILES are numbered
  * monotonically (readers take the max); numbering is race-free
  * because every publisher holds the layout's writer lease.
  *
  * The same immutability makes everything derived from a leaf's
  * contents cacheable for the life of the JVM: a `comp/gsn=<stamp>`
  * leaf appears complete (one rename), is never modified, is removed
  * only by GC once no kept manifest references it, and its stamp is
  * never reused. So a leaf's file LISTING and the read SCHEMA of a
  * leaf set are computed once and served from caches on every later
  * read ([[Manifest.read]]); a repeated probe of an unchanged layout
  * plans without touching the filesystem. The same argument covers
  * the ROWS of small components ([[Manifest.held]]: IVFADC centroids
  * and codebooks, BM25 corpus stats, the cells label domain), with one
  * addition: the rows a read returns also depend on each leaf's
  * include/exclude partition lists, which a partition drop changes
  * without adding a leaf. So held rows are keyed by the exact live
  * OWNERS (leaves plus those lists), and are read by no job after the
  * first probe of a snapshot's component. The bounds: one component (or
  * view) is held only when its planner estimate fits
  * [[Sources.HeldBytes]] (4 MB), all held rows together stay within
  * that same 4 MB and [[HeldEntries]] entries (least recently used
  * evicted), and a context's entries go when it stops. Only rows
  * derived from a component are held — never anything computed from
  * a probe's queries or parameters.
  *
  * Manifests say which generations are live, not whether a layout is
  * fresh: the freshness `MARKER`, the `_VERSION` stamp, wipe-on-stale
  * and the pristine cache belong to [[StoredLayout]], the one owner
  * of the stored-index lifecycle.
  */
object Snapshot {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)
  private val warnedNonAtomic =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Most inferred read schemas [[schemaCache]] keeps. A schema is a
    * few KB; every commit that touches a component makes a new leaf
    * set, so a long-lived session that keeps maintaining its layouts
    * would otherwise grow the cache forever.
    */
  private[graft] val SchemaCacheEntries = 1024

  /** Inferred read schemas keyed by a component's exact sorted live-
    * leaf list, least recently used evicted past [[SchemaCacheEntries]]
    * (see [[Manifest.read]] for the correctness argument: manifest-
    * referenced leaves are immutable, so same leaves ⇒ same bytes ⇒
    * same schema, forever — an evicted entry re-infers to the same
    * schema).
    */
  private[graft] val schemaCache =
    new Lru[StructType](SchemaCacheEntries, Long.MaxValue, _ => 0L)

  /** A synchronized map that evicts its least recently used entries
    * past `maxEntries` entries or past `maxWeight` summed `weight`.
    */
  private[graft] final class Lru[V](maxEntries: Int, maxWeight: Long,
                                    weight: V => Long) {
    private var total = 0L
    private val m = new java.util.LinkedHashMap[String, V](64, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[String, V]): Boolean = {
        val evict = this.size > maxEntries
        if (evict) total -= weight(e.getValue)
        evict
      }
    }
    def get(key: String): Option[V] = m.synchronized(Option(m.get(key)))
    def put(key: String, v: V): Unit = m.synchronized {
      Option(m.put(key, v)).foreach(old => total -= weight(old))
      total += weight(v)
      removeIf(_ => total > maxWeight)
    }
    /** Drop every entry `p` holds for, eldest first (`p` may read the
      * running weight: `put` drops entries until it fits).
      */
    def removeIf(p: V => Boolean): Unit = m.synchronized {
      val it = m.values.iterator
      while (it.hasNext) { val v = it.next(); if (p(v)) { total -= weight(v); it.remove() } }
    }
    def size: Int = m.synchronized(m.size)
    def values: Seq[V] = m.synchronized(m.values.asScala.toSeq)
  }

  /** Most entries [[heldCache]] keeps. */
  private[graft] val HeldEntries = 64

  /** A held component's rows ([[Manifest.held]]), its estimated size,
    * and the context that read it.
    */
  private[graft] final case class HeldEntry(sc: org.apache.spark.SparkContext,
                                            schema: StructType, rows: Seq[Row],
                                            bytes: Long)

  /** Small immutable components held on the driver
    * ([[Manifest.held]]), keyed by the component's exact live owners
    * plus the name of the view derived from it. Least recently used
    * entries are evicted past [[HeldEntries]] entries or past
    * [[Sources.HeldBytes]] estimated bytes in total, and a context's
    * entries are dropped when it stops.
    */
  private[graft] val heldCache =
    new Lru[HeldEntry](HeldEntries, Sources.HeldBytes, _.bytes)

  /** The trailing generation-stamp partition column added to every
    * snapshot-managed component. Not a data column: readers drop it.
    */
  val GSN = "gsn"

  private val manifestDirName = "_SNAPSHOTS"
  private def manifestDir(base: String): String = s"$base/$manifestDirName"

  /** One writer-generation's claim over a component's partitions.
    * `include = Some(tuples)` owns exactly those partition-value
    * tuples; `include = None` owns every partition present at this
    * stamp except `exclude` (the full-rebuild / folded form — the
    * writer need not enumerate what it wrote). Values are the
    * partition-directory strings; a tuple SHORTER than the partition
    * columns is a PREFIX claim (the ownership predicate compares only
    * the leading columns) — how [[Txn.dropPrefix]] excludes a whole
    * segment from a folded owner without enumerating its complement.
    */
  final case class Owner(gsn: Long, include: Option[Seq[Seq[String]]],
                         exclude: Seq[Seq[String]])

  /** A component's partition columns (without [[GSN]]; empty for an
    * unpartitioned component) and its live owners.
    */
  final case class Comp(partCols: Seq[String], owners: Seq[Owner])

  /** A resolved snapshot: the files it references are immutable for
    * at least the GC grace period, so every read through one manifest
    * object is a consistent point-in-time view of the layout.
    */
  final case class Manifest(base: String, id: Long,
                            comps: Map[String, Comp]) {

    /** True iff `comp` is live in this snapshot (has at least one
      * owner). The "delta segments exist" / "tombstones exist" test.
      */
    def has(comp: String): Boolean =
      comps.get(comp).exists(_.owners.nonEmpty)

    /** The live generation-leaf directories of `comp` in this
      * snapshot — the only subtrees a read may touch.
      */
    private def liveLeaves(comp: String): Seq[String] =
      comps.get(comp).toSeq.flatMap(_.owners.map(_.gsn)).distinct
        .map(g => s"$base/$comp/$GSN=$g")

    /** The key [[schemaCache]] files `comp`'s read schema under: the
      * exact sorted live-leaf list.
      */
    private[graft] def schemaKey(comp: String): String =
      liveLeaves(comp).sorted.mkString("\n")

    /** Read a live component as of this snapshot: one scan listing
      * ONLY the owned generation leaves (partition discovery rooted at
      * the component, so [[GSN]] and the real partition columns still
      * materialize), with the ownership predicate as a static
      * partition filter. Dead generations awaiting GC are never even
      * LISTED — file-listing cost is bounded by live data, not by
      * maintenance history. Row-group pushdown and DPP on the real
      * partition columns are untouched. Fails loudly on a component
      * this snapshot does not carry, or one with no parquet file.
      *
      * Both halves of the scan's driver-side planning are served from
      * caches after the first read of a leaf set, because a leaf's
      * contents never change (staged in by rename, only ever deleted
      * by GC, stamps never reused):
      *  - the LISTING comes from one long-lived client of Spark's
      *    `FileStatusCache` ([[org.apache.spark.sql.graftbridge.CachedListing]]),
      *    so each leaf is listed at most once per JVM. A plain
      *    `spark.read` re-lists on every call, and a leaf with more than
      *    32 partition directories (BM25's 64 buckets, the dedup bands)
      *    is listed by a Spark job of its own, about 0.3 s per leaf per
      *    probe;
      *  - the read SCHEMA comes from [[schemaCache]] when this exact
      *    leaf set was inferred before: inference reads parquet footers
      *    in a Spark job of its own, and the maintenance slots issue
      *    dozens of component reads per run over history components
      *    whose leaf set did not change between replay cycles. Keying
      *    on the EXACT sorted leaf list makes it correct
      *    unconditionally: the same leaf set can never carry different
      *    bytes, and any append, compact, fold or rebuild changes the
      *    set and re-infers.
      */
    def read(spark: SparkSession, comp: String): DataFrame =
      scan(spark, comp).getOrElse(throw new IllegalStateException(
        s"snapshot $id of $base: component '$comp' has no parquet files"))

    /** [[read]], or None when the component is absent from this
      * snapshot or physically empty (a component whose every owned
      * partition was written from an empty frame has directories but
      * no parquet files — unreadable, and semantically "no data").
      * Emptiness is read off the same cached listing of the LIVE
      * leaves the scan uses; no extra filesystem walk.
      */
    def readOpt(spark: SparkSession, comp: String): Option[DataFrame] =
      if (!has(comp)) None else scan(spark, comp)

    /** A small component — or the `view` of it that `derive` computes
      * (a label domain, say) — held on the driver and served as a
      * local relation: after the first read of a snapshot's component
      * no job reads it, and its rows are on hand for driver-side math.
      * Keyed by the component's exact live owners — each generation
      * leaf with its include/exclude partition lists, which together
      * decide the rows a read returns. Leaves are immutable, so the
      * same owners always read the same rows, and any append, compact,
      * rebuild, GC or partition drop that changes them misses and
      * re-reads. Only a frame whose planner size estimate fits
      * [[Sources.HeldBytes]] is held; a larger one is returned as the
      * ordinary Spark-side read (no rows). Nothing derived from probe
      * parameters belongs here — `derive` sees only the component.
      */
    def held(spark: SparkSession, comp: String, view: String = "",
             derive: DataFrame => DataFrame = identity): Sources.Held = {
      val owners = comps.get(comp).toSeq.flatMap(_.owners).map(_.toString).sorted
      val key = (s"$base/$comp" +: owners :+ s"#$view").mkString("\n")
      def local(e: HeldEntry): Sources.Held =
        Sources.local(spark, e.rows, e.schema)
      heldCache.get(key).map(local).getOrElse {
        val df = derive(read(spark, comp))
        val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
        if (est > Sources.HeldBytes) new Sources.Held(df, None)
        else {
          val sc = spark.sparkContext
          Sources.onContextEnd(sc, "Snapshot.heldCache")(
            heldCache.removeIf(_.sc eq sc))
          val e = HeldEntry(sc, df.schema, df.collect().toSeq, est.toLong)
          heldCache.put(key, e)
          local(e)
        }
      }
    }

    private def scan(spark: SparkSession, comp: String): Option[DataFrame] = {
      val c = comps.getOrElse(comp, throw new IllegalStateException(
        s"snapshot $id of $base has no component '$comp'"))
      val key = schemaKey(comp)
      org.apache.spark.sql.graftbridge.CachedListing.parquet(spark,
        s"$base/$comp", liveLeaves(comp), schemaCache.get(key)).map { df =>
        schemaCache.put(key, df.schema)
        df.filter(ownershipPred(c)).drop(GSN)
      }
    }
  }

  private def ownershipPred(c: Comp): Column = {
    def tuplesPred(ts: Seq[Seq[String]]): Column =
      if (c.partCols.size == 1)
        col(c.partCols.head).cast("string").isin(ts.map(_.head): _*)
      else Sources.anyOf(ts.map { t =>
        c.partCols.zip(t).map { case (p, v) =>
          col(p).cast("string") === lit(v)
        }.reduce(_ && _)
      })
    Sources.anyOf(c.owners.map { o =>
      val g = col(GSN) === lit(o.gsn)
      o.include match {
        case Some(ts) => if (ts.isEmpty) lit(false) else g && tuplesPred(ts)
        case None =>
          if (o.exclude.isEmpty) g else g && !tuplesPred(o.exclude)
      }
    })
  }

  // ------------------------------------------------------------------
  // Manifest codec: a line format with URL-encoded values (no JSON
  // library dependency, trivially diffable in a terminal).
  // ------------------------------------------------------------------

  private val header = "graft-snapshot v1"
  private def enc(s: String): String =
    URLEncoder.encode(s, StandardCharsets.UTF_8)
  private def dec(s: String): String =
    URLDecoder.decode(s, StandardCharsets.UTF_8)
  private def encTuples(ts: Seq[Seq[String]]): String =
    ts.map(_.map(enc).mkString("|")).mkString(";")
  private def decTuples(s: String): Seq[Seq[String]] =
    if (s.isEmpty) Nil
    else s.split(";", -1).toSeq.map(_.split("\\|", -1).toSeq.map(dec))

  private def render(m: Manifest): String = {
    val sb = new StringBuilder(header).append('\n')
    m.comps.toSeq.sortBy(_._1).foreach { case (name, c) =>
      sb.append(s"comp ${enc(name)} partCols=")
        .append(if (c.partCols.isEmpty) "-"
                else c.partCols.map(enc).mkString(",")).append('\n')
      c.owners.foreach { o =>
        val (mode, vals) = o.include match {
          case Some(ts) => ("include", encTuples(ts))
          case None     => ("exclude", encTuples(o.exclude))
        }
        sb.append(s"own gsn=${o.gsn} mode=$mode vals=$vals").append('\n')
      }
    }
    sb.toString
  }

  private def parse(base: String, id: Long, txt: String): Manifest = {
    val lines = txt.linesIterator.toSeq
    scala.Predef.require(lines.headOption.contains(header),
      s"snapshot manifest $id of $base: unrecognized header " +
        s"'${lines.headOption.getOrElse("")}'")
    var comps = Vector.empty[(String, Comp)]
    lines.drop(1).filter(_.nonEmpty).foreach { line =>
      if (line.startsWith("comp ")) {
        val rest = line.stripPrefix("comp ")
        val sp = rest.indexOf(" partCols=")
        val name = dec(rest.substring(0, sp))
        val pcs = rest.substring(sp + " partCols=".length)
        val partCols =
          if (pcs == "-") Nil else pcs.split(",").toSeq.map(dec)
        comps :+= (name -> Comp(partCols, Vector.empty))
      } else if (line.startsWith("own ")) {
        scala.Predef.require(comps.nonEmpty,
          s"manifest $id of $base: owner before comp")
        val kv = line.stripPrefix("own ").split(" ", 3)
        val gsn = kv(0).stripPrefix("gsn=").toLong
        val mode = kv(1).stripPrefix("mode=")
        val vals = decTuples(kv(2).stripPrefix("vals="))
        val o =
          if (mode == "include") Owner(gsn, Some(vals), Nil)
          else Owner(gsn, None, vals)
        val (n, c) = comps.last
        comps = comps.init :+ (n -> c.copy(owners = c.owners :+ o))
      } else throw new IllegalStateException(
        s"manifest $id of $base: unrecognized line '$line'")
    }
    Manifest(base, id, comps.toMap)
  }

  private def manifestName(id: Long): String = f"m$id%012d"
  private def parseId(name: String): Option[Long] =
    if (name.length == 13 && name.head == 'm' && name.tail.forall(_.isDigit))
      Some(name.tail.toLong)
    else None

  /** Ids of all published manifests of `base`, ascending. */
  private def manifestIds(base: String): Seq[Long] =
    IndexFS.listNames(manifestDir(base)).flatMap(parseId).sorted

  /** True iff `base` is snapshot-managed (has at least one manifest). */
  def enabled(base: String): Boolean = manifestIds(base).nonEmpty

  /** Resolve the latest published snapshot of `base`, if any. */
  def current(base: String): Option[Manifest] =
    manifestIds(base).lastOption.map(id => load(base, id))

  /** Resolve the latest snapshot; fail loudly when the layout has
    * none (callers run after a build gate, so absence is a bug or a
    * foreign directory, not a state to paper over).
    */
  def require(base: String): Manifest =
    current(base).getOrElse(throw new IllegalStateException(
      s"stored layout $base has no published snapshot manifest"))

  private def load(base: String, id: Long): Manifest = {
    val path = s"${manifestDir(base)}/${manifestName(id)}"
    val txt = IndexFS.readStringOpt(path).getOrElse(
      throw new IllegalStateException(s"cannot read manifest $path"))
    parse(base, id, txt)
  }

  // ------------------------------------------------------------------
  // Writer side: [[transact]] and its [[Txn]].
  // ------------------------------------------------------------------

  /** A fresh random 63-bit generation stamp (see the object scaladoc:
    * random, not a counter, so a crashed writer's leaves can never
    * collide with a later writer's).
    */
  private def randomStamp(): Long = {
    val u = java.util.UUID.randomUUID()
    (u.getMostSignificantBits ^ u.getLeastSignificantBits) & Long.MaxValue
  }

  /** Layouts with a transaction open on this thread ([[transact]]). */
  private val open = new ThreadLocal[Set[String]] {
    override def initialValue(): Set[String] = Set.empty
  }

  /** Run `body` in a snapshot transaction on `base` (see the object
    * doc), under the writer lease — re-entrant, so a caller whose lease
    * also covers a freshness gate, an adoption or a wipe keeps it.
    * `onStep` is [[Txn.commit]]'s fault-injection hook. A second
    * transaction on `base` opened inside `body` fails: it would commit
    * ownership computed against a manifest the outer one replaces.
    */
  def transact[T](base: String, onStep: Int => Unit = _ => ())
                 (body: Txn => T): T = {
    if (open.get.contains(base))
      throw new IllegalStateException(
        s"nested snapshot transaction on $base: one is already open on this thread")
    IndexFS.withWriterLease(base) {
      open.set(open.get + base)
      val txn = new Txn(base, current(base))
      try body(txn).tap(_ => txn.commit(onStep))
      catch { case e: Throwable => txn.abort(); throw e }
      finally open.set(open.get - base)
    }
  }

  /** A snapshot transaction, opened only by [[transact]]: data writes
    * land under a fresh random generation stamp as they are issued
    * (never touching live files); ownership mutations accumulate in
    * memory; [[commit]] flips them live with one atomic manifest
    * publish, then GCs.
    */
  final class Txn private[Snapshot] (val base: String,
                                     prev: Option[Manifest]) {
    /** This transaction's generation stamp: random, so leaves from a
      * crashed predecessor can never collide with ours.
      */
    val gsn: Long = randomStamp()
    private val nextId: Long = prev.map(_.id + 1).getOrElse(1L)
    private val prevComps: Map[String, Comp] =
      prev.map(_.comps).getOrElse(Map.empty)
    private var comps: Map[String, Comp] = prevComps
    private var latest: Option[Manifest] = prev

    /** The base manifest this transaction resolved, or, once it has
      * committed, the one it published. Fails loudly on a layout with
      * none (a maintenance op runs after a build).
      */
    def snap: Manifest = latest.getOrElse(throw new IllegalStateException(
      s"stored layout $base has no published snapshot manifest"))
    /** In-flight staging writes; joined (and failures rethrown)
      * before the commit's fold/publish steps. Their jobs carry `tag`,
      * so a failed write cancels its siblings ([[awaitStaged]]).
      */
    private val inflight = scala.collection.mutable.Buffer
      .empty[(SparkSession, java.util.concurrent.CompletableFuture[Unit])]
    private[graft] val tag = Par.newTag()

    /** One data write into a hidden staging directory, one rename
      * into place as `comp/gsn=<stamp>`. The staged subtree is
      * invisible to every reader until the manifest publish: readers
      * only select stamps their resolved manifest owns.
      *
      * The write runs ASYNCHRONOUSLY (guide §2.6): a build stages 3-5
      * independent components and an append/admit cycle 2-3, and pool
      * threads overlap their job tails, commit protocols and the
      * caller's driver work. [[commit]] joins every write (rethrowing
      * the first failure) before any manifest arithmetic that could
      * observe the staged files. Bytes, file layout and ownership
      * arithmetic are the sequential formulation's: every call site
      * stages from checkpoints or disjoint derivations, never from
      * another component's staged output.
      */
    private def stageIn(df: DataFrame, comp: String, partCols: Seq[String],
                        stamp: Long = gsn): Unit = {
      val work: () => Unit = () => {
        val stage = s"$base/.staging/$stamp-${URLEncoder.encode(comp,
          StandardCharsets.UTF_8)}"
        val w = df.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        (if (partCols.isEmpty) w else w.partitionBy(partCols: _*))
          .parquet(stage)
        IndexFS.mkdirs(s"$base/$comp")
        val dst = s"$base/$comp/$GSN=$stamp"
        if (!IndexFS.rename(stage, dst))
          throw new java.io.IOException(
            s"snapshot stage rename $stage -> $dst failed")
      }
      inflight += df.sparkSession -> Par.submit(df.sparkSession, tag)(work)
    }

    /** Join every in-flight staging write — the barrier between data
      * staging and the commit's manifest work. The first failure
      * cancels the other writes' jobs and is rethrown once all have
      * ended ([[Par.awaitAll]]), so no write still renames a leaf into
      * place after the transaction has failed.
      */
    private def awaitStaged(): Unit =
      try inflight.headOption.foreach { case (spark, _) =>
        Par.awaitAll(spark, tag, inflight.map(_._2).toSeq)
      } finally inflight.clear()

    /** End a failed transaction: cancel and join its in-flight staging
      * writes ([[Par.cancelAndDrain]]). A leaf or `.staging` subtree that
      * landed first is left to grace-period GC, like a crashed writer's.
      */
    private[Snapshot] def abort(): Unit =
      try inflight.headOption.foreach { case (spark, _) =>
        Par.cancelAndDrain(spark, tag, inflight.map(_._2).toSeq)
      } finally inflight.clear()

    /** Write `df` as the component's complete new content: this stamp
      * owns every partition it carries (exclude-form owner — no
      * enumeration needed). The full-rebuild / small-artifact form.
      */
    def writeFull(df: DataFrame, comp: String, partCols: String*): Unit = {
      stageIn(df, comp, partCols)
      comps += comp -> Comp(partCols, Seq(Owner(gsn, None, Nil)))
    }

    /** Write `df` as the new content of exactly the partition-value
      * tuples `parts` (which must cover every partition `df` carries
      * — data written outside the claimed tuples would be invisible).
      * Prior owners lose those tuples; everything else is untouched.
      * The append / compact / scrub form: only affected partitions
      * get new bytes.
      */
    def writeParts(df: DataFrame, comp: String, partCols: Seq[String],
                   parts: Seq[Seq[String]]): Unit = {
      scala.Predef.require(parts.nonEmpty,
        s"writeParts($comp): empty partition claim")
      stageIn(df, comp, partCols)
      val old = comps.get(comp) match {
        case Some(c) =>
          scala.Predef.require(c.partCols == partCols,
            s"writeParts($comp): partCols ${partCols.mkString(",")} != " +
              s"manifest's ${c.partCols.mkString(",")}")
          c.owners
        case None => Nil
      }
      comps += comp -> Comp(partCols,
        subtract(old, parts) :+ Owner(gsn, Some(parts), Nil))
    }

    /** Remove the partition-value tuples `parts` from the component's
      * ownership without writing replacements — the "this partition's
      * rows all died" form (a dynamic overwrite cannot express an
      * emptied partition).
      */
    def dropParts(comp: String, parts: Seq[Seq[String]]): Unit =
      comps.get(comp).foreach { c =>
        val owners = subtract(c.owners, parts)
        if (owners.isEmpty) comps -= comp
        else comps += comp -> c.copy(owners = owners)
      }

    /** Remove a component from the snapshot entirely (cleared
      * tombstones, folded delta segments).
      */
    def dropComp(comp: String): Unit = comps -= comp

    /** Remove every partition tuple starting with `prefix` from the
      * component's ownership — how a replayed LSM segment supersedes
      * its own previous claim no matter which partitions the old
      * write covered. Include-form owners drop matching tuples; an
      * exclude-form owner (a folded generation — see [[foldOwners]])
      * EXCLUDES the prefix itself: the ownership predicate evaluates
      * tuples shorter than the partition columns as prefix matches, so
      * no complement ever needs enumerating.
      */
    def dropPrefix(comp: String, prefix: Seq[String]): Unit =
      comps.get(comp).foreach { c =>
        val owners = c.owners.flatMap { o =>
          o.include match {
            case Some(ts) =>
              val kept = ts.filterNot(_.startsWith(prefix))
              if (kept.isEmpty) None else Some(o.copy(include = Some(kept)))
            case None =>
              Some(o.copy(exclude = (o.exclude :+ prefix).distinct))
          }
        }
        if (owners.isEmpty) comps -= comp
        else comps += comp -> c.copy(owners = owners)
      }

    private def subtract(owners: Seq[Owner],
                         parts: Seq[Seq[String]]): Seq[Owner] = {
      val ps = parts.toSet
      owners.flatMap { o =>
        o.include match {
          case Some(ts) =>
            val kept = ts.filterNot(ps)
            if (kept.isEmpty) None else Some(o.copy(include = Some(kept)))
          case None =>
            Some(o.copy(exclude = (o.exclude ++ parts).distinct))
        }
      }
    }

    /** Total enumeration cost a component's owners impose on every
      * manifest parse and every probe's ownership predicate: one unit
      * per include tuple, one per exclude tuple (plus one for the
      * exclude-form owner itself).
      */
    private def ownerCost(c: Comp): Long =
      c.owners.map(o => o.include.map(_.size.toLong)
        .getOrElse(1L + o.exclude.size)).sum

    /** Bound manifest growth: every append adds an include-form owner
      * enumerating its claimed tuples, so after K appends a delta
      * component's manifest entry — and the IN-list its ownership
      * predicate plans — grows O(K × claimed tuples) without bound
      * (merging include-lists would not help: claims are disjoint
      * across owners by [[subtract]], so a merge preserves the tuple
      * count). When a component's enumeration cost exceeds
      * `graft.snapshot.foldOwnerTuples` (default 4096), FOLD it: read
      * its live rows (one scan under the current ownership predicate)
      * and restage them under ONE fresh stamp owned in exclude-form —
      * "every partition present at this stamp", O(1) manifest cost no
      * matter how many partitions are live. LSM segment replays keep
      * working: [[dropPrefix]] excludes the prefix from a folded
      * owner instead of enumerating its complement. The old leaves
      * become unreferenced and age out through GC's grace period —
      * in-flight probes on the pre-fold manifest are untouched.
      * Amortized: one bounded rewrite per ~threshold appended tuples,
      * the classic LSM leveled-compaction trade; after a fold the
      * component's cost resets to 1 and grows only with NEW claims,
      * so manifest size stays ≤ threshold + one append's claim
      * forever.
      */
    private def foldOwners(): Unit = {
      val threshold = confLong("graft.snapshot.foldOwnerTuples", 4096L)
      val heavy = comps.filter { case (_, c) =>
        c.owners.size > 1 && ownerCost(c) > threshold
      }
      if (heavy.isEmpty) return
      val spark = SparkSession.getActiveSession
        .orElse(SparkSession.getDefaultSession)
        .getOrElse(throw new IllegalStateException(
          s"snapshot owner-fold on $base: no SparkSession"))
      heavy.foreach { case (name, c) =>
        // read only the owned leaves (Manifest.read): dead generations
        // awaiting GC are never touched by the fold scan. A component
        // whose live leaves hold no parquet (every owned partition was
        // written from an empty frame — readOpt's "physically empty"
        // case) cannot be re-read for folding: schema inference would
        // fail an unrelated transaction's commit. Its manifest cost is
        // all dead claims; drop them.
        Manifest(base, nextId, Map(name -> c)).readOpt(spark, name) match {
          case None => comps -= name
          case Some(live) =>
            val fresh = randomStamp()
            stageIn(live, name, c.partCols, fresh)
            comps += name -> c.copy(owners = Seq(Owner(fresh, None, Nil)))
        }
      }
    }

    /** Publish the accumulated state as the next manifest (atomic
      * exclusive create — the commit point), then garbage-collect
      * generations unreferenced by the kept manifests and older than
      * the grace period. A transaction that staged nothing and left
      * ownership unchanged publishes nothing and runs no GC. `onStep`
      * is a fault-injection hook for the crash-window specs: (1) data
      * written, not yet published; (2) published — the new snapshot is
      * live; (3) GC done.
      */
    private[Snapshot] def commit(onStep: Int => Unit): Unit = {
      val changed = inflight.nonEmpty || comps != prevComps
      awaitStaged() // all leaves on disk before foldOwners can re-read them
      if (!changed) return
      foldOwners()
      awaitStaged() // foldOwners stages the folded generations itself
      onStep(1)
      val m = Manifest(base, nextId, comps)
      val path = s"${manifestDir(base)}/${manifestName(nextId)}"
      IndexFS.mkdirs(manifestDir(base))
      // the publish protocol's two atomicity claims (all-or-nothing
      // visibility via rename, rename-refuses-to-overwrite against a
      // broken lease) hold only where FileSystem.rename is an atomic
      // metadata move — fail fast / warn once on copy-rename stores
      // (S3A should publish via conditional create,
      // fs.s3a.create.conditional, before trusting this path)
      if (!IndexFS.renameIsAtomic(base)) {
        if (confBool("graft.snapshot.requireAtomicRename", dflt = false))
          throw new IllegalStateException(
            s"snapshot publish on $base: the filesystem's rename is a " +
              "non-atomic copy (object store) — the manifest publish " +
              "protocol needs atomic rename; disable " +
              "graft.snapshot.requireAtomicRename to proceed at risk")
        else if (warnedNonAtomic.add(base))
          log.warn(s"snapshot publish on $base: rename is a non-atomic " +
            "copy on this filesystem — a racing reader can list a " +
            "manifest mid-copy and the double-publish guard is " +
            "unreliable; prefer a store with atomic rename or a " +
            "conditional-create publish")
      }
      // write-then-rename: a manifest must become VISIBLE only with
      // its full content (a bare exclusive create exposes the file
      // before the bytes land, and a racing reader listing the
      // directory at that instant would parse a partial manifest).
      // The tmp name starts with '.' so readers' id listing never
      // considers it; rename-refuses-to-overwrite keeps the
      // exclusive-create safety against a broken lease.
      val tmp = s"${manifestDir(base)}/.m$nextId.$gsn.tmp"
      IndexFS.writeString(tmp, render(m))
      if (!IndexFS.rename(tmp, path))
        throw new IllegalStateException(
          s"snapshot publish of $path lost a rename race — another " +
            "writer published under our lease (broken lease?)")
      latest = Some(m)
      onStep(2)
      gc(base)
      onStep(3)
    }
  }

  // ------------------------------------------------------------------
  // Garbage collection.
  // ------------------------------------------------------------------

  private def confLong(key: String, dflt: Long): Long =
    SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
      .flatMap(_.conf.getOption(key)).map(_.toLong).getOrElse(dflt)

  /** The configured GC grace period (`graft.snapshot.graceMs`) —
    * shared with the table-adoption path, whose root-file cleanup
    * follows the same dereference-anchored rule.
    */
  private[sources] def graceMs: Long =
    confLong("graft.snapshot.graceMs", 600000L)

  private def confBool(key: String, dflt: Boolean): Boolean =
    SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
      .flatMap(_.conf.getOption(key)).map(_.toBoolean).getOrElse(dflt)

  /** Reclaim retired manifests and the generation leaves no on-disk
    * manifest references. The grace period runs from RETIREMENT, not
    * from any file's creation time: when a manifest first drops out of
    * the kept window (`graft.snapshot.keepLast`, default 2) it gets a
    * retirement stamp (a dot-marker whose mtime is the retirement
    * observation) and is deleted only once that stamp is older than
    * `graft.snapshot.graceMs` (default 10 min). Leaves stay as long as
    * ANY manifest still on disk references them. The two rules
    * compose into the reader-isolation guarantee: a probe can only
    * have resolved a manifest while it was on disk, retired manifests
    * survive ≥ grace past retirement, so every file a resolved
    * manifest references stays intact for ≥ grace after that manifest
    * stops being servable — however old the file itself is. (Gating
    * leaf deletion on the leaf's own mtime instead would reap a
    * day-old leaf the instant it falls out of the kept window — a
    * probe overlapping an append+compact cycle would FileNotFound
    * mid-scan.) Unreferenced leaves additionally wait out grace on
    * their own mtime, which is what ages out crashed writers' orphans.
    * Safe to call any time under the writer lease.
    */
  def gc(base: String): Unit = {
    val keepLast = math.max(1, confLong("graft.snapshot.keepLast", 2L).toInt)
    val grace = graceMs
    val ids = manifestIds(base)
    if (ids.isEmpty) return
    val mdir = manifestDir(base)
    val now = System.currentTimeMillis()
    val cutoff = now - grace
    def retireMarker(id: Long): String = s"$mdir/.retired-${manifestName(id)}"
    def markerIds: Seq[Long] = IndexFS.listNames(mdir)
      .filter(_.startsWith(".retired-"))
      .flatMap(n => parseId(n.stripPrefix(".retired-")))
    // the retirement timestamp is the marker's CONTENT (written by this
    // writer's clock), not its filesystem mtime: on an object store
    // whose clock is skewed against ours, a fresh marker's mtime can
    // look arbitrarily aged and would void the grace window. Content is
    // stamped and compared by the same writer-side clock family, so
    // skew cannot shorten grace; an unparsable/legacy marker falls back
    // to mtime.
    def retiredAt(marker: String): Option[Long] =
      IndexFS.readStringOpt(marker).flatMap(_.trim.toLongOption)
        .orElse(IndexFS.mtimeOf(marker))
    val kept = ids.takeRight(keepLast).toSet
    // un-retire: a marker for an id back inside the kept window (e.g.
    // keepLast was raised) must not carry a backdated retirement into a
    // future pass — the next genuine retirement starts a FRESH grace;
    // markers whose manifest is gone (crash between manifest delete and
    // marker delete) are orphans, cleaned here too
    markerIds.foreach { id =>
      if (kept.contains(id) || !IndexFS.exists(s"$mdir/${manifestName(id)}"))
        IndexFS.deleteRecursive(retireMarker(id))
    }
    // stamp retirement the first time a manifest is observed outside
    // the kept window; delete manifest + stamp once the STAMP (not the
    // manifest's own mtime) is past grace
    ids.dropRight(keepLast).foreach { id =>
      val marker = retireMarker(id)
      if (!IndexFS.exists(marker)) IndexFS.writeString(marker, now.toString)
      // fresh clock at check time, so graceMs=0 reclaims a marker
      // written a moment ago in this same pass
      if (retiredAt(marker)
          .exists(_ <= System.currentTimeMillis() - grace)) {
        IndexFS.deleteRecursive(s"$mdir/${manifestName(id)}")
        IndexFS.deleteRecursive(marker)
      }
    }
    // every (comp, gsn) ANY manifest still on disk references stays,
    // coarsely: one referenced partition keeps the stamp's whole
    // component slice
    val referenced: Map[String, Set[Long]] = manifestIds(base)
      .map(load(base, _))
      .flatMap(_.comps.toSeq.flatMap { case (n, c) =>
        c.owners.map(o => n -> o.gsn)
      })
      .groupBy(_._1).map { case (n, xs) => n -> xs.map(_._2).toSet }
    // candidate components: everything physically present except the
    // manifest dir, control files, and staging
    IndexFS.listNames(base)
      .filter(n => !n.startsWith("_") && !n.startsWith(".") &&
        IndexFS.isDirectory(s"$base/$n"))
      .foreach { compName =>
        val compDir = s"$base/$compName"
        val live = referenced.getOrElse(compName, Set.empty)
        IndexFS.listNames(compDir).foreach { leafName =>
          if (leafName.startsWith(s"$GSN=")) {
            val g = leafName.drop(GSN.length + 1).toLong
            val leaf = s"$compDir/$leafName"
            if (!live.contains(g) &&
                IndexFS.mtimeOf(leaf).exists(_ < cutoff))
              IndexFS.deleteRecursive(leaf)
          }
        }
        if (IndexFS.listNames(compDir).isEmpty)
          IndexFS.deleteRecursive(compDir)
      }
    // abandoned staging subtrees (crashed writers) age out the same way
    IndexFS.listNames(s"$base/.staging").foreach { n =>
      val p = s"$base/.staging/$n"
      if (IndexFS.mtimeOf(p).exists(_ < cutoff)) IndexFS.deleteRecursive(p)
    }
    // tmp files a crashed publisher abandoned between write and rename
    // (retirement markers are managed above and never match .m*.tmp)
    IndexFS.listNames(mdir)
      .filter(n => n.startsWith(".") && !n.startsWith(".retired-"))
      .foreach { n =>
        val p = s"$mdir/$n"
        if (IndexFS.mtimeOf(p).exists(_ < cutoff)) IndexFS.deleteRecursive(p)
      }
  }
}
