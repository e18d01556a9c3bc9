package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import Sources.MaintCheckpointSyntax

/** The stored-index LIFECYCLE, once for every layout family (BM25 and
  * its positional postings, IVFADC, the reference LM, the near-dup
  * bands, the hybrid `ann` cells), each named by its `kind`:
  *
  *  - `_VERSION` guards SHAPE drift and `MARKER` CONTENT drift: stale
  *    content rebuilds silently, a foreign version fails loudly;
  *  - [[build]]: under the writer lease, wipe an older layout, stage
  *    every artifact in ONE snapshot transaction, stamp, mark;
  *  - [[ensureFresh]], the probe gate: metadata reads only, never a
  *    corpus-wide job on the serving path;
  *  - [[ensureBase]] / [[restoreBase]]: the standing layout a scenario
  *    starts from, keyed in `MARKER_BASE` or restored from the
  *    `<base>_pristine` cache;
  *  - [[tombstone]] / [[rewriteMinusTombstones]]: delete and compact.
  *
  * Manifests and generations are [[Snapshot]]'s; filesystem calls and
  * the writer lease are [[IndexFS]]'s.
  */
object StoredLayout {

  private def markerPath(base: String): String = s"$base/MARKER"
  private def baseMarkerPath(base: String): String = s"$base/MARKER_BASE"

  /** The freshness marker's content, if the layout has one. */
  def marker(base: String): Option[String] =
    IndexFS.readStringOpt(markerPath(base))

  /** The marker starts with `prefix` (geometry + corpus fingerprint;
    * what follows is a build-time record such as the row count).
    */
  private def markerFresh(path: String, prefix: String): Boolean =
    IndexFS.readStringOpt(path).exists(_.startsWith(prefix))

  /** METADATA-ONLY corpus identity: md5 of the sorted input-file
    * listing, not a row count (a count per probe is a corpus-wide job
    * on the serving path). A content rewrite that keeps every file
    * path is invisible to it — the trust boundary of any standing
    * index.
    */
  def inputListingFp(df: DataFrame): String = {
    val listing = df.inputFiles.sorted.mkString("\n")
    java.security.MessageDigest.getInstance("MD5")
      .digest(listing.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  /** Current on-disk layout version per kind. Bump one when its
    * physical layout changes incompatibly. A foreign version must fail
    * LOUDLY, not rebuild: a v1 reader that "lazily rebuilt" a v2
    * layout would clobber data a newer deployment still serves.
    */
  private val layoutVersions: Map[String, Int] =
    Map("bm25" -> 2, "lm" -> 2, "ivfpq" -> 2, "dedup" -> 3, "ann" -> 1)

  private def versionPath(base: String): String = s"$base/_VERSION"

  // a base holding ONLY snapshot manifests (a versioned table) is not
  // a pre-contract index layout
  private val manifestDirNameForVersioning = "_SNAPSHOTS"

  private def versionLine(kind: String): String =
    s"graft-layout kind=$kind v=${layoutVersions(kind)}"

  private[graft] def stampVersion(base: String, kind: String): Unit =
    IndexFS.writeString(versionPath(base), versionLine(kind))

  /** True iff `base` holds an OLDER `kind` layout (or pre-contract
    * content without `_VERSION`) that the build path may wipe and
    * rebuild; false for the current version or a not-yet-built base.
    * A NEWER version or another KIND throws.
    */
  private def olderVersion(base: String, kind: String): Boolean =
    IndexFS.readStringOpt(versionPath(base)) match {
      case None =>
        // no _VERSION: a not-yet-built base is current (the marker
        // governs), but one that already HAS content is a pre-contract
        // layout, which the build path wipes and rebuilds
        IndexFS.listNames(base).exists(n =>
          !n.startsWith("_WRITER_LEASE") && n != manifestDirNameForVersioning)
      case Some(txt) =>
        val t = txt.trim
        t != versionLine(kind) && {
          val kv = t.stripPrefix("graft-layout ").split("\\s+")
            .flatMap(_.split("=") match {
              case Array(k, v) => Some(k -> v); case _ => None
            }).toMap
          val sameKind = kv.get("kind").contains(kind)
          val older = kv.get("v").flatMap(_.toIntOption)
            .exists(_ < layoutVersions(kind))
          (sameKind && older) || (throw new IllegalStateException(
            s"stored layout $base: layout-version mismatch — on disk " +
              s"'$t', this reader understands '${versionLine(kind)}'. " +
              "Refusing to read or lazily rebuild: a newer/foreign " +
              "layout must not be silently misread or clobbered. " +
              "Rebuild the layout with a matching library version or " +
              "point at a compatible base."))
        }
    }

  /** True iff the layout at `base` must go through its build path's
    * wipe-and-rebuild: an older version, or content with no snapshot
    * manifest (a pre-snapshot layout, or a lost manifest directory).
    */
  private def stale(base: String, kind: String): Boolean =
    olderVersion(base, kind) ||
      (!Snapshot.enabled(base) && IndexFS.listNames(base)
        .exists(n => !n.startsWith("_") && !n.startsWith(".")))

  /** True iff `base` serves `kind` as-is for `expected` in the marker
    * file at `path` (a prefix, or the whole marker when `exact`). The
    * version check runs first: a foreign layout fails loudly before
    * any marker is trusted.
    */
  private def servable(path: String, base: String, kind: String,
                       expected: String, exact: Boolean): Boolean =
    !stale(base, kind) && IndexFS.readStringOpt(path).exists(m =>
      if (exact) m == expected else m.startsWith(expected))

  /** Fail loudly unless `base` holds a built `kind` layout of this
    * reader's version — the guard of a writer that cannot rebuild (it
    * sees only a batch, not the corpus the layout was built from).
    */
  def requireBuilt(base: String, kind: String): Unit = {
    if (olderVersion(base, kind))
      throw new IllegalStateException(
        s"stored layout $base: on-disk layout is an older '$kind' " +
          "version — rebuild it (the build path self-upgrades) before " +
          "probing.")
    scala.Predef.require(IndexFS.exists(markerPath(base)),
      s"no stored $kind index at $base — build it first")
  }

  /** Delete everything under `base` except the writer-lease file and
    * the held lease's tombstones — the self-upgrade wipe. Caller must
    * hold the writer lease.
    */
  private[graft] def wipeLayout(base: String): Unit = {
    scala.Predef.require(IndexFS.holdsLease(base),
      s"wipeLayout($base) outside the writer lease")
    IndexFS.listNames(base).filterNot(_.startsWith("_WRITER_LEASE"))
      .foreach(n => IndexFS.deleteRecursive(s"$base/$n"))
  }

  /** A full build of a `kind` layout at `base` under its writer lease:
    * an older layout is wiped first (self-upgrade), then `body`
    * prepares its frames and publishes them through
    * [[Build.commit]]. With `primePristine` the result is also
    * copied to its pristine cache for a later [[restoreBase]].
    */
  def build[T](base: String, kind: String, primePristine: Boolean = false)
              (body: Build => T): T =
    IndexFS.withWriterLease(base) {
      if (stale(base, kind)) wipeLayout(base)
      body(new Build(base, kind, primePristine))
    }

  /** The commit half of a [[build]]. */
  final class Build private[StoredLayout] (base: String, kind: String,
                                           primePristine: Boolean) {
    /** One snapshot transaction: `stage` writes every artifact and
      * drops a previous corpus's maintenance residue (served with a
      * fresh base it would resurrect stale rows); after the commit
      * `_VERSION` and `marker` are written.
      */
    def commit(marker: => String)(stage: Snapshot.Txn => Unit): Snapshot.Manifest = {
      val snap = Snapshot.transact(base) { txn => stage(txn); txn }.snap
      stampVersion(base, kind)
      IndexFS.writeString(markerPath(base), marker)
      if (primePristine) snapshotPristine(base)
      snap
    }
  }

  /** PROBE gate: run `build` iff the layout is stale or its marker does
    * not start with `prefix` (equal it, when `exact`). `restoreIfAny`
    * names components a replay scenario leaves in this shared layout:
    * when the snapshot has one, it restores from the pristine cache.
    */
  def ensureFresh(base: String, kind: String, prefix: String,
                  exact: Boolean = false, restoreIfAny: Seq[String] = Nil)
                 (build: => Unit): Unit =
    if (!servable(markerPath(base), base, kind, prefix, exact)) build
    else if (restoreIfAny.nonEmpty &&
        restoreIfAny.exists(Snapshot.require(base).has))
      restorePristine(base, prefix)(build)

  /** SCENARIO-BASE gate for maintenance that is idempotent against any
    * earlier state of its layout: `build` runs once, and `MARKER_BASE`
    * records `expected` (the scenario's split of the corpus).
    */
  def ensureBase(base: String, kind: String, expected: String)
                (build: => Unit): Unit =
    if (!servable(baseMarkerPath(base), base, kind, expected, exact = true)) {
      build
      IndexFS.writeString(baseMarkerPath(base), expected)
    }

  /** SCENARIO-BASE gate for a replay that starts from the untouched
    * standing layout ([[restorePristine]]). Unless `force`, a layout
    * whose `MARKER` equals `expected` stays as it is. After a build
    * `MARKER` carries `expected` (or the build's own, if it starts so).
    */
  def restoreBase(base: String, kind: String, expected: String,
                  force: Boolean)(build: => Unit): Unit =
    if (force || !servable(markerPath(base), base, kind, expected, exact = true))
      restorePristine(base, expected) {
        build
        if (!markerFresh(markerPath(base), expected))
          IndexFS.writeString(markerPath(base), expected)
      }

  /** Ensure `base` holds the UNTOUCHED standing index: when
    * `<base>_pristine` carries a `MARKER` starting with `markerPrefix`
    * the layout restores by filesystem copy — byte-identical, so
    * segment ids, manifests and hashes replay exactly; otherwise
    * `build` runs and its result is cached. Under the writer lease; the
    * lease file is never copied, so the restored layout is writable.
    */
  private def restorePristine(base: String, markerPrefix: String)
                             (build: => Unit): Unit =
    IndexFS.withWriterLease(base) {
      val cache = s"${base}_pristine"
      if (markerFresh(markerPath(cache), markerPrefix)) {
        wipeLayout(base)
        IndexFS.copyLayout(cache, base)
      } else {
        build
        // the build itself may snapshot the cache (a build with
        // primePristine does) — skip the redundant second copy
        if (!markerFresh(markerPath(cache), markerPrefix))
          snapshotPristine(base)
      }
    }

  /** Snapshot `base` into its pristine cache (`<base>_pristine`). */
  private[graft] def snapshotPristine(base: String): Unit = {
    val cache = s"${base}_pristine"
    IndexFS.deleteRecursive(cache)
    IndexFS.copyLayout(base, cache)
  }

  /** DELETE by tombstone: merge `ids` (one id column) into the
    * `tombstones` component, distinct so a replay is a no-op. Probes
    * anti-join it at once; compaction folds it in later.
    */
  def tombstone(ids: DataFrame, base: String): Unit =
    Snapshot.transact(base) { txn =>
      val merged = (txn.snap.readOpt(ids.sparkSession, "tombstones") match {
          case Some(t) => t.unionByName(ids)
          case None    => ids
        }).distinct()
      txn.writeFull(merged, "tombstones")
    }

  /** `df` minus the rows whose `idCol` is tombstoned in `snap`. */
  def minusTombstones(snap: Snapshot.Manifest, df: DataFrame,
                      idCol: String): DataFrame =
    snap.readOpt(df.sparkSession, "tombstones")
      .fold(df)(t => df.join(broadcast(t), Seq(idCol), "left_anti"))

  /** COMPACT one component partitioned by `partCol`: stage into `txn`
    * the partitions of its base manifest holding a tombstoned `idCol`
    * (found by one id-joined scan, or `parts` from a sibling component)
    * minus those rows, as (`cols`, `partCol`). Returns the kept rows
    * (checkpointed when a caller derives more from them) and the
    * partition values; None when no partition holds a tombstoned id.
    */
  def rewriteMinusTombstones(txn: Snapshot.Txn,
                             comp: String, partCol: String, idCol: String,
                             cols: Seq[String], tomb: DataFrame,
                             parts: Option[Seq[Long]] = None,
                             checkpoint: Boolean = false)
      : Option[(DataFrame, Seq[Long])] = {
    val all = txn.snap.read(tomb.sparkSession, comp)
    val affected = parts.getOrElse(all.join(broadcast(tomb), Seq(idCol))
      .select(col(partCol).cast("long")).distinct()
      .collect().map(_.getLong(0)).toSeq.sorted)
    if (affected.isEmpty) None
    else {
      val kept0 = all.filter(col(partCol).isin(affected: _*))
        .join(broadcast(tomb), Seq(idCol), "left_anti")
        .select(cols.map(col) :+ col(partCol).cast("long").as(partCol): _*)
      val kept = if (checkpoint) kept0.maintCheckpoint() else kept0
      txn.writeParts(kept, comp, Seq(partCol), affected.map(p => Seq(p.toString)))
      Some((kept, affected))
    }
  }
}
