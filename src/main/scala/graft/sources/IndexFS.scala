package graft.sources

import java.nio.charset.StandardCharsets

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Stored-index CONTROL PLANE, routed through the Hadoop FileSystem
  * API so markers, tombstone sidecars, delta-segment discovery, and
  * writer leases work on ANY Hadoop-compatible store (HDFS, S3A,
  * GCS, or local `file:`) — not just a local disk. The data plane
  * (parquet reads/writes) was always FS-agnostic; this makes the
  * metadata operations match, so a stored index built at
  * `hdfs://nn/idx` and one built at `/tmp/idx` go through the same
  * code. Paths resolve against the active session's Hadoop
  * configuration, which carries the cluster's filesystem bindings
  * and credentials.
  *
  * This object holds filesystem primitives and the writer lease only.
  * What the control files MEAN — the `MARKER`/`MARKER_BASE` freshness
  * contract, the `_VERSION` stamp, wipe-on-stale and the pristine
  * cache — is decided in one place, [[StoredLayout]].
  *
  * Semantics notes for object stores: `rename` is atomic on HDFS and
  * a copy on S3A — the compaction protocol ([[graft.ops.Text.lmCompact]])
  * therefore orders operations so that a non-atomic rename can only
  * produce a transiently-stale read, never a double-fold; the
  * exclusive-create used by [[acquireLease]] maps to
  * `FileSystem.create(path, overwrite = false)`, which HDFS enforces
  * atomically and S3A enforces conditionally (fs.s3a.create.conditional).
  */
object IndexFS {

  private def conf(): Configuration =
    // getActiveSession is thread-local: control-plane calls from a
    // non-Spark thread (e.g. the lease heartbeat) must still see the
    // session's filesystem bindings/credentials (fs.s3a.* etc.), so
    // fall through to the process-wide default session first.
    SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
      .map(_.sessionState.newHadoopConf())
      .getOrElse(new Configuration())

  /** Resolve a path string to its (FileSystem, Path) pair. */
  private def resolve(path: String): (FileSystem, Path) = {
    val p = new Path(path)
    (p.getFileSystem(conf()), p)
  }

  def exists(path: String): Boolean = {
    val (fs, p) = resolve(path); fs.exists(p)
  }

  def isDirectory(path: String): Boolean = {
    val (fs, p) = resolve(path)
    fs.exists(p) && fs.getFileStatus(p).isDirectory
  }

  def mkdirs(path: String): Unit = {
    val (fs, p) = resolve(path); fs.mkdirs(p); ()
  }

  /** Control-plane FS-call accounting (test hook): every directory
    * listing and small-file read through this object bumps the
    * counter, so the manifest-resolution budget specs can assert a
    * stored probe resolves its snapshot ONCE (one listing + one
    * manifest read per base), not once per component.
    */
  private[graft] val controlCalls =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** Names (not full paths) of the direct children of `dir`; empty if
    * the directory does not exist.
    */
  def listNames(dir: String): Seq[String] = {
    controlCalls.incrementAndGet()
    val (fs, p) = resolve(dir)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.map(_.getPath.getName)
  }

  /** True iff `dir` exists and holds at least one parquet part file. */
  def hasParquet(dir: String): Boolean =
    listNames(dir).exists(_.endsWith(".parquet"))

  /** The java.nio path of `path` when it lives on the LOCAL filesystem
    * (no scheme or `file:`), None otherwise — the fast-path guard for
    * bulk small-file operations: Hadoop's ChecksumFileSystem costs
    * tens of milliseconds per tiny file (sidecar bookkeeping), which
    * turns a 700-file layout copy into >10 s; plain NIO does the same
    * work in well under a second. Remote filesystems keep the Hadoop
    * path.
    */
  private def localPath(path: String): Option[java.nio.file.Path] = {
    val uri = new Path(path).toUri
    if (uri.getScheme == null || uri.getScheme == "file")
      Some(java.nio.file.Paths.get(uri.getPath))
    else None
  }

  def deleteRecursive(path: String): Unit = localPath(path) match {
    case Some(lp) =>
      if (java.nio.file.Files.exists(lp)) {
        import java.nio.file._
        import java.nio.file.attribute.BasicFileAttributes
        // single-FILE delete: Hadoop's fs.delete would also remove the
        // ChecksumFileSystem '.name.crc' sidecar next to it — mirror
        // that here, or a later raw-NIO recreation of the file would
        // fail its checksum against the orphaned stale sidecar (a
        // directory walk needs no such step: sidecars are inside)
        if (Files.isRegularFile(lp)) {
          val crc = lp.resolveSibling("." + lp.getFileName + ".crc")
          Files.deleteIfExists(crc)
        }
        Files.walkFileTree(lp, new SimpleFileVisitor[java.nio.file.Path] {
          override def visitFile(f: java.nio.file.Path,
                                 a: BasicFileAttributes): FileVisitResult = {
            Files.deleteIfExists(f); FileVisitResult.CONTINUE
          }
          override def postVisitDirectory(d: java.nio.file.Path,
                                          e: java.io.IOException): FileVisitResult = {
            Files.deleteIfExists(d); FileVisitResult.CONTINUE
          }
        })
        ()
      }
    case None =>
      val (fs, p) = resolve(path)
      if (fs.exists(p)) fs.delete(p, true)
      ()
  }

  /** Modification time of `path`, if it exists. */
  def mtimeOf(path: String): Option[Long] = {
    val (fs, p) = resolve(path)
    if (fs.exists(p)) Some(fs.getFileStatus(p).getModificationTime) else None
  }


  /** Rename `src` to `dst` (dst must not exist). Atomic on HDFS/local;
    * a server-side copy on S3A.
    */
  def rename(src: String, dst: String): Boolean = {
    val (fs, s) = resolve(src)
    fs.rename(s, new Path(dst))
  }

  /** Set the modification time of `path` (test/fault-injection use:
    * aging leaves past the GC grace window).
    */
  def setMtime(path: String, mtime: Long): Unit = {
    val (fs, p) = resolve(path)
    fs.setTimes(p, mtime, -1)
  }

  /** Copy a stored layout's contents into `dst` (recursively, byte-
    * identical), skipping the writer lease and staging residue — the
    * PRISTINE-LAYOUT CACHE primitive ([[StoredLayout.restoreBase]]):
    * deterministic-replay probes (dedup_admit, sim_ivfpq_admit) start from a clean standing
    * index every run, and restoring a byte-identical copy is much
    * cheaper than re-running the build. The skip matters: a copied
    * lease file would make the restored layout look writer-held and
    * fail the next maintenance op's acquisition.
    */
  def copyLayout(src: String, dst: String): Unit =
    (localPath(src), localPath(dst)) match {
      case (Some(ls), Some(ld)) =>
        // NIO fast path (see [[localPath]]): copies the checksum
        // sidecars verbatim too, so ChecksumFileSystem reads of the
        // restored layout still validate
        import java.nio.file._
        import java.nio.file.attribute.BasicFileAttributes
        Files.createDirectories(ld)
        Files.walkFileTree(ls, new SimpleFileVisitor[java.nio.file.Path] {
          private def skip(p: java.nio.file.Path): Boolean = {
            val rel = ls.relativize(p)
            rel.getNameCount > 0 && {
              val head = rel.getName(0).toString
              // `contains`, not startsWith: unlike the Hadoop listing
              // (which hides them), NIO sees ChecksumFileSystem's
              // `._WRITER_LEASE.crc` sidecar — restoring a stale lease
              // checksum would fail the next writer's read-back and
              // brick the layout's lease acquisition
              head.contains("_WRITER_LEASE") || head == ".staging"
            }
          }
          override def preVisitDirectory(d: java.nio.file.Path,
                                         a: BasicFileAttributes): FileVisitResult =
            if (skip(d)) FileVisitResult.SKIP_SUBTREE
            else {
              Files.createDirectories(ld.resolve(ls.relativize(d)))
              FileVisitResult.CONTINUE
            }
          override def visitFile(f: java.nio.file.Path,
                                 a: BasicFileAttributes): FileVisitResult = {
            if (!skip(f)) {
              val dst = ld.resolve(ls.relativize(f))
              // parquet part files are IMMUTABLE under the layout
              // protocols (only ever created fresh via staging rename,
              // then unlinked — never rewritten in place), so restoring
              // them as HARDLINKS is byte-identical to a copy at zero
              // I/O: a layout restore touches thousands of small files,
              // and the data-plane bytes are all in the parquet. The
              // mutable control files (markers, manifests, _VERSION —
              // rewritten in place by RawLocalFileSystem.create — and
              // their .crc sidecars) stay real copies: a shared inode
              // there would let a writer corrupt the pristine cache.
              if (f.getFileName.toString.endsWith(".parquet")) {
                Files.deleteIfExists(dst)
                try { Files.createLink(dst, f); () }
                catch { case _: java.io.IOException | _: UnsupportedOperationException =>
                  Files.copy(f, dst, StandardCopyOption.REPLACE_EXISTING); ()
                }
              } else
                Files.copy(f, dst, StandardCopyOption.REPLACE_EXISTING)
            }
            FileVisitResult.CONTINUE
          }
        })
        ()
      case _ =>
        val (fs, s) = resolve(src)
        val conf0 = conf()
        mkdirs(dst)
        listNames(src)
          .filterNot(n => n.startsWith("_WRITER_LEASE") || n == ".staging")
          .foreach { n =>
            org.apache.hadoop.fs.FileUtil.copy(
              fs, new Path(s, n), fs, new Path(dst), false, conf0)
          }
    }

  // object stores whose FileSystem.rename is a server-side copy (or a
  // non-atomic directory move, wasb/wasbs), not an atomic metadata
  // move — the snapshot publish's rename-refuses-to-overwrite guard is
  // unreliable there
  private val copyRenameSchemes =
    Set("s3", "s3a", "s3n", "gs", "oss", "cos", "swift", "wasb", "wasbs")

  /** True iff `path`'s filesystem implements rename as an atomic
    * metadata operation (HDFS, local, viewfs, abfs) rather than a
    * copy (S3-family object stores, wasb). The [[Snapshot]] publish
    * protocol checks this and fails fast / warns on copy-rename
    * stores. This is an ADVISORY check: `FileSystem.getScheme` throws
    * UnsupportedOperationException on base-class implementations, and
    * the guard must never itself become a commit crash path — an
    * undeterminable scheme reads as atomic (no new failure mode; the
    * commit proceeds exactly as it did before the guard existed).
    */
  def renameIsAtomic(path: String): Boolean = {
    val scheme =
      try {
        val (fs, _) = resolve(path)
        Option(fs.getScheme).getOrElse("").toLowerCase
      } catch { case _: Exception => "" }
    !copyRenameSchemes.contains(scheme)
  }

  /** Overwrite `path` with `content` (UTF-8). Small control files
    * only (markers, leases) — data goes through parquet.
    */
  def writeString(path: String, content: String): Unit = {
    val (fs, p) = resolve(path)
    val out = fs.create(p, true)
    try out.write(content.getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Read `path` fully as UTF-8; None if absent OR failing its
    * filesystem checksum (a marker modified out-of-band behind a
    * checksummed FS reads as corrupt — for freshness checks that is
    * exactly "stale": the caller rebuilds and rewrites it cleanly).
    */
  def readStringOpt(path: String): Option[String] = {
    controlCalls.incrementAndGet()
    val (fs, p) = resolve(path)
    if (!fs.exists(p)) None
    else
      try {
        val in = fs.open(p)
        try {
          val bytes = new java.io.ByteArrayOutputStream()
          val buf = new Array[Byte](8192)
          var n = in.read(buf)
          while (n >= 0) { bytes.write(buf, 0, n); n = in.read(buf) }
          Some(new String(bytes.toByteArray, StandardCharsets.UTF_8))
        } finally in.close()
      } catch { case _: org.apache.hadoop.fs.ChecksumException => None }
  }

  // ------------------------------------------------------------------
  // Single-writer lease. Stored-index maintenance (append / delete /
  // compact) assumes ONE writer per layout; concurrent writers would
  // interleave segment writes and corrupt the LSM generations. The
  // lease makes the contract enforced instead of assumed: acquisition
  // is an exclusive create (fails if the lock file exists), so a
  // second writer fails loudly up front rather than corrupting the
  // layout, and a crashed writer's lease is reclaimable by age.
  // ------------------------------------------------------------------

  private def leasePath(base: String): String = s"$base/_WRITER_LEASE"

  // leases this thread already holds — maintenance ops nest (an
  // append may trigger a lazy rebuild of the same layout), and a
  // writer re-entering its own lease is not contention
  private val held = new ThreadLocal[Set[String]] {
    override def initialValue(): Set[String] = Set.empty
  }

  /** True iff this thread currently holds the writer lease on `base`
    * — the precondition for layout wipes.
    */
  def holdsLease(base: String): Boolean = held.get().contains(base)

  private def localHost: String =
    try java.net.InetAddress.getLocalHost.getHostName
    catch { case _: java.net.UnknownHostException => "unknown" }

  /** True iff the lease at `p` was written by a process on THIS host
    * that is no longer alive — a SIGKILLed writer's leftover, safe to
    * break immediately (its finally never ran). Cross-host leases
    * can't be liveness-checked and fall back to the age policy.
    */
  private def holderDead(fs: FileSystem, p: Path): Boolean =
    try {
      val in = fs.open(p)
      val txt = try {
        val buf = new Array[Byte](256)
        val n = in.read(buf)
        new String(buf, 0, math.max(0, n), StandardCharsets.UTF_8)
      } finally in.close()
      val kv = txt.split("\\s+").flatMap(_.split("=") match {
        case Array(k, v) => Some(k -> v); case _ => None
      }).toMap
      kv.get("host").contains(localHost) &&
        kv.get("pid").exists(pid =>
          !ProcessHandle.of(pid.toLong).map[Boolean](_.isAlive).orElse(false))
    } catch { case _: Exception => false }

  /** Default heartbeat cadence for held leases — a live writer's lease
    * mtime is refreshed this often, so age-based reclaim (`staleMs`)
    * only ever fires against a writer that stopped heartbeating
    * (crashed or partitioned), never against a slow-but-alive one.
    */
  val defaultHeartbeatMs: Long = 60000L

  /** Acquire the writer lease for a stored layout, run `body`,
    * release. Throws [[IllegalStateException]] if another writer
    * holds a live lease. Re-entrant within a thread. A crashed
    * writer's lease is reclaimed immediately when its recorded
    * (host, pid) is provably dead on this host, or by age otherwise
    * (`staleMs`, default 1 h). While held, a daemon heartbeat
    * refreshes the lease mtime every `heartbeatMs`, so a >staleMs
    * maintenance job keeps its lease as long as it is alive; only a
    * writer whose heartbeats STOPPED is reclaimable by age. Breaking
    * a stale lease is race-free: the breaker first RENAMES the stale
    * lease to a unique tombstone (rename is atomic — exactly one
    * contender wins) and only the winner proceeds to re-create it,
    * then read-back-verifies its own token.
    */
  def withWriterLease[T](base: String, staleMs: Long = 3600000L,
                         heartbeatMs: Long = defaultHeartbeatMs)(body: => T): T = {
    if (held.get().contains(base)) return body
    val (fs, p) = resolve(leasePath(base))
    fs.mkdirs(p.getParent)
    val token = java.util.UUID.randomUUID().toString
    val content =
      s"pid=${ProcessHandle.current().pid()} host=$localHost token=$token"
    def ownsLease(): Boolean =
      try {
        val in = fs.open(p)
        try {
          val buf = new Array[Byte](256)
          val n = in.read(buf)
          new String(buf, 0, math.max(0, n), StandardCharsets.UTF_8)
            .contains(s"token=$token")
        } finally in.close()
      } catch { case _: Exception => false }
    def tryAcquire(): Boolean =
      try {
        // overwrite=false: atomic exclusive create on HDFS/local
        val out = fs.create(p, false)
        try out.write(content.getBytes(StandardCharsets.UTF_8))
        finally out.close()
        // read-back: a concurrent stale-breaker could have deleted and
        // replaced our fresh lease — only believe it if it carries our
        // token.
        ownsLease()
      } catch { case _: java.io.IOException => false }
    if (!tryAcquire()) {
      val age = try System.currentTimeMillis() - fs.getFileStatus(p).getModificationTime
                catch { case _: java.io.FileNotFoundException => Long.MaxValue }
      if (age > staleMs || holderDead(fs, p)) {
        // rename-to-tombstone: atomic, so of N contenders that all saw
        // the same stale lease exactly one wins the break; the losers'
        // renames fail and they contend normally on tryAcquire below.
        val tomb = new Path(s"${leasePath(base)}.broken.$token")
        val won = try fs.rename(p, tomb) catch { case _: java.io.IOException => false }
        if (won) { try fs.delete(tomb, false) catch { case _: java.io.IOException => () } }
        if (!tryAcquire())
          throw new IllegalStateException(
            s"stored layout $base: writer lease contended after stale-break")
      } else throw new IllegalStateException(
        s"stored layout $base: another writer holds the lease " +
          s"(${leasePath(base)}, age ${age}ms); concurrent maintenance " +
          "is not supported — serialize writers or remove a crashed lease")
    }
    held.set(held.get() + base)
    // heartbeat: touch mtime while we hold the lease, but only while
    // the file still carries OUR token (never refresh a lease someone
    // legitimately broke and re-took).
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val beat = new Thread(() => {
      while (!stop.get()) {
        try {
          Thread.sleep(heartbeatMs)
          if (!stop.get() && ownsLease())
            fs.setTimes(p, System.currentTimeMillis(), -1)
        } catch {
          case _: InterruptedException => // release path; fall through
          case _: Exception => () // FS hiccup: skip this beat
        }
      }
    }, s"graft-lease-heartbeat-${p.getName}")
    beat.setDaemon(true)
    beat.start()
    try body
    finally {
      stop.set(true)
      beat.interrupt()
      held.set(held.get() - base)
      try { if (ownsLease()) fs.delete(p, false) }
      catch { case _: java.io.IOException => () }
    }
  }
}
