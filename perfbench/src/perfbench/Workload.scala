package perfbench

import org.apache.spark.sql.SparkSession

/** What one run hands a workload: the session, the tracer, the seed, the
  * run's private root for stored layouts, and where the seeded inputs
  * were written.
  */
final case class Ctx(spark: SparkSession, tracer: Tracer, seed: Long,
                     root: String, inputs: String) {

  /** Span a call into one of the library's layers. */
  def call[T](layer: String, name: String)(body: => T): T =
    tracer.call(layer, name)(body)

  /** Run independent set-up steps (e.g. index builds over different
    * layouts) on their own threads, as a user would submit independent
    * Spark jobs; their spans stay children of the caller's span.
    */
  def concurrently(steps: (() => Unit)*): Unit = {
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = steps.map { step =>
      val run = tracer.inherit(step())
      new Thread(() => {
        SparkSession.setActiveSession(spark)
        try run() catch { case e: Throwable => errors.add(e) }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    Option(errors.peek()).foreach(e => throw e)
  }
}

/** One op's result: the work it completed (rows, probes or docs) and the
  * output check to run once the op's timer has stopped. A check returns
  * the list of violations; an empty list is a pass.
  */
final case class OpResult(items: Long, check: () => Seq[String],
                          extra: Map[String, Double] = Map.empty)

trait Workload {
  def name: String

  /** What one item of the workload's rate (`rows_per_s` etc.) is. */
  def itemUnit: String

  /** Ops per cycle of the op mix: the loop runs whole cycles. */
  def cycle: Int

  /** Write the seeded inputs (untimed: they stand in for data that
    * already exists before a user starts the engine).
    */
  def generate(spark: SparkSession, seed: Long, dir: String): Unit

  /** Cold set-up on a fresh session and an empty root: read the inputs,
    * materialise tables, build layouts, run the warm-up ops.
    */
  def setup(ctx: Ctx): Unit

  /** Untimed, after the last set-up: reference figures for the checks. */
  def prepareChecks(ctx: Ctx): Unit = ()

  /** Op `i` of the closed loop; its parameters come from (seed, i). */
  def op(ctx: Ctx, i: Int): OpResult

  /** Input sizes for the record: name → (rows, bytes). */
  def inputSizes(ctx: Ctx): Map[String, (Long, Long)]

  /** Figures the workload reports once at the end (e.g. recall). */
  def finish(ctx: Ctx): Map[String, Double] = Map.empty
}

object Workload {
  val all: Seq[String] = Seq("bulk_update", "index_serve", "index_ingest",
    "corpus_curate")

  def apply(name: String): Workload = name match {
    case "bulk_update"   => new BulkUpdateWorkload
    case "index_serve"   => new IndexServeWorkload
    case "index_ingest"  => new IndexIngestWorkload
    case "corpus_curate" => new CorpusCurateWorkload
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (known: ${all.mkString(", ")})")
  }

  /** Op `i`'s kind under a fixed cycle (negative `i` are warm-up ops):
    * every run sees the same mix in the same order, and only the
    * parameters vary with the seed, so the median does not drift with
    * how many ops of each kind a run happens to draw.
    */
  def cycle[T](kinds: Seq[T], i: Int): T = kinds(Math.floorMod(i, kinds.size))

  /** Warm-up op indices for set-up: negative, so they never repeat a
    * loop op's parameters, and one per distinct kind of the cycle, so no
    * kind runs its first, cold op inside the timed loop.
    */
  def warmUps[T](kinds: Seq[T]): Seq[Int] =
    kinds.distinct.map(k => -(1 to kinds.size).find(j => cycle(kinds, -j) == k).get)

  /** Parquet files under stored layouts, and the share of their bytes in
    * generation leaves the current manifests still reference (the rest
    * awaits GC): `snapshot.leaf_files` and `snapshot.live_ratio`.
    */
  def layoutStats(spark: SparkSession, bases: Seq[String]): Map[String, Double] = {
    def parquet(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(parquet)
      else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
    val files = bases.flatMap(b => parquet(new java.io.File(b)))
    val disk = files.map(_.length).sum
    val live = bases.flatMap(b => graft.sources.Snapshot.current(b).toSeq.flatMap { m =>
      m.comps.keys.toSeq.flatMap(c => m.readOpt(spark, c).toSeq.flatMap(_.inputFiles))
    }).distinct.map(f => new java.io.File(new java.net.URI(f)).length).sum
    Map("snapshot.leaf_files" -> files.size.toDouble,
      "snapshot.live_ratio" -> (if (disk == 0) 0.0 else live.toDouble / disk))
  }

  /** Bytes under a local directory (the stored size of a table or
    * layout).
    */
  def bytesUnder(path: String): Long = {
    val f = new java.io.File(path)
    if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(c => bytesUnder(c.getPath)).sum).getOrElse(0L)
  }
}
