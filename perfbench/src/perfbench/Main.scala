package perfbench

import java.lang.management.ManagementFactory

import scala.collection.immutable.ListMap
import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** One benchmark run: one workload, one seed, one closed-loop client.
  *
  * {{{
  * Main --workload W --seed N --seconds S --trace 0|1 --dir RUN_DIR
  *      --record FILE [--spans FILE] [--cores C]
  * }}}
  *
  * Phases: the seeded inputs are written (untimed); set-up runs once,
  * cold, on a fresh session and an empty layout root (`setup_s`); then
  * ops run one at a time, in whole cycles of the workload's op mix,
  * until S seconds have passed.
  * Each op's output is checked after its timer stops; an op that throws
  * or fails its check counts as failed and stays out of the latencies.
  *
  * With `--trace 1` half the ops are traced (spans around each layer
  * call, Spark jobs attributed through the job group) and half are not,
  * so the same run yields the per-layer figures and the tracing overhead
  * (traced minus untraced median latency).
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        dir: String, record: String, spans: Option[String],
                        cores: Int)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("dir"), need("record"), m.get("spans"),
      m.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors()))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val wl = Workload(a.workload)
    val master = s"local[${a.cores}]"
    val inputs = s"${a.dir}/inputs"

    // seeded inputs: data that exists before the user starts the engine
    val genStart = System.nanoTime()
    withSession(GraftSession.builder(master).getOrCreate()) { s =>
      s.sparkContext.setLogLevel("ERROR")
      wl.generate(s, a.seed, inputs)
    }

    val genSeconds = (System.nanoTime() - genStart) / 1e9
    val tracer = new Tracer(a.trace)
    val setupStart = System.nanoTime()
    val (spark, ctx) = tracer.root("setup", -1L) {
      val s = tracer.call("GraftSession", "GraftSession.builder") {
        GraftSession.builder(master).getOrCreate()
      }
      s.sparkContext.setLogLevel("ERROR")
      tracer.attach(s.sparkContext)
      val root = s"${a.dir}/root"
      s.sparkContext.setCheckpointDir(s"$root/_checkpoints")
      val c = Ctx(s, tracer, a.seed, root, inputs)
      wl.setup(c)
      (s, c)
    }
    val setupSeconds = (System.nanoTime() - setupStart) / 1e9
    wl.prepareChecks(ctx)

    // the closed loop
    val latencies = mutable.ArrayBuffer.empty[Double]
    val cpuSeconds = mutable.ArrayBuffer.empty[Double]
    val jit = mutable.ArrayBuffer.empty[Double]
    val traced = mutable.ArrayBuffer.empty[Double]
    val untraced = mutable.ArrayBuffer.empty[Double]
    val tracedOps = mutable.Set.empty[Long]
    val failures = mutable.ArrayBuffer.empty[String]
    var items = 0L
    var attempted = 0
    val loopStart = System.nanoTime()
    // whole cycles of the op mix, so every run weighs the kinds alike;
    // a traced run takes two cycles and traces alternate ops, shifted by
    // one in the second cycle, so traced and untraced ops each cover
    // every position of the cycle once
    val unit = if (a.trace) 2 * wl.cycle else wl.cycle
    while ((System.nanoTime() - loopStart) / 1e9 < a.seconds || attempted % unit != 0) {
      val i = attempted
      attempted += 1
      val on = a.trace && (i % wl.cycle + i / wl.cycle) % 2 == 1
      val t0 = System.nanoTime()
      val c0 = processCpuNs()
      val j0 = jitMs()
      val outcome = try Right(
          if (on) tracer.root("op", i.toLong)(wl.op(ctx, i))
          else wl.op(ctx.copy(tracer = Tracer.off), i))
        catch { case e: Exception => Left(s"op $i threw: $e") }
      val lat = (System.nanoTime() - t0) / 1e9
      val cpu = (processCpuNs() - c0) / 1e9
      jit += (jitMs() - j0) / 1e3
      val problems = outcome match {
        case Left(msg) => Seq(msg)
        case Right(res) =>
          try res.check() catch { case e: Exception => Seq(s"check of op $i threw: $e") }
      }
      if (problems.nonEmpty) {
        failures ++= problems.map(p => s"op $i: $p")
        System.err.println(s"[perfbench] op $i FAILED: ${problems.mkString("; ")}")
      } else {
        latencies += lat
        cpuSeconds += cpu
        items += outcome.toOption.get.items
        if (on) { traced += lat; tracedOps += i.toLong } else untraced += lat
      }
    }
    val loopSeconds = (System.nanoTime() - loopStart) / 1e9

    val extras = wl.finish(ctx)
    val sizes = wl.inputSizes(ctx)
    val conf = ListMap(spark.conf.getAll.toSeq.sortBy(_._1)
      .filter { case (k, _) => k.startsWith("spark.sql.") || k.startsWith("graft.") ||
        k == "spark.master" || k == "spark.ui.enabled" }: _*)
    val views = tracer.settle()
    tracer.detach()
    spark.stop()
    deleteTree(ctx.root)
    val heapMb = retainedHeapMb()

    val (tailP, tailV, tailBeyond) =
      if (latencies.isEmpty) (0.0, 0.0, 0) else Stats.tail(latencies.toSeq)
    val opSeconds = latencies.sum
    val endToEnd = ListMap(
      "setup_s" -> (setupSeconds, "s"),
      "op_p50_s" -> (if (latencies.isEmpty) 0.0 else Stats.median(latencies.toSeq), "s"),
      "heap_retained_mb" -> (heapMb, "MB"))
    val layer = if (a.trace) Layers.perLayer(views, tracedOps.toSet, a.cores, sizes) else null
    val result = ListMap(
      "correct" -> failures.isEmpty,
      "attempted" -> attempted,
      "failed" -> (attempted - latencies.size),
      "metrics" -> (if (a.trace) layer.metrics else endToEnd).map { case (k, (v, u)) =>
        k -> ListMap("value" -> v, "unit" -> u)
      })

    val rateName = wl.itemUnit match {
      case "rows"   => "rows_per_s"
      case "probes" => "probes_per_s"
      case _        => "docs_per_s"
    }
    val named = ListMap(
      rateName -> (if (opSeconds > 0) items / opSeconds else 0.0),
      "error_rate" -> (if (attempted == 0) 1.0 else (attempted - latencies.size).toDouble / attempted)
    ) ++ extras
    val record = ListMap(
      "workload" -> a.workload,
      "result" -> result,
      "end_to_end" -> endToEnd.map { case (k, (v, u)) => k -> ListMap("value" -> v, "unit" -> u) },
      "named" -> named,
      "op_tail_s" -> ListMap("value" -> tailV, "percentile" -> tailP,
        "ops_beyond" -> tailBeyond, "ops" -> latencies.size),
      "inputs_s" -> genSeconds,
      "latencies_s" -> latencies,
      "op_cpu_s" -> cpuSeconds,
      "op_jit_s" -> jit,
      "loop_s" -> loopSeconds,
      "item_unit" -> wl.itemUnit,
      "failures" -> failures.take(50),
      "provenance" -> ListMap(
        "seed" -> a.seed, "nproc" -> a.cores, "master" -> master,
        "driver_heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
        "seconds" -> a.seconds, "trace" -> a.trace,
        "spark_version" -> org.apache.spark.SPARK_VERSION,
        "java_version" -> System.getProperty("java.version"),
        "session_conf" -> conf,
        "input_sizes" -> sizes.map { case (k, (r, b)) => k -> ListMap("rows" -> r, "bytes" -> b) }),
      "trace" -> (if (a.trace) layer.record(traced.toSeq, untraced.toSeq) else null))
    writeFile(a.record, Json.render(record) + "\n")
    if (a.trace) a.spans.foreach(p => writeFile(p, Layers.spansJsonl(views)))

    // human-readable summary on stdout
    println(s"[perfbench] ${a.workload} seed=${a.seed} nproc=${a.cores} " +
      s"attempted=$attempted failed=${attempted - latencies.size} loop=${"%.1f".format(loopSeconds)}s")
    endToEnd.foreach { case (k, (v, u)) => println(f"[perfbench]   $k%-18s $v%.6f $u") }
    println(f"[perfbench]   op_tail_s          $tailV%.6f s = p$tailP%.1f over " +
      s"${latencies.size} ops ($tailBeyond beyond)")
    named.foreach { case (k, v) => println(f"[perfbench]   $k%-18s $v%.6f") }
    if (a.trace) layer.table(traced.toSeq, untraced.toSeq).foreach(l => println(s"[perfbench] $l"))
  }

  /** CPU time of every thread of this process (executors run here). */
  private def processCpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Time the JIT compilers have spent so far (summed over their threads). */
  private def jitMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  private def withSession[T](s: SparkSession)(body: SparkSession => T): T =
    try body(s) finally s.stop()

  /** Heap still in use after full collections. */
  private def retainedHeapMb(): Double = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(100) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  def deleteTree(path: String): Unit = {
    val f = new java.io.File(path)
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(c => deleteTree(c.getPath)))
    f.delete()
  }

  private def writeFile(path: String, s: String): Unit = {
    val f = new java.io.File(path)
    Option(f.getParentFile).foreach(_.mkdirs())
    val w = new java.io.PrintWriter(f, "UTF-8")
    try w.write(s) finally w.close()
  }
}
