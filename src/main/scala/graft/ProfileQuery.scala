package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Measurement harness (optimization guide §1): run ONE registry query
  * repeatedly on a [[GraftSession]] (so the extension's planner rules
  * are in the plans) and print, for every run, a per-Spark-job
  * breakdown through [[RunMetrics.measure]] — submission gap,
  * duration, tasks that ended, and the job's description or else its
  * result stage's call site — plus each run's driver gap (wall time no
  * job covers), codegen compile count and compile time, its
  * file-listing jobs, and the files its scans discovered by listing
  * against those served from the file-status cache, so a slot's
  * seconds can be attributed to specific operator phases (restore copy
  * vs. replay cycles vs. probe vs. commit) instead of guessed at.
  *
  * Usage: runMain graft.ProfileQuery <sfDir> <query> [nRuns]
  * Never part of the driver contract; diagnostics only.
  */
object ProfileQuery {

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val name = args(1)
    val nRuns = if (args.length > 2) args(2).toInt else 2
    val spark = GraftSession.harness("profile").getOrCreate()

    val q = SparkEntry.queries(name)
    (0 until nRuns).foreach { r =>
      val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val compileNs0 = CodeGenerator.compileTime
      val (_, run) = RunMetrics.measure(spark.sparkContext)(q(spark, sfDir).count())
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
      val compileMs = (CodeGenerator.compileTime - compileNs0) / 1e6
      System.err.println(
        f"%n=== run $r: $name wall=${run.wallS}%.2f s, ${run.jobs.size} jobs, " +
          f"gap=${run.driverGapS}%.2f s driver/FS ===")
      System.err.println(f"    codegen: $compiles compiles, $compileMs%.0f ms compiling")
      System.err.println(s"    listing: ${run.listingJobs} listing jobs, " +
        s"${run.filesDiscovered} files discovered, ${run.cacheHits} file-cache hits")
      var prevEnd = run.jobs.headOption.map(_.startMs).getOrElse(0L)
      run.jobs.foreach { j =>
        val end = j.endMs.getOrElse(j.startMs)
        val gap = (j.startMs - prevEnd) / 1e3
        val dur = (end - j.startMs) / 1e3
        prevEnd = math.max(prevEnd, end)
        val mark = if (dur >= 0.2 || gap >= 0.2) " *" else ""
        val site = j.description.orElse(j.stageNames.lastOption).getOrElse("?")
        System.err.println(
          f"  job ${j.id}%4d  gap=$gap%6.2f  dur=$dur%6.2f  " +
            f"tasks=${j.tasks}%4d  ${site.take(90)}$mark")
      }
    }
    spark.stop()
  }
}
