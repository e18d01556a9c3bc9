package graft

import org.apache.spark.metrics.source.{CodegenMetrics, HiveCatalogMetrics}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Measurement harness (optimization guide §1): run ONE registry query
  * repeatedly on a [[GraftSession]] (so the extension's planner rules
  * are in the plans) and print, for every run, a per-Spark-job
  * breakdown — submission
  * gap, duration, and the call site of the job's result stage — plus
  * each run's codegen compile count and compile time, its file-listing
  * jobs, and the files its scans discovered by listing against those
  * served from the file-status cache, so a slot's
  * seconds can be attributed to specific operator phases (restore copy
  * vs. replay cycles vs. probe vs. commit) instead of guessed at.
  *
  * Usage: runMain graft.ProfileQuery <sfDir> <query> [nRuns]
  * Never part of the driver contract; diagnostics only.
  */
object ProfileQuery {

  final case class JobRec(id: Int, start: Long, var end: Long = 0L,
                          var site: String = "", var nTasks: Int = 0,
                          var listing: Boolean = false)

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val name = args(1)
    val nRuns = if (args.length > 2) args(2).toInt else 2
    val spark = GraftSession.harness("profile").getOrCreate()

    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[JobRec]()
    val byId = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val rec = JobRec(js.jobId, js.time)
        rec.site = js.stageInfos.lastOption.map(_.name).getOrElse("?")
        rec.nTasks = js.stageInfos.map(_.numTasks).sum
        // Spark labels its distributed directory listings with this
        // job description (HadoopFSUtils)
        rec.listing = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .exists(_.startsWith("Listing leaf files"))
        jobs.add(rec); byId.put(js.jobId, rec)
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        Option(byId.get(je.jobId)).foreach(_.end = je.time)
      }
    })

    val q = SparkEntry.queries(name)
    (0 until nRuns).foreach { r =>
      jobs.clear(); byId.clear()
      val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val compileNs0 = CodeGenerator.compileTime
      val discovered0 = HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount
      val cacheHits0 = HiveCatalogMetrics.METRIC_FILE_CACHE_HITS.getCount
      val t0 = System.nanoTime()
      q(spark, sfDir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
      val compileMs = (CodeGenerator.compileTime - compileNs0) / 1e6
      val discovered =
        HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount - discovered0
      val cacheHits =
        HiveCatalogMetrics.METRIC_FILE_CACHE_HITS.getCount - cacheHits0
      // drain the listener bus so every end event lands
      org.apache.spark.graftbridge.ListenerBridge
        .waitUntilListenerBusEmpty(spark.sparkContext)
      import scala.jdk.CollectionConverters._
      val recs = jobs.iterator().asScala.toSeq.sortBy(_.start)
      val sumJob = recs.map(j => math.max(0L, j.end - j.start)).sum / 1e3
      System.err.println(
        f"%n=== run $r: $name wall=$wall%.2f s, ${recs.size} jobs, " +
          f"sum(job)=$sumJob%.2f s (gaps=${wall - sumJob}%.2f s driver/FS) ===")
      System.err.println(f"    codegen: $compiles compiles, $compileMs%.0f ms compiling")
      System.err.println(s"    listing: ${recs.count(_.listing)} listing jobs, " +
        s"$discovered files discovered, $cacheHits file-cache hits")
      var prevEnd = recs.headOption.map(_.start).getOrElse(0L)
      recs.foreach { j =>
        val gap = (j.start - prevEnd) / 1e3
        val dur = math.max(0L, j.end - j.start) / 1e3
        prevEnd = math.max(prevEnd, j.end)
        val mark = if (dur >= 0.2 || gap >= 0.2) " *" else ""
        System.err.println(
          f"  job ${j.id}%4d  gap=$gap%6.2f  dur=$dur%6.2f  " +
            f"tasks=${j.nTasks}%4d  ${j.site.take(90)}$mark")
      }
    }
    spark.stop()
  }
}
