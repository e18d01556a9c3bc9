package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.graftbridge.ListenerBridge
import org.apache.spark.metrics.source.HiveCatalogMetrics.{METRIC_FILE_CACHE_HITS => Hits,
  METRIC_FILES_DISCOVERED => Discovered}
import org.apache.spark.scheduler._

/** The one run-metrics listener (O15: the reference's per-run progress
  * and tally, OBP.js:464-473): what the Spark jobs of one block of
  * driver code did. `ProfileQuery`, `WeakScale` and the specs measure
  * through [[measure]].
  */
object RunMetrics {

  /** One job of a run. `endMs` is empty when no end was delivered
    * before the run ended; `tasks` counts the tasks that ended, so a
    * skipped stage adds none.
    */
  final case class Job(id: Int, startMs: Long, endMs: Option[Long],
                       stageNames: Seq[String], description: Option[String],
                       tags: Set[String], tasks: Int) {
    /** Spark's distributed directory listings (HadoopFSUtils). */
    def listing: Boolean = description.exists(_.startsWith("Listing leaf files"))
  }

  /** One run over the epoch-ms window [`startMs`, `endMs`]: its jobs in
    * start order, task totals, and the `HiveCatalogMetrics` listing deltas.
    */
  final case class Run(wallS: Double, startMs: Long, endMs: Long,
                       jobs: Seq[Job], stages: Long, tasks: Long,
                       recordsRead: Long, bytesRead: Long, bytesWritten: Long,
                       filesDiscovered: Long, cacheHits: Long) {
    def listingJobs: Int = jobs.count(_.listing)

    /** wall − |∪ job intervals clipped to the run| (a job with no end
      * runs to the run's end): overlapping jobs — AQE broadcasts, `Par`
      * siblings — count once.
      */
    def driverGapS: Double = {
      val (covered, _) = jobs.map(j => (math.max(j.startMs, startMs),
          math.min(j.endMs.getOrElse(endMs), endMs))).sortBy(_._1)
        .foldLeft((0L, Long.MinValue)) { case ((sum, reach), (a, b)) =>
          (sum + math.max(0L, b - math.max(a, reach)), math.max(reach, b))
        }
      math.max(0.0, wallS - covered / 1e3)
    }
  }

  private final class Acc(start: SparkListenerJobStart) {
    @volatile var end: Option[Long] = None
    val tasks = new AtomicInteger(0)
    private def prop(k: String) = Option(start.properties).flatMap(p => Option(p.getProperty(k)))
    def job: Job = Job(start.jobId, start.time, end,
      start.stageInfos.sortBy(_.stageId).map(_.name), prop("spark.job.description"),
      prop("spark.job.tags").toSeq.flatMap(_.split(",")).filter(_.nonEmpty).toSet,
      tasks.get)
  }

  private final class Listener extends SparkListener {
    val jobs, byStage = new ConcurrentHashMap[Int, Acc]()
    val stages, tasks, records, read, written = new AtomicLong(0L)
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val a = new Acc(e)
      jobs.put(e.jobId, a)
      e.stageIds.foreach(byStage.put(_, a))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = Some(e.time))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = { stages.incrementAndGet(); () }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      Option(byStage.get(e.stageId)).foreach(_.tasks.incrementAndGet())
      Option(e.taskMetrics).foreach { m =>
        records.addAndGet(m.inputMetrics.recordsRead)
        read.addAndGet(m.inputMetrics.bytesRead)
        written.addAndGet(m.outputMetrics.bytesWritten)
      }
    }
  }

  /** Run `body` with one listener attached between two drains of the
    * listener bus, so it counts every event of the body's jobs and none
    * of an earlier run's; the listener is removed on every exit, and a
    * throwing body rethrows.
    */
  def measure[T](sc: SparkContext)(body: => T): (T, Run) = {
    ListenerBridge.waitUntilListenerBusEmpty(sc)
    val l = new Listener
    sc.addSparkListener(l)
    try {
      val (d0, h0) = (Discovered.getCount, Hits.getCount)
      val (startMs, t0) = (System.currentTimeMillis(), System.nanoTime())
      val out = body
      val (wallS, endMs) = ((System.nanoTime() - t0) / 1e9, System.currentTimeMillis())
      ListenerBridge.waitUntilListenerBusEmpty(sc)
      (out, Run(wallS, startMs, endMs,
        l.jobs.values.asScala.toSeq.map(_.job).sortBy(j => (j.startMs, j.id)),
        l.stages.get, l.tasks.get, l.records.get, l.read.get, l.written.get,
        Discovered.getCount - d0, Hits.getCount - h0))
    } finally sc.removeSparkListener(l)
  }
}
