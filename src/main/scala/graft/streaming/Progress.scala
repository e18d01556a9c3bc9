package graft.streaming

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** O15 — live progress accounting (OBP.js:464-473 shows per-row "% done"
  * status lines). Distributed analog: a SparkListener counting finished
  * tasks/stages, suitable for a driver-side progress display; per-row
  * counts come from accumulators in the sink
  * (StreamingOps.rateLimitedForeach).
  */
object Progress {

  final class TaskProgressListener extends SparkListener {
    val tasksDone = new AtomicLong(0)
    val stagesDone = new AtomicLong(0)
    val recordsRead = new AtomicLong(0)

    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      tasksDone.incrementAndGet()
      if (t.taskMetrics != null) {
        recordsRead.addAndGet(t.taskMetrics.inputMetrics.recordsRead)
      }
    }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
      stagesDone.incrementAndGet()

    def snapshot: (Long, Long, Long) =
      (stagesDone.get(), tasksDone.get(), recordsRead.get())
  }

  /** Run `body` with a progress listener attached; returns the result
    * plus (stages, tasks, recordsRead) observed during the run.
    */
  def withTaskProgress[T](spark: SparkSession)(body: => T): (T, (Long, Long, Long)) = {
    val listener = new TaskProgressListener
    spark.sparkContext.addSparkListener(listener)
    try {
      val result = body
      // listener events post asynchronously: drain the bus first
      org.apache.spark.graftbridge.ListenerBridge
        .waitUntilListenerBusEmpty(spark.sparkContext)
      (result, listener.snapshot)
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
