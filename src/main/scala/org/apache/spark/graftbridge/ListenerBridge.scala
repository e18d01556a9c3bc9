package org.apache.spark.graftbridge

import org.apache.spark.{JobExecutionStatus, SparkContext}

/** Private-API bridge: drain the async listener bus, so a reader sees
  * settled events instead of racing in-flight ones
  * ([[graft.RunMetrics.measure]], [[graft.sources.Par.cancelAndDrain]]),
  * and ask the status store which jobs still run (`Par.cancelAndDrain`).
  */
object ListenerBridge {
  def waitUntilListenerBusEmpty(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** True iff a job carrying `tag` runs, as of the delivered events. */
  def runsTagged(sc: SparkContext, tag: String): Boolean =
    sc.statusStore.jobsList(java.util.Arrays.asList(JobExecutionStatus.RUNNING))
      .exists(_.jobTags.contains(tag))
}
