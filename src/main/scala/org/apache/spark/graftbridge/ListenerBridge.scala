package org.apache.spark.graftbridge

import org.apache.spark.{JobExecutionStatus, SparkContext}

/** Private-API bridge: drain the async listener bus so task-metric
  * accounting (the weak-scaling harness's bytes-read measurements)
  * snapshots a settled counter instead of racing in-flight events, and
  * ask the status store which jobs still run.
  */
object ListenerBridge {
  def waitUntilListenerBusEmpty(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** True iff a job carrying `tag` runs, as of the events the listener
    * bus has delivered.
    */
  def runsTagged(sc: SparkContext, tag: String): Boolean =
    sc.statusStore.jobsList(java.util.Arrays.asList(JobExecutionStatus.RUNNING))
      .exists(_.jobTags.contains(tag))
}
