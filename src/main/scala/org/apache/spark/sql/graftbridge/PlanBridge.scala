package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.classic.{Dataset => ClassicDataset, SparkSession => ClassicSparkSession}

import graft.plans.{TopKPerKeyPlan, TopKPerKeyStrategy}

/** DataFrame entry point for the custom [[graft.plans.TopKPerKeyPlan]]
  * operator. Lives in the `org.apache.spark.sql` package tree because
  * constructing a Dataset from a custom logical plan
  * (`Dataset.ofRows`) is `private[sql]` — the established extension
  * pattern, same as [[ColumnBridge]].
  */
object PlanBridge {

  /** Per-key DESCENDING lexicographic top-k over 1-2 LONG/DOUBLE
    * ordering columns (callers materialize the ordering values — with
    * a unique tiebreak folded into the last one — as columns first, so
    * every expression the node holds is an already-resolved
    * AttributeReference of the analyzed child). Registers the planner
    * strategy on first use unless the session's planner already has it
    * (injected up front by `graft.functions.GraftExtensions`).
    */
  def topKPerKey(df: DataFrame, keyCols: Seq[String], orderCols: Seq[String],
                 k: Int, registerStrategy: Boolean = true): DataFrame = {
    val spark = df.sparkSession.asInstanceOf[ClassicSparkSession]
    if (registerStrategy &&
        !spark.sessionState.planner.strategies.contains(TopKPerKeyStrategy)) {
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ TopKPerKeyStrategy
    }
    val child = df.queryExecution.analyzed
    def attr(name: String) = child.output.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(
        s"column $name not in ${child.output.map(_.name).mkString(", ")}"))
    val node = TopKPerKeyPlan(keyCols.map(attr), orderCols.map(attr), k, child)
    ClassicDataset.ofRows(spark, node)
  }

  /** For a just-materialized (eagerly local-checkpointed) DataFrame,
    * the storage footprint of its backing persisted RDD:
    * (bytes in memory+disk, partition count). None when the plan is
    * not a bare LogicalRDD leaf or the RDD is not in the block
    * manager's storage report (e.g. reliable checkpoints, which are
    * files, not persisted blocks). Lives here because LogicalRDD is
    * `sql.execution`-internal — same access pattern as [[topKPerKey]].
    */
  def materializedFootprint(df: DataFrame): Option[(Long, Int)] =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        df.sparkSession.sparkContext.getRDDStorageInfo
          .find(_.id == lr.rdd.id)
          .map(i => (math.max(i.memSize + i.diskSize, 1L), i.numPartitions))
      case _ => None
    }
}
