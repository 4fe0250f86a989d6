package org.apache.spark.sql.graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.LogicalRDD

/** A local checkpoint that keeps its input's hash partitioning.
  *
  * `Dataset.localCheckpoint` cuts the lineage but reports an unknown
  * partitioning, so every later join or aggregate on the key shuffles the
  * checkpointed rows again. This module lives in Spark's package only to
  * build the checkpointed leaf with the partitioning its rows really have
  * (the plan's constructors are package-private). */
object HashPartitionedCheckpoint {

  /** `df`, whose plan ends in a hash partitioning of `key` into `n`
    * partitions, checkpointed to executor memory as a leaf frame that
    * reports that partitioning: at once when `eager`, else by the first
    * job that reads it. A checkpoint with another partition count (an
    * empty input the planner cut short) comes back as it is, its
    * partitioning unknown. */
  def apply(df: DataFrame, key: String, n: Int, eager: Boolean): DataFrame = {
    val cut = df.localCheckpoint(eager)
    cut.queryExecution.logical match {
      case leaf: LogicalRDD if leaf.rdd.getNumPartitions == n =>
        val session = df.sparkSession.asInstanceOf[classic.SparkSession]
        val keyAttr = leaf.output.find(_.name == key).getOrElse(
          throw new IllegalArgumentException(s"no column $key in ${leaf.output}"))
        classic.Dataset.ofRows(session,
          LogicalRDD(leaf.output, leaf.rdd, HashPartitioning(Seq(keyAttr), n))(session))
      case _ => cut
    }
  }
}
