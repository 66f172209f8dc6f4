package org.apache.spark.sql.graft

import org.apache.spark.sql.{classic, DataFrame}
import org.apache.spark.sql.execution.LogicalRDD

/** Size-estimate bound for checkpointed loop frames. `localCheckpoint`
  * copies the source plan's `sizeInBytes` onto its `LogicalRDD` leaf,
  * and Catalyst multiplies child sizes at every join, so a loop that
  * joins its frame to itself doubles the estimate's bit length per round
  * (q207 hung multiplying such BigIntegers). The leaf's stats live in a
  * package-private second parameter list, hence this factory. */
object CheckpointStats {

  /** `ck` (a checkpointed frame) as is while its size estimate fits in a
    * Long; past that, the same leaf with Spark's default (unknown) size.
    * The rows, output partitioning, ordering and constraints are kept,
    * and every estimate below the cap (every join decision) is unchanged. */
  def clamp(ck: DataFrame): DataFrame = ck.queryExecution.logical match {
    case lr: LogicalRDD if lr.stats.sizeInBytes > Long.MaxValue =>
      val session = ck.sparkSession.asInstanceOf[classic.SparkSession]
      classic.Dataset.ofRows(session, lr.copy()(session, None, Some(lr.constraints)))
    case _ => ck
  }
}
