package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.WholeStageCodegenExec

/** One shared local session for the whole (single-JVM, forked) test run —
  * same configs as Verify/Bench via [[Tables.session]]. */
object TestSpark {
  lazy val spark: SparkSession = Tables.session("local[2]", 4)

  /** Run `body` with the given session confs set, then put back each
    * key's previous value (or unset it when it had none). */
  def withConf[T](confs: (String, String)*)(body: => T): T = {
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** `df` as a non-local relation. The optimizer folds a projection over
    * a local one (`Seq(...).toDF`) into it and evaluates it with an
    * interpreted projection, so a fixture whose test must reach the
    * generated code goes through here. */
  def nonLocal(df: DataFrame): DataFrame = df.localCheckpoint()

  /** Whether `df`'s executed plan runs a whole-stage-codegen stage. */
  def usesCodegen(df: DataFrame): Boolean =
    df.queryExecution.executedPlan
      .find(_.isInstanceOf[WholeStageCodegenExec]).isDefined
}
