package graft

import org.apache.spark.sql.SparkSession

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

  /** Run `body` with streaming state in RocksDB, which the
    * `transformWithState` streams require; start the queries inside. */
  def withRocksDb[T](body: => T): T = withConf(
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")(body)
}
