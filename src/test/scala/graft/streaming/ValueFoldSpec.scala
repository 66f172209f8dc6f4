package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.IntervalJoin

/** [[ValueFold]]: a step that returns `None` leaves its key with no state,
  * and a fold's value survives a query restart from its checkpoint (the
  * restarted run emits exactly what an uninterrupted one does). */
class ValueFoldSpec extends AnyFunSuite {
  private lazy val spark = graft.TestSpark.spark
  import spark.implicits._
  implicit private lazy val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  test("a step returning None clears the key's state") {
    import IntervalJoin.PointEvent
    val stream = MemoryStream[PointEvent]
    val q = IntervalJoin.attributionStreaming(stream.toDS(), windowUs = 50L)
      .writeStream.outputMode("append").format("memory")
      .queryName("fold_clear")
      .option("checkpointLocation",
        Files.createTempDirectory("fold_clear_ckpt").toString)
      .start()
    def stateRows(): Long = q.lastProgress.stateOperators(0).numRowsTotal
    try {
      // two buffered events on key 1, one on key 2
      stream.addData(Seq(PointEvent(1L, 100L, 1L, probe = false),
        PointEvent(1L, 120L, 2L, probe = false),
        PointEvent(2L, 100L, 3L, probe = false)))
      q.processAllAvailable()
      assert(stateRows() == 2L)
      // a probe far past key 1's window prunes its buffer to empty
      stream.addData(Seq(PointEvent(1L, 1000L, 10L, probe = true)))
      q.processAllAvailable()
      assert(stateRows() == 1L)
      stream.addData(Seq(PointEvent(2L, 1000L, 11L, probe = true)))
      q.processAllAvailable()
      assert(stateRows() == 0L)
    } finally q.stop()
    val got = spark.table("fold_clear")
      .collect().map(r => r.getLong(1) -> r.getLong(3)).toMap
    assert(got == Map(10L -> 0L, 11L -> 0L))
  }

  /** `op`'s rows over `batches`, one micro-batch each, written to a
    * parquet sink (the memory sink refuses checkpoint recovery). With
    * `stopAfter = Some(k)` the query stops once micro-batch k commits and
    * a new query resumes from the same checkpoint and source. */
  private def feed[I: Encoder, O: Encoder](op: Dataset[I] => Dataset[O],
      batches: Seq[Seq[I]], stopAfter: Option[Int]): Seq[O] = {
    val ckpt = Files.createTempDirectory("fold_restart_ckpt").toString
    val outDir = Files.createTempDirectory("fold_restart_out").toString
    val stream = MemoryStream[I]
    def start() = op(stream.toDS())
      .writeStream.outputMode("append").format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", ckpt)
      .start()
    var q = start()
    try batches.zipWithIndex.foreach { case (b, i) =>
      stream.addData(b)
      q.processAllAvailable()
      if (stopAfter.contains(i)) { q.stop(); q = start() }
    } finally q.stop()
    spark.read.parquet(outDir).as[O].collect().toSeq
  }

  private def restartParity[I: Encoder, O: Encoder](
      op: Dataset[I] => Dataset[O], batches: Seq[Seq[I]]): Seq[O] = {
    val uninterrupted = feed(op, batches, None)
    val restarted = feed(op, batches, Some(1))
    assert(restarted.map(_.toString).sorted == uninterrupted.map(_.toString).sorted)
    uninterrupted
  }

  test("TransitionStream: a restart after micro-batch 1 emits the " +
      "uninterrupted run's transitions") {
    import TransitionStream.{TransEvent, Transition}
    val evs = Seq(
      TransEvent(1L, "view", 1000000L, 1L),
      TransEvent(2L, "signup", 2000000L, 2L),
      TransEvent(1L, "click", 3000000L, 3L),
      TransEvent(2L, "purchase", 4000000L, 4L),
      TransEvent(1L, "purchase", 5000000L, 5L),
      TransEvent(2L, "view", 6000000L, 6L))
    // each user's last event crosses the restart through state
    val out = restartParity(TransitionStream.transitions,
      Seq(evs.take(2), evs.slice(2, 4), evs.drop(4)))
    assert(out.sortBy(_.toString) == Seq(Transition("click", "purchase"),
      Transition("purchase", "view"), Transition("signup", "purchase"),
      Transition("view", "click")))
  }

  test("RateAnomalyStream: a restart after micro-batch 1 emits the " +
      "uninterrupted run's scored hours") {
    import RateAnomalyStream.RateEvent
    val hourUs = 3600000000L
    // hourly counts 2, 4, 6, 8, 3: hours 0-3 close, hour 3 is scored
    val evs = Seq(2, 4, 6, 8, 3).zipWithIndex.flatMap { case (n, h) =>
      (0 until n).map(i => RateEvent("a", h * hourUs + i * 1000000L))
    }
    // the open hour and the history cross the restart through state
    val out = restartParity(RateAnomalyStream.anomalies,
      Seq(evs.take(5), evs.slice(5, 14), evs.drop(14)))
    assert(out.map(_.window_start_us).sorted == (0 until 4).map(_ * hourUs))
    assert(out.find(_.window_start_us == 3 * hourUs).get.baseline_mean ==
      Some(4.0))
  }
}
