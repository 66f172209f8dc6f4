package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.Sketches

/** Streaming CMS counters must equal the batch matrix bit-for-bit —
  * sums are order-independent, so batch boundaries and scrambled
  * arrival cannot move a counter; point estimates follow for free. */
class CmsStreamSpec extends AnyFunSuite {
  private lazy val spark = graft.TestSpark.spark

  test("final streamed counters equal the batch cmsCounters") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rnd = new scala.util.Random(21)
    val occurrences = Seq.fill(5000)(s"tok${rnd.nextInt(300)}")
    val items = occurrences.toDF("token")
    val batch = Sketches.cmsCounters(
        items.groupBy("token").agg(count(lit(1)).as("cnt")), "token", "cnt")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val updates = Sketches.cmsHashed(items, "token")
      .collect().map(r => CmsStream.CounterUpdate(
        r.getLong(0), r.getLong(1), r.getLong(2)))
    val stream = MemoryStream[CmsStream.CounterUpdate]
    val query = CmsStream.counters(stream.toDS())
      .writeStream.outputMode("append").format("memory")
      .queryName("cms_stream")
      .option("checkpointLocation", Files.createTempDirectory("cms_ckpt").toString)
      .start()
    try {
      val shuffled = rnd.shuffle(updates.toVector)
      stream.addData(shuffled.take(4000)); query.processAllAvailable()
      stream.addData(shuffled.slice(4000, 15000)); query.processAllAvailable()
      stream.addData(shuffled.drop(15000)); query.processAllAvailable()
    } finally query.stop()
    val rows = spark.table("cms_stream")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val finalCounters = rows.groupBy(t => (t._1, t._2))
      .map { case (k, vs) => k -> vs.maxBy(_._4)._3 }
    assert(finalCounters == batch,
      s"${finalCounters.size} streamed vs ${batch.size} batch keys")
    // total mass check: counters per row sum to the occurrence count
    (0L until 4L).foreach { r =>
      assert(finalCounters.collect { case ((`r`, _), c) => c }.sum == 5000L)
    }
  }
}
