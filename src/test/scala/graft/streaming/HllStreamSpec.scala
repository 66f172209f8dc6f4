package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.Sketches

/** Streaming HLL must be BIT-identical to the batch sketch over the
  * same items — registers are order-independent maxes, so batch
  * boundaries and arrival order cannot move a single register, and the
  * mirrored estimate arithmetic reproduces the exact rounded double. */
class HllStreamSpec extends AnyFunSuite {
  private lazy val spark = graft.TestSpark.spark

  test("final streamed estimates equal the batch hllDistinct bit-for-bit") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rnd = new scala.util.Random(9)
    val items = (0 until 3000).map { i =>
      (s"g${i % 3}", s"item${rnd.nextInt(1200)}")
    }.toDF("g", "item")
    val batch = Sketches.hllDistinct(items, "g", "item")
      .collect().map(r => r.getString(0) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    val hashed = Sketches.hllHashed(items, "g", "item")
      .collect().map(r => HllStream.HashedItem(
        r.getString(0), r.getLong(1), r.getLong(2)))
    val stream = MemoryStream[HllStream.HashedItem]
    val query = HllStream.estimates(stream.toDS())
      .writeStream.outputMode("append").format("memory")
      .queryName("hll_stream")
      .option("checkpointLocation", Files.createTempDirectory("hll_ckpt").toString)
      .start()
    try {
      // three uneven micro-batches in a scrambled order
      val shuffled = rnd.shuffle(hashed.toVector)
      stream.addData(shuffled.take(500)); query.processAllAvailable()
      stream.addData(shuffled.slice(500, 2100)); query.processAllAvailable()
      stream.addData(shuffled.drop(2100)); query.processAllAvailable()
    } finally query.stop()
    val rows = spark.table("hll_stream")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4), r.getLong(5)))
    // every group saw 3 generations; the final one must equal batch
    val byGroup = rows.groupBy(_._1)
    assert(byGroup.keySet == Set("g0", "g1", "g2"))
    byGroup.foreach { case (g, rs) =>
      assert(rs.map(_._6).max == 3L, s"$g generations: ${rs.map(_._6).toSeq}")
      val last = rs.maxBy(_._6)
      val (zeros, rMax, est) = batch(g)
      assert((last._3, last._4, last._5) == ((zeros, rMax, est)),
        s"$g: streamed ${(last._3, last._4, last._5)} vs batch ${(zeros, rMax, est)}")
      // estimates only refine monotonically in registers: earlier
      // generations may not exceed the final r_max
      assert(rs.forall(_._4 <= rMax))
    }
  }
}
