package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.Similarity

/** Streamed running Gram sums must be BIT-identical to the batch
  * accumulation over the same rows — integer sums cannot move with
  * batch boundaries or arrival order — and the streamed state must
  * yield the same covariance the batch operator reports. */
class GramStreamSpec extends AnyFunSuite {
  private lazy val spark = graft.TestSpark.spark

  test("final streamed Gram rows equal batch gramCovariance sums") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rnd = new scala.util.Random(31)
    val d = 6
    val data = (0L until 250L).map { i =>
      (i, Array.fill(d)(rnd.nextFloat() * 2f - 1f).toSeq)
    }
    val df = data.toDF("vec_id", "embedding")
    val batch = Similarity.gramCovariance(df, "vec_id", "embedding")
      .collect().map(r => (r.getLong(0).toInt, r.getLong(1).toInt) ->
        (r.getLong(3), r.getLong(4), r.getLong(5), r.getDouble(6))).toMap
    // same quantization as the operator, batch-side
    val vecs = data.map { case (_, e) =>
      GramStream.QuantVec("all", e.map(x => math.floor(x.toDouble * 1e6).toLong))
    }
    val stream = MemoryStream[GramStream.QuantVec]
    val query = GramStream.running(stream.toDS())
      .writeStream.outputMode("append").format("memory")
      .queryName("gram_stream")
      .option("checkpointLocation", Files.createTempDirectory("gr_ckpt").toString)
      .start()
    try {
      val shuffled = rnd.shuffle(vecs.toVector)
      stream.addData(shuffled.take(80)); query.processAllAvailable()
      stream.addData(shuffled.slice(80, 200)); query.processAllAvailable()
      stream.addData(shuffled.drop(200)); query.processAllAvailable()
    } finally query.stop()
    val rows = spark.table("gram_stream").collect()
      .map(r => (r.getInt(1), r.getInt(2)) ->
        (r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))
    val maxGen = rows.map(_._2._5).max
    assert(maxGen == 3L)
    val fin = rows.filter(_._2._5 == maxGen)
      .map { case (k, (sij, si, sj, n, _)) => k -> (si, sj, sij, n) }.toMap
    assert(fin.size == d * (d + 1) / 2)
    fin.foreach { case ((i, j), (si, sj, sij, n)) =>
      val (bsi, bsj, bsij, bcov) = batch((i, j))
      assert((si, sj, sij, n) == ((bsi, bsj, bsij, 250L)), s"($i,$j)")
      // and the streamed state reproduces the batch covariance exactly
      val cov = (((sij.toDouble / n) -
        (si.toDouble / n) * (sj.toDouble / n)) / 1.0e12)
      val rounded = BigDecimal(cov)
        .setScale(10, BigDecimal.RoundingMode.HALF_UP)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(rounded == bcov, s"cov ($i,$j)")
    }
    // the overflow guard fails the query instead of wrapping (its
    // message is asserted, not just any exception)
    val stream2 = MemoryStream[GramStream.QuantVec]
    val q2 = GramStream.running(stream2.toDS())
      .writeStream.outputMode("append").format("memory")
      .queryName("gram_stream_guard")
      .option("checkpointLocation", Files.createTempDirectory("gr2_ckpt").toString)
      .start()
    try {
      stream2.addData(Seq(GramStream.QuantVec("g", Seq(3000000000L, 0L))))
      val e = intercept[Exception] { q2.processAllAvailable() }
      def messages(t: Throwable): Seq[String] =
        if (t == null) Nil
        else Option(t.getMessage).toSeq ++ messages(t.getCause)
      assert(messages(e).exists(_.contains("risks int64 overflow")),
        messages(e).mkString(" | "))
    } finally q2.stop()
  }
}
