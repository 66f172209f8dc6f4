package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[DomainCapStream]]: exact first-arrival admissions across
  * micro-batches (state persists), and per-domain admitted-count
  * parity with the batch [[graft.pipeline.Domains.capPerDomain]]. */
class DomainCapStreamSpec extends AnyFunSuite {
  private lazy val spark = graft.TestSpark.spark

  test("first-arrival cap across micro-batches; count parity with batch") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    // a.com gets 5 docs (cap 3 → 2 rejected, split across batches);
    // b.org gets 2 (all admitted); c.net 1
    val batch1 = Seq((10L, "a.com"), (12L, "a.com"), (20L, "b.org"),
      (30L, "c.net")).map((DomainCapStream.DocArrival.apply _).tupled)
    val batch2 = Seq((11L, "a.com"), (13L, "a.com"), (14L, "a.com"),
      (21L, "b.org")).map((DomainCapStream.DocArrival.apply _).tupled)

    val in = MemoryStream[DomainCapStream.DocArrival]
    val q = DomainCapStream.admissions(in.toDS(), cap = 3)
      .writeStream.outputMode("append").format("memory")
      .queryName("domcap_stream")
      .option("checkpointLocation",
        Files.createTempDirectory("domcap_ckpt").toString)
      .start()
    try {
      in.addData(batch1); q.processAllAvailable()
      in.addData(batch2); q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("domcap_stream")
      .collect().map(r => (r.getLong(0),
        (r.getString(1), r.getLong(2), r.getBoolean(3)))).toMap
    // every arrival gets a ledger row
    assert(got.size == 8)
    // batch 1: a.com admits 10 (order 1), 12 (2); batch 2 continues the
    // counter — 11 (3, admitted), 13 (4, rejected), 14 (5, rejected)
    assert(got(10L) == ("a.com", 1L, true))
    assert(got(12L) == ("a.com", 2L, true))
    assert(got(11L) == ("a.com", 3L, true))
    assert(got(13L) == ("a.com", 4L, false))
    assert(got(14L) == ("a.com", 5L, false))
    assert(got(20L) == ("b.org", 1L, true))
    assert(got(21L) == ("b.org", 2L, true))
    assert(got(30L) == ("c.net", 1L, true))

    // count parity with the batch cap on the same relation
    val all = (batch1 ++ batch2).map(a => (a.doc_id, a.domain))
      .toDF("doc_id", "domain")
    val batchCounts = graft.pipeline.Domains
      .capPerDomain(all, "doc_id", "domain", cap = 3)
      .filter(col("kept")).groupBy(col("domain")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val streamCounts = got.values.toSeq.filter(_._3)
      .groupBy(_._1).map { case (d, xs) => d -> xs.size.toLong }
    assert(streamCounts == batchCounts)
  }
}
