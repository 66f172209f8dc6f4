package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.Multimodal

/** Streaming perceptual near-dup detection — the arrival-time face of
  * [[Multimodal.dhashNearDups]]: images stream in, the REAL PNG decode
  * + dHash kernel runs per micro-batch (stateless), the shared
  * [[Multimodal.fingerprintBands]] projection feeds the SAME
  * RocksDB-backed bucket processor that serves MinHash bands
  * ([[NearDupStream.candidates]]), and candidates verify by the exact
  * integer Hamming distance batch-side. No new stateful code — the
  * parity claim is that one bucket device serves both text and
  * perceptual fingerprints. */
class FingerprintStreamSpec extends AnyFunSuite {
  private lazy val spark = graft.TestSpark.spark

  test("streamed dHash candidates, Hamming-verified, equal the batch near-dup set across a mid-pair batch split") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val n = 60L
    val ids = (0L until n).toDF("doc_id")
    val media = Multimodal.syntheticNearDupPngs(ids, "doc_id")
      .collect().sortBy(_.media_id)

    // batch truth: the verified pair set and the per-image fingerprints
    val batchHashes = Multimodal.dHashes(
      Multimodal.syntheticNearDupPngs(ids, "doc_id"))
      .collect().map(d => d.media_id -> ((d.hash_hi, d.hash_lo))).toMap
    val batchPairs = Multimodal.dhashNearDups(
        Multimodal.dHashes(Multimodal.syntheticNearDupPngs(ids, "doc_id")).toDF(),
        maxHamming = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    val mediaStream = MemoryStream[Multimodal.MediaRecord]
    val bands = Multimodal.fingerprintBands(
        Multimodal.dHashes(mediaStream.toDS()).toDF())
      .select(col("media_id").as("doc_id"), col("band").cast("int").as("band"),
        col("bval").cast("string").as("band_key"))
      .as[NearDupStream.BandRow]
    val q = NearDupStream.candidates(bands)
      .writeStream.outputMode("append").format("memory")
      .queryName("fp_cands")
      .option("checkpointLocation", Files.createTempDirectory("fp_ckpt").toString)
      .start()
    try {
      // split every planted (2k, 2k+1) pair ACROSS the batch boundary:
      // the match must come from RocksDB state, not within-batch luck
      mediaStream.addData(media.filter(_.media_id % 2 == 0))
      q.processAllAvailable()
      mediaStream.addData(media.filter(_.media_id % 2 != 0))
      q.processAllAvailable()
    } finally q.stop()

    def ham(a: (Long, Long), b: (Long, Long)): Int =
      java.lang.Long.bitCount(a._1 ^ b._1) + java.lang.Long.bitCount(a._2 ^ b._2)
    val streamed = spark.table("fp_cands")
      .select(col("doc_a"), col("doc_b")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (a, b) => ham(batchHashes(a), batchHashes(b)) <= 6 }
      .toSet
    assert(streamed == batchPairs,
      "streamed candidates + Hamming verify must equal the batch near-dup set")
    // and every planted cross-batch pair arrived via state, not luck
    (0L until n / 2).foreach(g => assert(streamed.contains((2 * g, 2 * g + 1))))
  }
}
