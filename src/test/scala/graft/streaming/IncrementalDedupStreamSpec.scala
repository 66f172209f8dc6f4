package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.Dedup

/** The q88 daily-batch incremental dedup run as a CONTINUOUS ingest
  * (a reviewer-suggested surface growth): the existing corpus
  * arrives as micro-batch 1, the new daily slice as micro-batch 2, and
  * the streaming verdicts must equal the batch q88 verdicts —
  *  - exact arm: [[IncrementalDedupStream.exactDups]] (RocksDB hash →
  *    first-seen doc state) events, filtered to (new doc, old canonical);
  *  - near arm: [[NearDupStream.candidates]] over the SAME banded-
  *    signature shape q88's pair cache is built from, verified by the
  *    batch Jaccard join (candidates stream, verification is a bounded
  *    batch join — the production split). */
class IncrementalDedupStreamSpec extends AnyFunSuite {
  private lazy val spark = graft.TestSpark.spark

  test("streamed exact+near verdicts equal batch q88 at sf0.001") {
    assume(new java.io.File("/root/testdata/sf0.001/documents.parquet").exists())
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val docs = graft.Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("source"), col("text"))
    val newIds = docs.filter(col("source") === "src5")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val oldIds = docs.filter(col("source") =!= "src5")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assume(newIds.nonEmpty && oldIds.nonEmpty)

    // batch truth: the q88 verdict relation
    val batch = graft.queries.PipelineQueries
      .q88IncrementalDedup(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val batchExact = batch.collect { case (d, "dup_exact") => d }.toSet
    val batchNear = batch.collect { case (d, "dup_near") => d }.toSet

    // shared batch-side shapes: hashes + the q20-family banding
    val hashed = docs.select(col("doc_id"), md5(col("text")).as("text_hash"))
      .as[IncrementalDedupStream.HashedDoc].collect().sortBy(_.doc_id)
    val shingled = docs.select(col("doc_id"), col("source"),
      array_distinct(graft.functions.TextFunctions.shingles(
        graft.functions.TextFunctions.tokenize(col("text")), 3)).as("shingles"))
      .localCheckpoint(true)
    val banded = Dedup.lshBands(
        Dedup.minhashSignatures(shingled, 8), 8, 2)
      .select("doc_id", "band", "band_key").collect()
      .map(r => NearDupStream.BandRow(r.getLong(0), r.getInt(1), r.getString(2)))
      .sortBy(_.doc_id)

    val hashStream = MemoryStream[IncrementalDedupStream.HashedDoc]
    val bandStream = MemoryStream[NearDupStream.BandRow]
    val hashQ = IncrementalDedupStream.exactDups(hashStream.toDS())
      .writeStream.outputMode("append").format("memory")
      .queryName("incdedup_exact")
      .option("checkpointLocation", Files.createTempDirectory("ide_ckpt").toString)
      .start()
    val bandQ = NearDupStream.candidates(bandStream.toDS())
      .writeStream.outputMode("append").format("memory")
      .queryName("incdedup_bands")
      .option("checkpointLocation", Files.createTempDirectory("idb_ckpt").toString)
      .start()
    try {
      hashStream.addData(hashed.filter(h => oldIds(h.doc_id)))
      bandStream.addData(banded.filter(b => oldIds(b.doc_id)))
      hashQ.processAllAvailable(); bandQ.processAllAvailable()
      hashStream.addData(hashed.filter(h => newIds(h.doc_id)))
      bandStream.addData(banded.filter(b => newIds(b.doc_id)))
      hashQ.processAllAvailable(); bandQ.processAllAvailable()
    } finally { hashQ.stop(); bandQ.stop() }

    // exact arm: new doc whose canonical first-seen is an OLD doc
    val gotExact = spark.table("incdedup_exact")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .collect { case (d, f) if newIds(d) && oldIds(f) => d }.toSet
    assert(gotExact == batchExact)

    // near arm: streamed candidates crossing new×old, batch-verified
    // (re-materialized: the memory-sink lineage would collide with the
    // verify join's internal self-references)
    val candPairs = spark.table("incdedup_bands")
      .select(col("doc_a"), col("doc_b")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (a, b) =>
        (newIds(a) && oldIds(b)) || (newIds(b) && oldIds(a)) }
    val cands = candPairs.toSeq.toDF("doc_a", "doc_b")
    val verified = Dedup.jaccard(cands, shingled.select("doc_id", "shingles"))
      .filter(col("jaccard") >= 0.5)
      .collect().flatMap(r => Seq(r.getLong(0), r.getLong(1)))
      .filter(newIds).toSet
    assert(verified -- gotExact == batchNear)
  }

  test("checkpointed state survives a full query restart (W6 delivery upgrade)") {
    // batch 1 establishes canonical first-seen docs, the query STOPS
    // (process death), a NEW query object restarts from the same
    // checkpoint + source, and batch 2's duplicates must match against
    // batch 1's canonicals — state recovered from RocksDB, not rebuilt
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ckpt = Files.createTempDirectory("restart_ckpt").toString
    val outDir = Files.createTempDirectory("restart_out").toString
    val stream = MemoryStream[IncrementalDedupStream.HashedDoc]
    // parquet sink: the memory sink refuses checkpoint recovery, and a
    // real deployment's file/Kafka sink is exactly what W6's
    // at-least-once-with-checkpoint claim is about
    def start() = IncrementalDedupStream.exactDups(stream.toDS())
      .writeStream.outputMode("append").format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", ckpt)
      .start()
    val q1 = start()
    stream.addData(Seq(
      IncrementalDedupStream.HashedDoc(1L, "h1"),
      IncrementalDedupStream.HashedDoc(2L, "h2")))
    q1.processAllAvailable()
    q1.stop() // simulated process death after checkpoint commit
    val q2 = start()
    stream.addData(Seq(
      IncrementalDedupStream.HashedDoc(3L, "h1"),   // dup of RESTORED 1
      IncrementalDedupStream.HashedDoc(4L, "h3")))
    q2.processAllAvailable()
    q2.stop()
    val events = spark.read.parquet(outDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(events == Set((3L, 1L)),
      s"doc 3 must dedup against the checkpoint-restored canonical 1, got $events")
  }

  test("transformWithState ListState survives a query restart (band candidates)") {
    // the W6 restart proof for the transformWithState/RocksDB path:
    // bucket mates from batch 1 must pair with batch-2 arrivals through
    // a FULL query restart — ListState recovered, not rebuilt
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ckpt = Files.createTempDirectory("nd_restart_ckpt").toString
    val outDir = Files.createTempDirectory("nd_restart_out").toString
    val stream = MemoryStream[NearDupStream.BandRow]
    def start() = NearDupStream.candidates(stream.toDS())
      .writeStream.outputMode("append").format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", ckpt)
      .start()
    val q1 = start()
    stream.addData(Seq(NearDupStream.BandRow(1L, 0, "b"),
      NearDupStream.BandRow(2L, 0, "b")))
    q1.processAllAvailable()
    q1.stop()
    val q2 = start()
    stream.addData(Seq(NearDupStream.BandRow(3L, 0, "b")))
    q2.processAllAvailable()
    q2.stop()
    val pairs = spark.read.parquet(outDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // (1,2) within batch 1; (1,3) and (2,3) require the RESTORED list
    assert(pairs == Set((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  test("maxBucket tombstone-on-overflow: net streamed candidates equal batch for any split") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // bucket "hot" overflows (6 docs > cap 4) mid-stream; "ok" stays
    // under; band 1 holds an untouched control pair
    val rows =
      (10L to 15L).map(NearDupStream.BandRow(_, 0, "hot")) ++
      (1L to 3L).map(NearDupStream.BandRow(_, 0, "ok")) ++
      Seq(NearDupStream.BandRow(1L, 1, "x"), NearDupStream.BandRow(2L, 1, "x"))
    val cap = 4
    val batchWant = Dedup.lshCandidates(
        rows.toDF("doc_id", "band", "band_key"), maxBucket = cap)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(batchWant == Set((1L, 2L), (1L, 3L), (2L, 3L)),
      "hot bucket must be fully excluded by the batch guard")

    // two different batch splits: overflow lands mid-bucket in one and
    // on a later batch in the other — the net set must not care
    val splits = Seq(
      Seq(rows.filter(_.doc_id <= 11), rows.filter(_.doc_id > 11)),
      Seq(rows.take(3), rows.slice(3, 9), rows.drop(9)))
    splits.zipWithIndex.foreach { case (batches, i) =>
      val stream = MemoryStream[NearDupStream.BandRow]
      val q = NearDupStream.candidates(stream.toDS(), maxBucket = cap)
        .writeStream.outputMode("append").format("memory")
        .queryName(s"nd_tomb_$i")
        .option("checkpointLocation",
          Files.createTempDirectory(s"ndt_ckpt_$i").toString)
        .start()
      try {
        batches.foreach { b => stream.addData(b); q.processAllAvailable() }
      } finally {
        q.stop()
      }
      val emitted = spark.table(s"nd_tomb_$i")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
          r.getBoolean(3)))
      val tombs = emitted.collect { case (a, b, band, true) => (a, b, band) }.toSet
      val net = emitted.collect { case (a, b, band, false) => (a, b, band) }
        .filterNot(tombs).map { case (a, b, _) => (a, b) }.toSet
      // split 0 fills "hot" to 2 before overflow -> at least one
      // retraction must have been exercised
      if (i == 0) assert(tombs.nonEmpty, "overflow must emit retractions")
      assert(net == batchWant, s"split $i")
    }
  }
}
