package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import PunctuationWindow.Event
import graft.sources.TweetSource

/** End-to-end Structured Streaming runs: the W1/W2 parity window through
  * flatMapGroupsWithState with checkpointed state across micro-batches
  * (W6), and the JSON-lines file source with maxFilesPerTrigger
  * backpressure (W7). */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = graft.TestSpark.spark

  test("streaming punctuation windows equal the batch fold across micro-batches (W1/W2/W6)") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rnd = new scala.util.Random(3)
    val evs = (for {
      k <- Seq("a", "b")
      i <- 1 to 30
    } yield Event(k, rnd.nextInt(1000).toLong, f"$k$i%03d"))
      .sortBy(e => (e.tsMicros, e.payload))
    val stream = MemoryStream[Event]
    val query = PunctuationWindow.streaming(stream.toDS(), lengthMicros = 100L)
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("punct_stream")
      .option("checkpointLocation",
        Files.createTempDirectory("punct_ckpt").toString)
      .start()
    try {
      // three micro-batches: state must carry open windows across them
      evs.grouped(evs.size / 3 + 1).foreach { chunk =>
        stream.addData(chunk)
        query.processAllAvailable()
      }
    } finally query.stop()

    val got = spark.table("punct_stream").as[PunctuationWindow.Flush]
      .collect().map(f => (f.key, f.startMicros, f.endMicros, f.n_events)).toSet
    val want = PunctuationWindow.batch(evs.toDS(), 100L)
      .collect().map(f => (f.key, f.startMicros, f.endMicros, f.n_events)).toSet
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("file-source tweet stream honours maxFilesPerTrigger (W7) and normalizes (S6/S1)") {
    val dir = Files.createTempDirectory("tweets_in")
    def tweet(id: Int): String =
      s"""{"created_at":"Mon Jan 01 00:00:${f"$id%02d"} +0000 2024","id_str":"t$id",""" +
        s""""text":"hello $id","user":{"id_str":"u$id","screen_name":"s $id"}}"""
    for (f <- 0 until 3)
      Files.write(dir.resolve(s"part-$f.json"),
        (0 until 5).map(i => tweet(f * 5 + i)).mkString("\n").getBytes)

    val stream = TweetSource.readStreamJsonLines(spark, dir.toString,
      maxFilesPerTrigger = 1)
    val query = TweetSource.normalized(stream)
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("tweets_stream")
      .option("checkpointLocation",
        Files.createTempDirectory("tweets_ckpt").toString)
      .start()
    try query.processAllAvailable()
    finally query.stop()

    val rows = spark.table("tweets_stream").collect()
    assert(rows.length == 15)
    // T10 cleanup ran inside the stream
    assert(rows.forall(!_.getAs[String]("author_screen_name").contains(" ")))
    // W7: one file per micro-batch -> at least 3 progress entries with rows
    val batches = query.recentProgress.count(_.numInputRows > 0)
    assert(batches >= 3, s"expected >=3 micro-batches, saw $batches")
  }

  test("idiomatic tumbling windows: epoch-aligned, watermark-driven emission") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[(String, java.sql.Timestamp)]
    val df = stream.toDF().toDF("k", "ts")
    val query = PunctuationWindow.idiomaticTumbling(df, "k", "ts", "10 minutes")
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("tumbling_stream")
      .option("checkpointLocation",
        Files.createTempDirectory("tumb_ckpt").toString)
      .start()
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    try {
      stream.addData(("a", t("2024-01-01 00:03:00")), ("a", t("2024-01-01 00:07:00")))
      query.processAllAvailable()
      // advancing the watermark past 00:10 closes the first window
      stream.addData(("a", t("2024-01-01 00:21:00")))
      query.processAllAvailable()
      stream.addData(("a", t("2024-01-01 00:40:00")))
      query.processAllAvailable()
    } finally query.stop()
    val rows = spark.table("tumbling_stream")
      .collect().map(r => (r.getAs[java.sql.Timestamp]("window_start").toString,
        r.getAs[Long]("n_events"))).toSet
    // epoch-aligned [00:00, 00:10) holds both early events; the 00:21
    // event's window [00:20, 00:30) closed when the watermark hit 00:40
    assert(rows.contains(("2024-01-01 00:00:00.0", 2L)))
    assert(rows.contains(("2024-01-01 00:20:00.0", 1L)))
  }

  test("native session windows run under Structured Streaming and match the batch form") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[(Long, java.sql.Timestamp, Double)]
    def sessions(df: org.apache.spark.sql.DataFrame) = df
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("n_events"), col("sum_value"))
    val streamed = sessions(
      stream.toDF().toDF("user_id", "ts", "value").withWatermark("ts", "0 seconds"))
      .writeStream.outputMode("append").format("memory")
      .queryName("session_stream")
      .option("checkpointLocation", Files.createTempDirectory("sess_ckpt").toString)
      .start()
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val events = Seq(
      (1L, t("2024-01-01 00:00:00"), 1.0), (1L, t("2024-01-01 00:10:00"), 2.0),
      (1L, t("2024-01-01 01:00:00"), 3.0), // 30-min gap → second session
      (2L, t("2024-01-01 00:05:00"), 4.0))
    try {
      stream.addData(events.take(2))
      streamed.processAllAvailable()
      stream.addData(events.drop(2))
      streamed.processAllAvailable()
      // a late watermark-advancing event so every session above closes
      stream.addData((9L, t("2024-01-01 09:00:00"), 0.0))
      streamed.processAllAvailable()
    } finally streamed.stop()
    val got = spark.table("session_stream")
      .filter(col("user_id") < 9)
      .collect().map(r => (r.getLong(0), r.getTimestamp(1).toString,
        r.getLong(2), r.getDouble(3))).toSet
    val batch = sessions(events.toDF("user_id", "ts", "value"))
      .collect().map(r => (r.getLong(0), r.getTimestamp(1).toString,
        r.getLong(2), r.getDouble(3))).toSet
    assert(got == batch) // same operator form, both execution modes
    assert(got.size == 3) // u1: two sessions (30-min gap splits), u2: one
  }

  test("debug JSON file sink dumps every batch as JSON lines (S4/T7)") {
    val inDir = Files.createTempDirectory("tweets_dbg_in")
    val outDir = Files.createTempDirectory("tweets_dbg_out")
    def tweet(id: Int): String =
      s"""{"created_at":"Mon Jan 01 00:00:${f"$id%02d"} +0000 2024","id_str":"t$id",""" +
        s""""text":"hello $id","user":{"id_str":"u$id","screen_name":"s$id"}}"""
    for (f <- 0 until 2)
      Files.write(inDir.resolve(s"p$f.json"),
        (0 until 4).map(i => tweet(f * 4 + i)).mkString("\n").getBytes)

    val stream = TweetSource.readStreamJsonLines(spark, inDir.toString,
      maxFilesPerTrigger = 1)
    val query = TweetSource.debugJsonSink(
      TweetSource.normalized(stream).select("tweet_id", "author_id", "text"),
      outDir.toString,
      Files.createTempDirectory("dbg_ckpt").toString).start()
    try query.processAllAvailable()
    finally query.stop()

    val dumped = spark.read.text(outDir.toString + "/batch=*")
      .collect().map(_.getString(0))
    assert(dumped.length == 8)
    // every line is the T7 JSON of the projected columns
    assert(dumped.forall(l => l.startsWith("""{"tweet_id":"t""") &&
      l.contains(""""text":"hello """)))
  }

  test("streaming exact dedup drops replays across micro-batches, state keyed by hash") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[(Long, java.sql.Timestamp, String)]
    val in = stream.toDS().toDF("doc_id", "ts", "text")
    val query = graft.pipeline.Dedup.exactStreaming(in, "doc_id", "text", "ts")
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("dedup_stream")
      .option("checkpointLocation",
        Files.createTempDirectory("dedup_ckpt").toString)
      .start()
    def t(s: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:00:$s%02d")
    try {
      stream.addData(Seq((1L, t(1), "alpha"), (2L, t(2), "beta"), (3L, t(3), "alpha")))
      query.processAllAvailable()
      // second micro-batch replays "alpha" — state must remember it
      stream.addData(Seq((4L, t(4), "alpha"), (5L, t(5), "gamma")))
      query.processAllAvailable()
    } finally query.stop()
    val kept = spark.table("dedup_stream")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    // first arrival of each distinct text survives: alpha→1, beta→2, gamma→5
    assert(kept == Seq(1L, 2L, 5L))
  }

  test("C4 line cleaning runs under Structured Streaming and matches the batch kernel") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // the cleaning kernel is a stateless mapPartitions — it must compose
    // into a streaming plan unchanged (the ingest-path property)
    val docs = Seq(
      (1L, "one two three four five.\nno punct line here at all\nsix seven eight nine ten!"),
      (2L, "short.\nalpha beta gamma delta epsilon?"),
      (3L, ""))
    val stream = MemoryStream[(Long, String)]
    val in = stream.toDS().toDF("doc_id", "text")
    val query = graft.pipeline.TextMetrics.c4LineClean(in, "doc_id", "text")
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("c4_stream")
      .option("checkpointLocation",
        Files.createTempDirectory("c4_ckpt").toString)
      .start()
    try {
      stream.addData(docs.take(2))
      query.processAllAvailable()
      stream.addData(docs.drop(2))
      query.processAllAvailable()
    } finally query.stop()
    val streamed = spark.table("c4_stream")
      .collect().map(_.mkString(",")).sorted.toSeq
    val batch = graft.pipeline.TextMetrics
      .c4LineClean(docs.toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(_.mkString(",")).sorted.toSeq
    assert(streamed == batch)
    assert(streamed.size == 3)
  }

  test("quality signals annotate a stream and match the batch table") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // qualitySignals is pure per-row column expressions, so the same
    // call must compose into an append-mode streaming plan unchanged
    val docs = Seq((1L, "Ab1 cd. ab1\nAb1 x!"), (2L, "AB12cd...."), (3L, ""))
    val stream = MemoryStream[(Long, String)]
    val query = graft.pipeline.TextMetrics
      .qualitySignals(stream.toDS().toDF("doc_id", "text"), "doc_id", "text")
      .writeStream.outputMode("append").format("memory")
      .queryName("signals_stream")
      .option("checkpointLocation",
        Files.createTempDirectory("signals_ckpt").toString)
      .start()
    try {
      stream.addData(docs)
      query.processAllAvailable()
    } finally query.stop()
    val streamed = spark.table("signals_stream")
      .collect().map(_.mkString(",")).sorted.toSeq
    val batch = graft.pipeline.TextMetrics
      .qualitySignals(docs.toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(_.mkString(",")).sorted.toSeq
    assert(streamed == batch)
    assert(streamed.size == 3)
  }

  test("rate anomaly: streaming closed-hour scores equal the batch twin bit-for-bit") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // hourly counts 2,4,6,8,3 for type a (plus a lone type b): hours
    // 0-3 close when hour 4 arrives; hour 3 is the first scoreable one
    val perHour = Seq(2, 4, 6, 8, 3)
    val evs = perHour.zipWithIndex.flatMap { case (n, h) =>
      (0 until n).map(i =>
        RateAnomalyStream.RateEvent("a", h * 3600000000L + i * 1000000L))
    } :+ RateAnomalyStream.RateEvent("b", 0L)
    val stream = MemoryStream[RateAnomalyStream.RateEvent]
    val q = RateAnomalyStream.anomalies(stream.toDS())
      .writeStream.outputMode("append").format("memory")
      .queryName("rate_stream")
      .option("checkpointLocation",
        Files.createTempDirectory("rate_ckpt").toString)
      .start()
    try {
      // split across batches mid-hour to exercise cross-batch state
      val (b1, b2) = evs.splitAt(7)
      stream.addData(b1); q.processAllAvailable()
      stream.addData(b2); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("rate_stream").as[RateAnomalyStream.RateWindow]
      .collect().map(w => (w.event_type, w.window_start_us) -> w).toMap
    // batch twin over the same events; drop each key's open final hour
    val batch = graft.queries.CoreQueries.rateAnomalyOf(
        evs.toDF("event_type", "us")
          .select(col("event_type"), (col("us") / 1000000L).cast("timestamp").as("ts")))
      .collect().map { r =>
        val startUs = java.sql.Timestamp.valueOf(r.getString(0)).getTime * 1000L
        (r.getString(1), startUs) ->
          ((r.getLong(2), r.getLong(3),
            if (r.isNullAt(4)) None else Some(r.getDouble(4)),
            if (r.isNullAt(5)) None else Some(r.getDouble(5))))
      }.toMap
    assert(streamed.keySet ==
      (0 until 4).map(h => ("a", h * 3600000000L)).toSet,
      "closed hours only: a's hours 0-3; b's single hour stays open")
    streamed.foreach { case (k, w) =>
      assert(batch(k) == ((w.n_events, w.n_prev, w.baseline_mean, w.z)),
        s"parity at $k")
    }
    // the scoreable hour (3 predecessors) agrees with the closed form
    val h3 = streamed(("a", 3 * 3600000000L))
    assert(h3.n_prev == 3L && h3.baseline_mean == Some(4.0))
  }

  test("markov transitions: streaming last-event state equals the batch lag window") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import TransitionStream.{TransEvent, Transition}
    val evs = Seq(
      TransEvent(1L, "view", 1000000L, 1L),
      TransEvent(2L, "signup", 2000000L, 2L),
      TransEvent(1L, "click", 3000000L, 3L),
      TransEvent(1L, "click", 3000000L, 4L), // ts tie: event_id breaks it
      TransEvent(2L, "purchase", 4000000L, 5L),
      TransEvent(1L, "purchase", 5000000L, 6L),
      TransEvent(3L, "view", 5000000L, 7L)) // lone event: no transition
    val stream = MemoryStream[TransEvent]
    val q = TransitionStream.transitions(stream.toDS())
      .writeStream.outputMode("append").format("memory")
      .queryName("trans_stream")
      .option("checkpointLocation",
        Files.createTempDirectory("trans_ckpt").toString)
      .start()
    try {
      // split mid-user: u1's click→click, u2's signup→purchase and the
      // ts-tied pair all cross the batch boundary through state
      val (b1, b2) = evs.splitAt(3)
      stream.addData(b1); q.processAllAvailable()
      stream.addData(b2); q.processAllAvailable()
      // an out-of-order arrival (older than u1's stored last) is dropped
      stream.addData(Seq(TransEvent(1L, "error", 500000L, 0L)))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("trans_stream").as[Transition]
      .collect().toSeq
      .groupBy(t => (t.prev_type, t.next_type))
      .map { case (k, v) => k -> v.length.toLong }
    val batch = graft.queries.CoreQueries.markovTransitionsOf(
        evs.toDF().select(col("user_id"), col("event_type"),
          (col("ts_us") / 1000000L).cast("timestamp").as("ts"),
          col("event_id")))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(streamed == batch)
    assert(streamed == Map(
      ("view", "click") -> 1L, ("click", "click") -> 1L,
      ("click", "purchase") -> 1L, ("signup", "purchase") -> 1L))
  }

  test("trending tokens: streaming windowed counts equal the batch twin") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[(java.sql.Timestamp, String)]
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val docs = Seq(
      (t("2024-01-01 00:01:00"), "spark spark join"),
      (t("2024-01-01 00:08:00"), "spark window"),
      (t("2024-01-01 00:12:00"), "join join"))
    val query = graft.pipeline.TextMetrics
      .trendingTokens(stream.toDF().toDF("ts", "text"), "ts", "text")
      .writeStream.outputMode("append").format("memory")
      .queryName("trend_stream")
      .option("checkpointLocation",
        Files.createTempDirectory("trend_ckpt").toString)
      .start()
    try {
      stream.addData(docs.take(2))
      query.processAllAvailable()
      // watermark must pass 00:10 to close the first window, and then
      // pass 00:20 to close the second
      stream.addData(docs.drop(2))
      query.processAllAvailable()
      stream.addData((t("2024-01-01 00:31:00"), "flush"))
      query.processAllAvailable()
    } finally query.stop()
    val streamed = spark.table("trend_stream")
      .filter(col("window_start") < t("2024-01-01 00:30:00"))
      .collect().map(_.mkString(",")).sorted.toSeq
    val batch = graft.pipeline.TextMetrics
      .trendingTokens(docs.toDF("ts", "text"), "ts", "text")
      .collect().map(_.mkString(",")).sorted.toSeq
    assert(batch.size == 4) // (00:00: spark=3, join=1, window=1; 00:10: join=2)
    assert(streamed == batch)
  }

  test("streaming LSH candidates equal the batch join across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.pipeline.Dedup
    // docs 1,2 near-dup; 3 near-dups with both; 4 unrelated — banded
    // once (batch-side computation is shared by both faces)
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota mu"),
      (3L, "alpha beta gamma delta epsilon zeta eta theta nu xi"),
      (4L, "totally different words appear in this document only here"))
      .toDF("doc_id", "text")
    val banded = Dedup.lshBands(Dedup.minhashSignatures(
        Dedup.shingleSets(docs, "doc_id", "text", 3), 8), 8, 2)
      .select("doc_id", "band", "band_key")
    val want = Dedup.lshCandidates(banded)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assume(want.nonEmpty, "fixture must produce at least one candidate")
    val rows = banded.collect()
      .map(r => NearDupStream.BandRow(r.getLong(0), r.getInt(1), r.getString(2)))
      .sortBy(_.doc_id)
    val stream = MemoryStream[NearDupStream.BandRow]
    val query = NearDupStream.candidates(stream.toDS())
      .writeStream.outputMode("append").format("memory")
      .queryName("neardup_stream")
      .option("checkpointLocation",
        Files.createTempDirectory("nd_ckpt").toString)
      .start()
    try {
      // split so doc 1+2 arrive first and doc 3 lands in a LATER batch:
      // its pairs must come from state, not the batch
      val (b1, b2) = rows.partition(_.doc_id <= 2L)
      stream.addData(b1); query.processAllAvailable()
      stream.addData(b2); query.processAllAvailable()
    } finally query.stop()
    val got = spark.table("neardup_stream")
      .select("doc_a", "doc_b").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want)
    // the cross-batch pair (1,3) or (2,3) must exist — proves state
    // carried bucket residents across the batch boundary
    assert(got.exists(_._2 == 3L), s"no cross-batch pair in $got")
  }

  test("transformWithState top-k leaderboard: final generation equals the batch top-k") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import TrendingTopKStream.{TokenEvent, TopKRow}
    val W = 600000000L // 10-minute windows in microseconds
    val evs = Seq(
      // window 0: spark×3, join×2, window×1  → top3 = spark, join, window
      TokenEvent(0L, "spark"), TokenEvent(0L, "join"), TokenEvent(0L, "spark"),
      TokenEvent(0L, "window"), TokenEvent(0L, "join"), TokenEvent(0L, "spark"),
      // window 1: tie join=scan=1 → lexicographic rank: join, scan
      TokenEvent(W, "scan"), TokenEvent(W, "join"))
    val stream = MemoryStream[TokenEvent]
    val query = TrendingTopKStream.topTokens(stream.toDS(), k = 3)
      .writeStream.outputMode("update").format("memory")
      .queryName("topk_stream")
      .option("checkpointLocation",
        Files.createTempDirectory("topk_ckpt").toString)
      .start()
    try {
      // split window 0 across batches: the second batch must see the
      // first batch's counts from state, not restart at zero
      stream.addData(evs.take(3)); query.processAllAvailable()
      stream.addData(evs.drop(3)); query.processAllAvailable()
    } finally query.stop()
    val rows = spark.table("topk_stream").as[TopKRow].collect()
    // window 0 was touched by two batches → generations 1 and 2; the
    // final generation supersedes (the downstream-upsert contract)
    val finalBoard = rows.groupBy(_.window_start_us).map { case (w, rs) =>
      val g = rs.map(_.gen).max
      w -> rs.filter(_.gen == g).sortBy(_.rank)
        .map(r => (r.rank, r.token, r.cnt)).toSeq
    }
    assert(finalBoard(0L) ==
      Seq((1L, "spark", 3L), (2L, "join", 2L), (3L, "window", 1L)))
    assert(finalBoard(W) == Seq((1L, "join", 1L), (2L, "scan", 1L)))
    // the mid-stream generation saw only batch-1 counts (spark×2, join×1)
    val gen1 = rows.filter(r => r.window_start_us == 0L && r.gen == 1L)
      .sortBy(_.rank).map(r => (r.token, r.cnt)).toSeq
    assert(gen1 == Seq(("spark", 2L), ("join", 1L)))
  }
}
