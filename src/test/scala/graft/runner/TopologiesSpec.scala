package graft.runner

import java.nio.file.Files

import org.apache.spark.graft.ListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.sources.TweetSource

/** End-to-end topology builders (§3 entry points) on hand-built tweet
  * fixtures: per-window role analysis, windowed interaction graph, the
  * topic-model chain, and the LOD enrichment chain. */
class TopologiesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tweet(id: String, user: String, hhmmss: String,
      replyTo: String = null, replyUser: String = null,
      text: String = "the table is fast"): String = {
    val reply =
      if (replyTo == null) ""
      else s""""in_reply_to_status_id_str":"$replyTo",""" +
        s""""in_reply_to_user_id_str":"$replyUser",""" +
        s""""in_reply_to_screen_name":"u $replyUser","""
    s"""{"created_at":"Mon Jan 01 $hhmmss +0000 2024","id_str":"$id",""" +
      s""""text":"$text",$reply""" +
      s""""user":{"id_str":"$user","screen_name":"s $user"}}"""
  }

  /** Two flushed 10-min windows + a trailing (never-emitted) buffer.
    * w1 = {t1,t2,t3,t4} (t4 is the closing event, included);
    * w2 = {t5,t6,t7} with t6 replying to an unobserved parent. */
  private val lines = Seq(
    tweet("t1", "u1", "00:00:00"),
    tweet("t2", "u2", "00:01:00", replyTo = "t1", replyUser = "u1"),
    tweet("t3", "u1", "00:02:00", replyTo = "t2", replyUser = "u2"),
    tweet("t4", "u3", "00:10:30"), // closes w1, joins w1
    tweet("t5", "u1", "00:12:00"),
    tweet("t6", "u2", "00:13:00", replyTo = "gone", replyUser = "u9"),
    tweet("t7", "u3", "00:25:00"), // closes w2, joins w2
    tweet("t8", "u1", "00:30:00")) // trailing buffer, never flushed

  private lazy val tweets =
    spark.read.schema(TweetSource.tweetSchema).json(lines.toDS())

  /** Counts started Spark jobs per (streaming query id, micro-batch id),
    * from the local properties the micro-batch engine sets on each job. */
  private class JobsPerBatch extends SparkListener {
    private val counts = scala.collection.mutable.Map.empty[(String, Long), Int]
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).foreach { p =>
        (Option(p.getProperty("sql.streaming.queryId")),
          Option(p.getProperty("streaming.sql.batchId"))) match {
          case (Some(q), Some(b)) => synchronized {
            counts((q, b.toLong)) = counts.getOrElse((q, b.toLong), 0) + 1
          }
          case _ => ()
        }
      }
    def of(queryId: String): Map[Long, Int] = synchronized {
      counts.collect { case ((q, b), n) if q == queryId => b -> n }.toMap
    }
  }

  /** One run of a tweet stream over the fixture: its sink and checkpoint
    * directories, its source (a restart must read the same one), the
    * Spark jobs each micro-batch launched, and the generated classes each
    * micro-batch compiled. */
  private case class FixtureRun(outDir: String, ckptDir: String,
      source: DataFrame, jobs: Map[Long, Int], compiles: Seq[Long])

  /** Janino compiles in this JVM so far (Spark codegen). */
  private def compiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Starts the stream `start` builds over a fresh MemoryStream and feeds
    * it the fixture three lines per micro-batch (three batches; window
    * state must survive across them, W6). */
  private def runFixture(name: String,
      start: (DataFrame, String, String) => DataStreamWriter[Row]): FixtureRun = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[String]
    val source = stream.toDS()
      .select(from_json(col("value"), TweetSource.tweetSchema).as("m"))
      .select("m.*")
    val outDir = Files.createTempDirectory(s"${name}_out").toString
    val ckptDir = Files.createTempDirectory(s"${name}_ckpt").toString
    val sc = spark.sparkContext
    val jobs = new JobsPerBatch
    sc.addSparkListener(jobs)
    val query = start(source, outDir, ckptDir).start()
    val compiled = try lines.grouped(3).map { chunk =>
      val c0 = compiles
      stream.addData(chunk)
      query.processAllAvailable()
      compiles - c0
    }.toVector finally {
      query.stop()
      ListenerBus.drain(sc)
      sc.removeSparkListener(jobs)
    }
    FixtureRun(outDir, ckptDir, source, jobs.of(query.id.toString), compiled)
  }

  /** Idempotency under replay: deletes the last commit marker so a restart
    * re-runs the final micro-batch (foreachBatch is at-least-once), then
    * restarts. The batch-id-addressed overwrite must leave the output
    * unchanged; an append sink would duplicate the replayed batch's rows. */
  private def replayLastBatch(ckptDir: String)(restart: => StreamingQuery): Unit = {
    val commits = new java.io.File(s"$ckptDir/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toLong)
    assert(commits.nonEmpty)
    val crc = new java.io.File(commits.last.getParent, s".${commits.last.getName}.crc")
    assert(commits.last.delete())
    if (crc.exists()) crc.delete() // Hadoop local-FS checksum shadow file
    val replay = restart
    try replay.processAllAvailable() finally replay.stop()
  }

  /** A parquet sink's column names and types, without the `batch`
    * partition column the batch-id-addressed directories add. */
  private def sinkSchema(outDir: String) =
    spark.read.parquet(outDir).drop("batch").schema.map(f => f.name -> f.dataType)

  test("roleAnalysis: per-window communities, trailing buffer excluded") {
    // collect once instead of cache(): a cached frame left registered here
    // would trip the later CacheManager-empty assertion (the session is
    // shared across tests, as it is across workloads in production)
    val rows = Topologies.roleAnalysis(tweets).collect()
    val windows = rows.map(_.getAs[java.sql.Timestamp]("window_start")).distinct
    assert(windows.length == 2)
    // w1 community: u1, u2, u3 (|U| = 3)
    val w1 = rows.filter(_.getAs[java.sql.Timestamp]("window_start").toString
      .contains("00:00:00"))
    assert(w1.map(_.getAs[String]("user_id")).toSet == Set("u1", "u2", "u3"))
    val u1w1 = w1.find(_.getAs[String]("user_id") == "u1").get
    assert(u1w1.getAs[Long]("postCount") == 2) // t1, t3
    // t2 (u2) replied to u1's t1 -> one replying user over |U|=3
    assert(u1w1.getAs[Double]("inDegreeRatio") == 1.0 / 3.0)
    // w2 community includes the dummy-root author u9
    val w2 = rows.filter(_.getAs[java.sql.Timestamp]("window_start").toString
      .contains("00:12:00"))
    assert(w2.map(_.getAs[String]("user_id")).toSet == Set("u1", "u2", "u3", "u9"))
    // t8's trailing window never flushed: only 2 windows, no 00:30 rows
    assert(rows.forall(r => !r.getAs[java.sql.Timestamp]("window_start")
      .toString.contains("00:30:00")))
  }

  test("interactionGraph: per-window reply actions") {
    val out = Topologies.interactionGraph(tweets).collect()
    val w1replies = out.filter(r =>
      r.getAs[java.sql.Timestamp]("window_start").toString.contains("00:00:00") &&
        r.getAs[String]("action") == "replied_to")
    // u2 replied to u1 (t2), u1 replied to u2 (t3)
    assert(w1replies.map(r => (r.getAs[String]("author_id"),
      r.getAs[Long]("n_interactions"))).toSet == Set(("u2", 1L), ("u1", 1L)))
    // screen names are T10-cleaned
    assert(out.forall(!_.getAs[String]("screen_name").contains(" ")))
  }

  test("interactionGraphStream matches the batch topology across micro-batches") {
    val run = runFixture("ig", Topologies.interactionGraphStream(_, 600000000L, _, _))
    def canon(df: DataFrame) = df
      .select("window_start", "author_id", "action", "screen_name",
        "n_interactions", "n_targets", "first_ts", "last_ts")
      .collect().map(_.toString).sorted.toSeq
    val streamed = canon(spark.read.parquet(run.outDir))
    val batch = Topologies.interactionGraph(tweets)
    assert(streamed == canon(batch))
    assert(streamed.nonEmpty)
    // the stream's sink carries the batch topology's columns, in order
    assert(sinkSchema(run.outDir) == batch.schema.map(f => f.name -> f.dataType))

    replayLastBatch(run.ckptDir)(Topologies.interactionGraphStream(run.source,
      600000000L, run.outDir, run.ckptDir).start())
    assert(canon(spark.read.parquet(run.outDir)) == streamed,
      "micro-batch replay duplicated rows")
  }

  test("locationTopicModel: english-filtered, indexed, top-k located") {
    import graft.operators.TopicModel
    val mixed = spark.read.schema(TweetSource.tweetSchema).json(Seq(
      tweet("t1", "u1", "00:00:00", text = "the table is fast"),
      tweet("t2", "u2", "00:01:00", text = "tisch und stuhl und tisch")).toDS())
    val vocab = TopicModel.buildVocab(
      mixed.select(col("text")).filter(col("text").isNotNull), "text", stem = true)
    val out = Topologies.locationTopicModel(mixed, vocab, numLocations = 5, topK = 3)
      .collect()
    // the German tweet fails the english stopword-ratio filter (F3)
    assert(out.map(_.getAs[String]("itinno:item_id")).distinct.toSeq == Seq("t1"))
    assert(out.length == 3) // top-3 locations
    assert(out.forall(_.getAs[String]("location").contains(",")))
  }

  test("documentIngestStream: dedup + quality filter + langid with idempotent batches") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(s: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:00:$s%02d")
    val good = "the table is fast and the query is small and the data is good"
    val stream = MemoryStream[(Long, java.sql.Timestamp, String)]
    val docs = stream.toDS().toDF("doc_id", "ts", "text")
    val outDir = Files.createTempDirectory("ingest_out").toString
    val ckptDir = Files.createTempDirectory("ingest_ckpt").toString
    val query = Topologies.documentIngestStream(docs, outDir, ckptDir).start()
    try {
      stream.addData(Seq((1L, ts(1), good), (2L, ts(2), "x"))) // 2: fails length rule
      query.processAllAvailable()
      stream.addData(Seq((3L, ts(3), good), // replay of 1 — dedup drops it
        (4L, ts(4), "der tisch und der stuhl und die lampe sind gut und schnell da"),
        (5L, ts(5), good + " mail bob@mail.com"), // PII survives quality
        // a Luhn-VALID card and its checksum-broken twin: the sink
        // scrub must excise the card and keep the order-id-like twin
        (6L, ts(6), good + " pay 4539578763621486 ref 4539578763621487")))
      query.processAllAvailable()
    } finally query.stop()
    def read() = spark.read.parquet(outDir)
      .select("doc_id", "detected_lang", "n_pii", "n_cards", "text").collect()
    val rows = read()
    val out = rows.map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out.keySet == Set(1L, 4L, 5L, 6L)) // 2 filtered on quality, 3 deduped
    assert(out(1L) == "en")
    assert(out(4L) == "de")
    // the sink never sees unscrubbed text: the address is redacted in
    // place and counted
    val r5 = rows.find(_.getLong(0) == 5L).get
    assert(r5.getAs[Long]("n_pii") == 1L)
    assert(r5.getAs[String]("text") == good + " mail <EMAIL>")
    assert(rows.forall(r => !r.getAs[String]("text").contains("@")))
    // card boundary: nothing Luhn-valid crosses the sink; unverified
    // digit runs (order ids, ISBNs) are NOT shredded
    val r6 = rows.find(_.getLong(0) == 6L).get
    assert(r6.getAs[Long]("n_cards") == 1L)
    assert(r6.getAs[Long]("n_pii") == 1L)
    assert(r6.getAs[String]("text") ==
      good + " pay <CARD> ref 4539578763621487")
    assert(rows.forall(r => !r.getAs[String]("text").contains("4539578763621486")))

    replayLastBatch(ckptDir)(
      Topologies.documentIngestStream(docs, outDir, ckptDir).start())
    assert(read().map(_.toString).sorted.toSeq == rows.map(_.toString).sorted.toSeq,
      "micro-batch replay duplicated rows")
  }

  test("roleAnalysisStream matches the batch topology across micro-batches") {
    // CacheManager entry count via reflection (no public listing API):
    // the session is shared across suites and other workloads may hold
    // intentional session-scoped caches (OperatorQueries adapters), so
    // assert the stream's DELTA is zero, not absolute emptiness.
    def cachedCount: Int = {
      val cm = spark.sharedState.cacheManager
      val fd = cm.getClass.getDeclaredField("cachedData")
      fd.setAccessible(true)
      fd.get(cm).asInstanceOf[Iterable[_]].size
    }
    val cachedBefore = cachedCount
    val run = runFixture("roles", Topologies.roleAnalysisStream(_, 600000000L, _, _))

    // a long-lived stream must not accumulate CacheManager entries —
    // every operator on its path bounds its own cache lifecycle
    assert(cachedCount == cachedBefore,
      "roleAnalysisStream left cached plans behind after stopping")

    val cols = Seq("window_start", "user_id", "role", "postCount", "inDegreeRatio")
    def canon(df: DataFrame) = df.select(cols.map(col): _*)
      .collect().map(_.toString).sorted.toSeq
    val streamed = canon(spark.read.parquet(run.outDir))
    val batch = Topologies.roleAnalysis(tweets)
    assert(streamed == canon(batch))
    assert(streamed.nonEmpty)
    // the stream's five-column sink is the batch topology's schema
    // restricted to those columns
    assert(sinkSchema(run.outDir) ==
      batch.schema.filter(f => cols.contains(f.name)).map(f => f.name -> f.dataType))

    replayLastBatch(run.ckptDir)(Topologies.roleAnalysisStream(run.source,
      600000000L, run.outDir, run.ckptDir).start())
    assert(canon(spark.read.parquet(run.outDir)) == streamed,
      "micro-batch replay duplicated rows")
  }

  test("role and interaction streams launch a pinned number of Spark jobs per micro-batch") {
    // The job count per micro-batch is deterministic for a fixed plan and
    // input, so it pins the Spark calls each batch makes: the empty check,
    // the eager checkpoints of withRoots and userFeatures, then the write.
    // Batch 0 flushes no window (empty check only); batches 1 and 2 each
    // flush one.
    val roles = runFixture("roles_jobs", Topologies.roleAnalysisStream(_, 600000000L, _, _))
    val interactions = runFixture("ig_jobs",
      Topologies.interactionGraphStream(_, 600000000L, _, _))
    assert(roles.jobs == Map(0L -> 1, 1L -> 10, 2L -> 12), "roleAnalysisStream")
    assert(interactions.jobs == Map(0L -> 1, 1L -> 2, 2L -> 2), "interactionGraphStream")
  }

  test("the role topology compiles each generated class once per session") {
    // A role micro-batch needs more distinct generated classes (~180) than
    // Spark's default codegen cache holds (100), which then evicted every
    // class before its next use: each repeat run or micro-batch compiled
    // them all again. A repeat still compiles a few dozen: adaptive
    // execution assigns whole-stage codegen stage ids as it re-plans, the
    // ids are part of the generated source, and they vary between runs.
    val batch = () => Topologies.roleAnalysis(tweets).collect()
    batch()
    val c0 = compiles
    batch()
    val again = compiles - c0
    assert(again <= 60, s"a repeat batch run compiled $again classes")
    val stream = runFixture("roles_cg", Topologies.roleAnalysisStream(_, 600000000L, _, _))
    // micro-batch 2 flushes a window through the same body micro-batch 1 ran
    assert(stream.compiles(2) <= 90, s"micro-batches compiled ${stream.compiles}")
    // same Spark calls per micro-batch as the pinned count
    assert(stream.jobs == Map(0L -> 1, 1L -> 10, 2L -> 12))
  }

  test("per-message topic model streams in append mode and matches the matrix scorer") {
    import graft.operators.TopicModel
    import graft.queries.OperatorQueries
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val lines = Seq(
      tweet("t1", "u1", "00:00:00", text = "the table is fast and the table is big"),
      tweet("t2", "u2", "00:01:00", text = "a query of the sort key and the hash"))
    val model = OperatorQueries.fixtureGeoModel
    // vocab over the two texts' stemmed index terms
    val batchTweets = spark.read.schema(TweetSource.tweetSchema).json(lines.toDS())
    val vocabMap = TopicModel.buildVocab(
      TweetSource.normalized(batchTweets).select("text"), "text", stem = true)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

    val stream = MemoryStream[String]
    val streamTweets = stream.toDS()
      .select(from_json(col("value"), TweetSource.tweetSchema).as("m"))
      .select("m.*")
    val query = Topologies.locationTopicModelPerMessage(
      streamTweets, vocabMap, model)
      .writeStream.outputMode("append").format("memory")
      .queryName("topic_stream")
      .option("checkpointLocation", Files.createTempDirectory("tm_ckpt").toString)
      .start()
    try {
      lines.foreach { l => stream.addData(l); query.processAllAvailable() }
    } finally query.stop()
    val streamed = spark.table("topic_stream")
      .collect().map(_.toString).sorted.toSeq
    // batch twin through the same per-message path
    val batch = Topologies.locationTopicModelPerMessage(
      batchTweets, vocabMap, model)
      .collect().map(_.toString).sorted.toSeq
    assert(streamed == batch)
    assert(streamed.size == 10) // 2 docs x top-5
    // and the per-message scorer agrees with the relational matrix path
    val norm = TweetSource.normalized(batchTweets)
    val indexed = TopicModel.indexDocs(norm, "tweet_id", "text",
      TopicModel.buildVocab(norm.select("text"), "text", stem = true), stem = true)
    val relational = TopicModel.scoreLocationsModel(indexed, "tweet_id", model)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(3))).toSet
    val perMsg = Topologies.locationTopicModelPerMessage(batchTweets, vocabMap, model, topK = 25)
      .collect().map(r => (r.getString(0), r.getLong(2), r.getDouble(3))).toSet
    assert(perMsg == relational)
  }

  test("lodExplorer: sameAs -> candidates -> relevance -> dereference -> WKT") {
    val locations = Seq(("t1", "lgd:1"), ("t2", "lgd:99")) // 99: no sameAs
      .toDF("tweet_id", "lgd_uri")
    val sameAs = Seq(("dbp:x", "lgd:1")).toDF("subject", "object")
    val propTriples = Seq(
      ("dbp:x", "p:near", "plc:1", true),
      ("dbp:x", "p:name", "X Town", false)) // F9 drops the literal
      .toDF("subject", "predicate", "object", "object_is_uri")
    val placeTriples = Seq(
      ("plc:1", "geo:lat", "50", null),
      ("plc:1", "geo:long", "7", null),
      ("plc:1", "rdfs:label", "Place One", "en"),
      ("plc:1", "rdfs:label", "Ort Eins", "de"))
      .toDF("subject", "predicate", "object", "lang_tag")
    val nbCounts = Seq(("p:near", 8.0, 1.0), ("total", 10.0, 5.0))
      .toDF("property", "rel", "irrel")
    val out = Topologies.lodExplorer(locations, sameAs, propTriples,
      placeTriples, nbCounts).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[String]("tweet_id") == "t1")
    assert(r.getAs[String]("place") == "plc:1")
    assert(r.getAs[String]("label") == "Place One") // @en only
    assert(r.getAs[String]("wkt") == "POINT(50 7)")

    // per-message form: identical rows on the same batch input...
    val perMsg = Topologies.lodExplorerPerMessage(locations, sameAs,
      propTriples, placeTriples, nbCounts)
    assert(perMsg.collect().map(_.toString).sorted.toSeq ==
      out.map(_.toString).sorted.toSeq)
    // ...and the same plan runs as a STREAM (stateless append mode)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[(String, String)]
    val query = Topologies.lodExplorerPerMessage(
      stream.toDS().toDF("tweet_id", "lgd_uri"), sameAs,
      propTriples, placeTriples, nbCounts)
      .writeStream.outputMode("append").format("memory")
      .queryName("lod_stream")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("lod_ckpt").toString)
      .start()
    try {
      stream.addData(("t1", "lgd:1"))
      query.processAllAvailable()
      stream.addData(("t2", "lgd:99"))
      query.processAllAvailable()
    } finally query.stop()
    assert(spark.table("lod_stream").collect().map(_.toString).sorted.toSeq ==
      out.map(_.toString).sorted.toSeq)
  }

  test("web front door streamed == batch verdicts across mid-stream " +
      "batch splits (charset → extract → url dedup → blocklist → " +
      "quality → domain cap)") {
    import org.apache.spark.sql.expressions.Window
    import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8, UTF_16LE}
    import graft.streaming.WebIngestStream
    import graft.streaming.WebIngestStream.PageArrival
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val good = "the quick brown fox jumps over the lazy dog and keeps " +
      "going strong today now"
    def page(id: Long, url: String, para: String,
        enc: String): PageArrival = {
      val html =
        s"<html><head><title>T</title></head><body><p>$para</p></body></html>"
      val raw = enc match {
        case "utf-8" => html.getBytes(UTF_8)
        case "bom" => Array(0xEF, 0xBB, 0xBF).map(_.toByte) ++
          html.getBytes(UTF_8)
        case "latin1" => html.getBytes(ISO_8859_1)
        case "utf16" => Array(0xFF, 0xFE).map(_.toByte) ++
          html.getBytes(UTF_16LE)
      }
      PageArrival(id, raw, url)
    }
    val pages = Seq(
      // 1 and 2 and 12 canonicalize identically: first arrival wins
      page(1L, "https://Example.COM:443/p1/?b=2&utm_source=x&a=1#f",
        good, "utf-8"),
      page(2L, "https://example.com/p1?a=1&b=2", good, "bom"),
      page(3L, "https://example.com/p2",
        "we merge tables daily for fun and profit and length", "utf-8"),
      page(4L, "https://example.com/p3",
        "keep the sort order stable across runs for the win", "utf16"),
      page(5L, "https://example.com/p4", "!!! ??? ***", "utf-8"),
      page(6L, "https://example.com/p5",
        "the quick brown fox visits the café and stays for hours " +
          "drinking coffee", "latin1"),
      page(7L, "https://example.com/p6", good, "utf-8"),
      page(8L, "http://other.org:80/q1?z=9&fbclid=a", good, "utf-8"),
      page(9L, "https://shop.co.uk/x", good, "bom"),
      page(10L, "https://a.b.shop.co.uk/y", good, "utf-8"),
      page(11L, "https://c.shop.co.uk/z", good, "utf16"),
      page(12L, "https://example.com/p1/?utm_campaign=q&b=2&a=1",
        good, "utf-8"))
    val terms = Seq("merge")
    val phrases = Seq("sort order")
    val suffixes = Seq("com", "org", "net", "uk", "co.uk")
    val cap = 2

    // batch reference: the SAME stateless enrich projection, with the
    // stateful stages replayed as windows — first arrival per canonical
    // url = min doc_id, domain quota = running count of pass rows in
    // doc_id order (arrivals are fed in doc_id order below, so
    // stream first-arrival must equal these windows for ANY split)
    val enr = WebIngestStream.enrich(
      pages.toDF().toDF("doc_id", "raw", "url"), terms, phrases, suffixes)
    val flagged = enr.withColumn("first",
        col("doc_id") === min(col("doc_id"))
          .over(Window.partitionBy(col("canon_url"))))
      .withColumn("v0",
        when(!col("first"), "dropped_url_dup")
          .when(col("blocked"), "dropped_blocklist")
          .when(!col("q_ok"), "dropped_quality")
          .otherwise("pass"))
    val want = flagged.withColumn("rk",
        sum(when(col("v0") === "pass", 1L).otherwise(0L))
          .over(Window.partitionBy(col("domain")).orderBy(col("doc_id"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("doc_id"), col("charset"), col("canon_url"),
        col("domain"), col("n_lines"),
        when(col("v0") =!= "pass", col("v0"))
          .when(col("rk") <= cap, "kept")
          .otherwise("dropped_domain_cap").as("verdict"))
      .collect().map(_.toString).sorted.toSeq

    // sanity on the fixture itself: every verdict arm occurs, all four
    // charsets detected
    val wantVerdicts = want.map(_.split(",").last.stripSuffix("]"))
    Seq("kept", "dropped_url_dup", "dropped_blocklist",
      "dropped_quality", "dropped_domain_cap").foreach(v =>
      assert(wantVerdicts.contains(v), s"fixture never exercises $v"))
    Seq("utf-8", "utf-8-bom", "cp1252", "utf-16le").foreach(c =>
      assert(want.exists(_.contains(c)), s"fixture never detects $c"))

    // two different mid-stream splits (doc_id-ordered arrivals) must
    // both reproduce the batch verdicts exactly
    Seq(
      ("webgate2", Seq(pages.take(6), pages.drop(6))),
      ("webgate3", Seq(pages.take(4), pages.slice(4, 8), pages.drop(8)))
    ).foreach { case (name, batches) =>
      val in = MemoryStream[PageArrival]
      val q = WebIngestStream.gate(in.toDS(), terms, phrases, suffixes,
          cap)
        .writeStream.outputMode("append").format("memory")
        .queryName(name)
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory(name).toString)
        .start()
      try {
        batches.foreach { b => in.addData(b); q.processAllAvailable() }
      } finally q.stop()
      val got = spark.table(name).collect().map(_.toString).sorted.toSeq
      assert(got == want, s"$name diverged from the batch reference")
    }

    // ROBOTS fetch gate: a disallowed URL takes dropped_robots ahead
    // of every other verdict and does NOT claim the canonical-URL
    // first-arrival slot — the allowed duplicate arriving AFTER the
    // blocked one must be kept, not dropped_url_dup
    {
      // the robots rule targets the RAW utm-bearing fetch; the
      // canonicalizer strips utm_* params, so docs 1 and 2 share one
      // canonical URL while only doc 1 is robots-blocked
      val robots = Seq(("example.com",
        "User-agent: *\nDisallow: /p9*?*utm_*\n")).toDF("domain", "robots_txt")
      val rules = graft.pipeline.Robots.rules(
        robots, "domain", "robots_txt", "graftbot")
      val in = MemoryStream[PageArrival]
      val q = WebIngestStream.gate(in.toDS(), terms, phrases, suffixes,
          cap = 10, robotsRules = Some(rules))
        .writeStream.outputMode("append").format("memory")
        .queryName("webgate_robots")
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("webgate_rob").toString)
        .start()
      try {
        // doc 1: robots-blocked raw form (same canonical URL as 2);
        // doc 2: allowed form of the SAME canonical URL, later
        // batch — must be KEPT (the blocked arrival left no state);
        // doc 3: allowed, unrelated path
        in.addData(page(1L, "https://example.com/p9/?utm_source=x&b=2",
          good, "utf-8"))
        q.processAllAvailable()
        in.addData(
          page(2L, "https://example.com/p9/?b=2", good, "utf-8"),
          page(3L, "https://example.com/p8", good, "utf-8"))
        q.processAllAvailable()
      } finally q.stop()
      val v = spark.table("webgate_robots").collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("verdict"))
        .toMap
      assert(v(1L) == "dropped_robots")
      assert(v(2L) == "kept",
        "a robots-blocked arrival must not shadow a later allowed " +
          "snapshot of the same canonical URL")
      assert(v(3L) == "kept")
    }

    // BOUNDED-STATE (TTL) mode. TimeMode.ProcessingTime makes the
    // micro-batch engine trigger continuously (timer/TTL sweeps), so
    // processAllAvailable never sees an idle query — the TTL
    // sub-tests poll the sink for the expected row count instead.
    def awaitRows(tbl: String, n: Long): Unit = {
      val deadline = System.currentTimeMillis + 120000L
      while (spark.table(tbl).count() < n &&
          System.currentTimeMillis < deadline)
        Thread.sleep(100)
      assert(spark.table(tbl).count() >= n, s"$tbl stuck below $n rows")
    }

    // within the TTL horizon the gate's verdicts are IDENTICAL to
    // the unbounded gate across a mid-stream split (the documented
    // deviation only begins past expiry)
    {
      val in = MemoryStream[PageArrival]
      val q = WebIngestStream.gate(in.toDS(), terms, phrases, suffixes,
          cap, urlTtl = Some(java.time.Duration.ofHours(1)))
        .writeStream.outputMode("append").format("memory")
        .queryName("webgate_ttl")
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("webgate_ttl").toString)
        .start()
      try {
        in.addData(pages.take(6)); awaitRows("webgate_ttl", 6L)
        in.addData(pages.drop(6)); awaitRows("webgate_ttl", 12L)
      } finally q.stop()
      assert(spark.table("webgate_ttl").collect()
        .map(_.toString).sorted.toSeq == want,
        "TTL gate diverged from the unbounded gate within the horizon")
    }

    // past the horizon, a re-arriving URL is a FIRST arrival again
    // (the documented re-crawl re-admission deviation) — the same
    // URL resent after expiry must NOT be dropped_url_dup
    {
      val in = MemoryStream[PageArrival]
      val q = WebIngestStream.gate(in.toDS(), terms, phrases, suffixes,
          cap = 10, urlTtl = Some(java.time.Duration.ofSeconds(8)))
        .writeStream.outputMode("append").format("memory")
        .queryName("webgate_expire")
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("webgate_exp").toString)
        .start()
      try {
        // docs 1+2 land in ONE addData block → one micro-batch, so
        // the within-horizon dup verdict is clock-independent
        in.addData(Seq(
          page(1L, "https://example.com/r1", good, "utf-8"),
          page(2L, "https://example.com/r1", good, "utf-8")))
        awaitRows("webgate_expire", 2L)
        Thread.sleep(20000) // let the URL entry expire (8 s TTL)
        in.addData(page(3L, "https://example.com/r1", good, "utf-8"))
        awaitRows("webgate_expire", 3L)
      } finally q.stop()
      val verdicts = spark.table("webgate_expire").collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("verdict"))
        .toMap
      assert(verdicts(1L) == "kept")
      assert(verdicts(2L) == "dropped_url_dup")
      assert(verdicts(3L) == "kept",
        "post-expiry re-arrival must be re-admitted (bounded-state mode)")
    }
  }

  test("fromWarc: the continuous gate runs end-to-end on streamed WARC " +
      "containers (record explode, 2xx filter, cross-container url dedup)") {
    import graft.streaming.WebIngestStream
    import java.nio.charset.StandardCharsets.UTF_8
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    def rec(url: String, status: String, para: String): Array[Byte] = {
      val html =
        s"<html><head><title>T</title></head><body><p>$para</p></body></html>"
      val payload = (s"HTTP/1.1 $status\r\nContent-Type: text/html\r\n\r\n")
        .getBytes(UTF_8) ++ html.getBytes(UTF_8)
      (s"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: $url\r\n" +
        s"WARC-Date: 2026-01-01T00:00:00Z\r\n" +
        s"Content-Length: ${payload.length}\r\n\r\n").getBytes(UTF_8) ++
        payload ++ "\r\n\r\n".getBytes(UTF_8)
    }
    def info: Array[Byte] = {
      val b = "software: graft\r\n".getBytes(UTF_8)
      (s"WARC/1.0\r\nWARC-Type: warcinfo\r\n" +
        s"WARC-Date: 2026-01-01T00:00:00Z\r\n" +
        s"Content-Length: ${b.length}\r\n\r\n").getBytes(UTF_8) ++
        b ++ "\r\n\r\n".getBytes(UTF_8)
    }
    val good = "the quick brown fox jumps over the lazy dog and keeps " +
      "the table fast and the data small and the query good"
    val c0 = info ++
      rec("https://example.com/pa", "200 OK", good) ++
      rec("https://example.com/pb", "200 OK",
        "we merge tables daily for fun and profit and length") ++
      rec("https://example.com/gone", "404 Not Found", good)
    val c1 = info ++
      rec("https://Example.COM:443/pa?utm_source=x", "200 OK", good) ++
      rec("https://example.com/pc", "200 OK", good)

    val in = MemoryStream[(Long, Array[Byte])]
    val q = WebIngestStream.gate(
        WebIngestStream.fromWarc(in.toDF()
          .toDF("container_id", "warc"), "container_id", "warc"),
        terms = Seq("merge"), phrases = Seq("sort order"),
        suffixes = Seq("com", "org"), cap = 10)
      .writeStream.outputMode("append").format("memory")
      .queryName("warcgate")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("warcgate").toString)
      .start()
    try {
      in.addData((0L, c0))
      q.processAllAvailable()
      in.addData((1L, c1))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("warcgate").collect()
      .map(r => r.getAs[String]("canon_url") -> r.getAs[String]("verdict"))
    // the 404 record never enters the gate; pa's second (canonical-
    // equal) arrival in container 1 is a url dup
    assert(got.length == 4)
    val byUrl = got.groupBy(_._1).map { case (k, v) =>
      k -> v.map(_._2).sorted.toSeq }
    assert(byUrl("https://example.com/pa") ==
      Seq("dropped_url_dup", "kept"))
    assert(byUrl("https://example.com/pb") == Seq("dropped_blocklist"))
    assert(byUrl("https://example.com/pc") == Seq("kept"))
    assert(!byUrl.keySet.exists(_.contains("gone")))
  }
}
