package graft.runner

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.{DiscussionTree, InteractionGraph, Lod, RoleAnalysis, TopicModel}
import graft.pipeline.TextMetrics
import graft.sources.TweetSource
import graft.streaming.PunctuationWindow

/** The reference's topology entry points (SURVEY.md §3) as composable
  * query builders — what a westTopologies user actually runs. Each takes
  * a tweet-shaped DataFrame (the [[TweetSource.tweetSchema]] columns,
  * from any source: Kafka, JSON-lines files, a stream) and returns the
  * topology's output relation.
  *
  * Windowing: the role-analysis and interaction-graph topologies buffer
  * into the reference's first-event-aligned punctuation windows (W1-W3)
  * and process each flushed window as an independent community. Each is
  * ONE per-window body (`roles`, `interactions`) over `(win, <the
  * normalized tweet columns>)`, where `win` is the window start in
  * micros as a string. The body prefixes every id with "<win>:", making
  * every key window-scoped, so the community operators run as one
  * shuffle-parallel plan over all windows where the Storm bolts looped
  * one window at a time on one thread; the output splits the prefix
  * back out into `window_start`.
  *
  * Two window shells feed the bodies the same frame; only how a
  * window's tweets come back after the [[PunctuationWindow]] fold
  * differs:
  *  - batch (`batchWindows`): the fold carries tweet ids, and the
  *    flushed ids join back to the normalized tweets;
  *  - stream (`streamWindows`): the fold's state is checkpointed
  *    across micro-batches (W6), so a window's tweets may have arrived
  *    in earlier micro-batches that no join can reach. The fold
  *    therefore carries each tweet whole, as JSON (the reference's own
  *    hand-off: the window bolt emits a flushed window's tweets as JSON,
  *    DiscussionTreeBolt.java:152-161, and the role bolt re-parses them,
  *    RoleAnalysisBolt.java:81-84), and `from_json` restores the columns
  *    after the fold.
  *
  * Every stream form writes through one `sink`: a `foreachBatch` that
  * skips empty micro-batches and overwrites `outDir/batch=<id>`, so a
  * micro-batch replayed after a restart rewrites its own directory. */
object Topologies {

  /** Prefixes an id with its window: "<win>:<id>" (null stays null). */
  private def scoped(id: Column): Column = concat(col("win"), lit(":"), id)

  /** `window_start` and the unprefixed `id` from a window-scoped `id`. */
  private def unscoped(id: String): Seq[Column] = Seq(
    timestamp_micros(substring_index(col(id), ":", 1).cast("long")).as("window_start"),
    substring_index(col(id), ":", -1).as(id))

  /** Role-analysis per-window body: window-scoped discussion trees (J4)
    * → A3/A4/A5/A6 community roles. `withRoots` and `userFeatures` run
    * their eager checkpoint jobs here, when the body is built. */
  private def roles(windowed: DataFrame): DataFrame = {
    val tweets = windowed.select(
      scoped(col("tweet_id")).as("tweet_id"),
      scoped(col("author_id")).as("author_id"),
      col("author_screen_name"), col("ts"), col("retweet"),
      scoped(col("ancestor_id")).as("ancestor_id"),
      scoped(col("in_reply_to_user_id_str")).as("in_reply_to_user_id_str"),
      col("in_reply_to_screen_name"))
    val rooted = DiscussionTree.withRoots(DiscussionTree.nodes(tweets))
    RoleAnalysis.rolesWindowed(
      rooted.select("node_id", "user_id", "parent_id", "root_id"))
      .select(unscoped("user_id") ++ Seq(
        col("role"), col("postCount"), col("repliedPosts"),
        col("replyingUserCount"), col("inDegreeRatio"),
        col("postsReplyRatio"), col("bidirNeighbourRatio"),
        col("bidirThreadRatio"), col("avgPostPerThread"),
        col("stddevPostsPerThread")): _*)
  }

  /** Interaction-graph per-window body: the author id is window-scoped
    * through the (author, action) aggregation and split back out. */
  private def interactions(windowed: DataFrame): DataFrame =
    InteractionGraph.flatCounts(InteractionGraph.interactions(
      windowed.withColumn("author_id", scoped(col("author_id")))))
      .select(unscoped("author_id") ++ Seq(
        col("action"), col("screen_name"), col("n_interactions"),
        col("n_targets"), col("first_ts"), col("last_ts")): _*)

  /** Fold input: every tweet under the one channel key (the bolt had a
    * single global buffer), timed by `ts`, carrying `payload`. */
  private def foldEvents(norm: DataFrame, payload: Column) =
    PunctuationWindow.fromColumns(
      norm.withColumn("_wkey", lit("all")).withColumn("_payload", payload),
      "_wkey", "ts", "_payload")

  /** Batch window shell: the tweets of each flushed window as `(win,
    * <normalized tweet columns>)`. Tweets of the trailing unflushed
    * buffer are excluded, exactly like the reference (it never emits a
    * partial buffer). */
  private def batchWindows(tweets: DataFrame, windowMicros: Long): DataFrame = {
    val norm = TweetSource.normalized(tweets)
    // the window start crosses the join as a long and becomes `win`
    // after it: carried as a string through the join, the role-analysis
    // batch pass over streambench's input ran one more job and stage
    val members = PunctuationWindow.batch(foldEvents(norm, col("tweet_id")), windowMicros)
      .select(col("startMicros"), explode(col("payloads")).as("tweet_id"))
    norm.join(members, "tweet_id").select(
      col("startMicros").cast("string").as("win") +: norm.columns.map(col).toSeq: _*)
  }

  /** Stream window shell: the fold runs in flatMapGroupsWithState with
    * checkpointed state, and each non-empty micro-batch of flushed
    * windows goes through `body` as `(win, <normalized tweet columns>)`
    * into `sink`. The fold is not on [[graft.streaming.ValueFold]]: a
    * port measured on `role_stream` (5 pairs, 4 vCPU) cut drain msgs/s
    * 804 → 683 and raised lag p50 3614 → 4099 ms, and the open window's
    * state is due to be rebuilt anyway ([[PunctuationWindow]]). */
  private def streamWindows(tweets: DataFrame, windowMicros: Long,
      outDir: String, checkpoint: String)(body: DataFrame => DataFrame) = {
    val norm = TweetSource.normalized(tweets)
    val json = to_json(struct(norm.columns.map(col).toIndexedSeq: _*))
    sink(PunctuationWindow.streaming(foldEvents(norm, json), windowMicros).toDF(),
        outDir, checkpoint) { flushed =>
      body(flushed
        .select(col("startMicros"), explode(col("payloads")).as("json"))
        .select(col("startMicros").cast("string").as("win"),
          from_json(col("json"), norm.schema).as("t"))
        .select(col("win"), col("t.*")))
    }
  }

  /** The stream sink shell: each non-empty micro-batch goes through
    * `perBatch` and overwrites `outDir/batch=<id>`. foreachBatch is
    * at-least-once, so the write is addressed by batch id: replaying a
    * micro-batch after a restart rewrites its own directory instead of
    * appending duplicate rows. No cache cleanup is needed: every operator
    * on these paths bounds its own cache lifecycle, and a session-wide
    * clearCache() would evict caches belonging to OTHER workloads sharing
    * the session (sharedState is shared even across newSession()).
    * Caller starts the returned query. */
  private def sink(stream: DataFrame, outDir: String, checkpoint: String)(
      perBatch: DataFrame => DataFrame) =
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty)
          perBatch(batch).write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
      }

  /** roleAnalysisTopology: tweets → F1 → normalize → W1 windows → per-
    * window discussion trees (J4) → A3/A4/A5/A6 community roles.
    * Output: (window_start, user_id, role, postCount, ...). */
  def roleAnalysis(tweets: DataFrame, windowMicros: Long = 600000000L): DataFrame =
    roles(batchWindows(tweets, windowMicros))

  /** roleAnalysisTopology, streaming form — the reference's actual bolt
    * wiring. Its parquet sink keeps five of [[roleAnalysis]]'s columns:
    * (window_start, user_id, role, postCount, inDegreeRatio). */
  def roleAnalysisStream(tweets: DataFrame, windowMicros: Long,
      outDir: String, checkpoint: String) =
    streamWindows(tweets, windowMicros, outDir, checkpoint)(roles(_)
      .select("window_start", "user_id", "role", "postCount", "inDegreeRatio"))

  /** InteractionGraphBolt (implemented but never wired in the reference —
    * rebuilt as a first-class query): tweets → F1 → normalize → W1
    * windows → per-window (author, action) interaction summary. */
  def interactionGraph(tweets: DataFrame, windowMicros: Long = 600000000L): DataFrame =
    interactions(batchWindows(tweets, windowMicros))

  /** interactionGraph, streaming form; its parquet sink has
    * [[interactionGraph]]'s columns. */
  def interactionGraphStream(tweets: DataFrame, windowMicros: Long,
      outDir: String, checkpoint: String) =
    streamWindows(tweets, windowMicros, outDir, checkpoint)(interactions)

  /** locationTopicModelTopology: tweets → F1/F2 → language filter (F3) →
    * T2 stem/tokenize → T3 vocab index → M2 scoring → A9 top-K →
    * T5 "lon,lat" → F5 key pruning. `vocab` mirrors the pretrained
    * wordmap side input (S5); pass [[TopicModel.buildVocab]] output to
    * derive it from a corpus instead. */
  def locationTopicModel(tweets: DataFrame, vocab: DataFrame,
      numLocations: Int = 25, topK: Int = 5): DataFrame = {
    val norm = TweetSource.normalized(tweets)
      .filter(col("text").isNotNull) // F2
      .filter(graft.functions.TextFunctions.detectEnglish(col("text"))) // F3
    val indexed = TopicModel.indexDocs(norm, "tweet_id", "text", vocab, stem = true)
    val scored = TopicModel.scoreLocations(indexed, "tweet_id", numLocations)
    TopicModel.topLocations(scored, "tweet_id", topK)
      .select(col("tweet_id").as("itinno:item_id"), // F5 key pruning
        col("rank"), col("location"), col("probability"))
  }

  /** locationTopicModelTopology, streaming form: per-message indexing +
    * matrix scoring + top-k inside one UDF over broadcast vocab/model
    * (the reference scores each message independently, so the streaming
    * plan has NO stateful operator — pure append mode at source rate).
    * Works on batch frames too; pair with [[TweetSource.kafkaSink]] or
    * [[TweetSource.debugJsonSink]]. */
  def locationTopicModelPerMessage(tweets: DataFrame,
      vocab: Map[String, Long], model: TopicModel.GeoModel,
      topK: Int = 5): DataFrame = {
    val norm = TweetSource.normalized(tweets)
      .filter(col("text").isNotNull) // F2
      .filter(graft.functions.TextFunctions.detectEnglish(col("text"))) // F3
    TopicModel.locatePerMessage(norm, "tweet_id", "text", vocab, model, topK)
      .select(col("tweet_id").as("itinno:item_id"), // F5
        col("rank"), col("loc"), col("probability"))
  }

  /** lodExplorerTopology: geoparsed tweet locations → J1 owl:sameAs →
    * J2 property scan (F9) → T9 naive-Bayes relevance → J3 dereference →
    * T6 WKT output. Side inputs are snapshot triple tables (SURVEY §2.4).
    * `locations(tweet_id, lgd_uri)` carries each tweet's geoparse
    * candidates (the reference reads itinno:loc_set). */
  def lodExplorer(locations: DataFrame, sameAs: DataFrame,
      propTriples: DataFrame, placeTriples: DataFrame,
      nbCounts: DataFrame): DataFrame =
    lodExplorer(locations,
      graft.operators.SnapshotLodResolver(sameAs, propTriples, placeTriples),
      nbCounts)

  /** [[lodExplorer]] against a pluggable [[graft.operators.LodResolver]]
    * — the form a live-SPARQL deployment calls (SURVEY §7.3). */
  def lodExplorer(locations: DataFrame,
      resolver: graft.operators.LodResolver, nbCounts: DataFrame): DataFrame = {
    val linked = Lod.sameAsLookup(locations, "lgd_uri", resolver)
    val cands = Lod.placeCandidates(linked, "dbpedia_uri", resolver)
    val scored = Lod.nbRelevance(
      cands.select(col("tweet_id"), col("place"), explode(col("properties")).as("property")),
      Seq("tweet_id", "place"), nbCounts)
      .filter(col("accepted"))
    Lod.dereferencePlaces(scored, "place", resolver)
      .select(col("tweet_id"), col("place"), col("label"),
        graft.functions.TextFunctions.wktPointLatFirst(col("lat"), col("lon")).as("wkt"))
  }

  /** lodExplorerTopology, streaming form — the reference's actual shape
    * (LocationCrawlerBolt scores each tweet's locations as they arrive).
    * Every stage is stateless against static side inputs: the per-place
    * property aggregation moves to the static triples side
    * ([[Lod.placePropsStatic]]), relevance scores per row over the
    * property array ([[Lod.nbRelevancePerRow]], counts captured at
    * plan-build like the bolt's prepare()-time download), and the
    * dereference joins are stream-static broadcasts — so the plan runs
    * in append mode with NO stateful operator, on batch and streaming
    * `locations` frames alike. Bit-identical `accepted` decisions to
    * [[lodExplorer]] (same DECIMAL-quantized log terms). */
  def lodExplorerPerMessage(locations: DataFrame, sameAs: DataFrame,
      propTriples: DataFrame, placeTriples: DataFrame,
      nbCounts: DataFrame): DataFrame = {
    val linked = Lod.sameAsLookup(locations, "lgd_uri", sameAs)
    val cands = Lod.placeCandidatesStream(linked, "dbpedia_uri", propTriples)
    val scored = Lod.nbRelevancePerRow(cands, "properties", nbCounts)
      .filter(col("accepted"))
    Lod.dereferencePlaces(scored, "place", placeTriples)
      .select(col("tweet_id"), col("place"), col("label"),
        graft.functions.TextFunctions.wktPointLatFirst(col("lat"), col("lon")).as("wkt"))
  }

  /** Continuous training-data ingest (north-star composition, not a
    * reference topology): a stream of (doc_id, ts, text) documents →
    * watermark-bounded exact dedup (first arrival wins, state keyed by
    * text hash) → quality score + language ID annotations → quality
    * filter → `sink`. The annotations are pure per-row projections, no
    * join: a doc_id-keyed join back would cross-pair rows when a batch
    * carries two texts under one id, and would pay two shuffles per
    * micro-batch for per-row work. PII redaction runs LAST, on the
    * surviving rows only, and replaces the raw text at the sink boundary
    * (nothing unscrubbed lands in the training store). */
  def documentIngestStream(docs: DataFrame, outDir: String,
      checkpoint: String, watermark: String = "10 minutes") =
    sink(graft.pipeline.Dedup.exactStreaming(docs, "doc_id", "text", "ts", watermark),
        outDir, checkpoint) { batch =>
      graft.pipeline.Pii.withScrub(
        TextMetrics.withLanguage(
          TextMetrics.withQuality(batch.select("doc_id", "ts", "text"), "text"),
          "text")
          .filter(col("quality") > 0), "text")
        .withColumn("text", col("redacted")).drop("redacted")
    }
}
