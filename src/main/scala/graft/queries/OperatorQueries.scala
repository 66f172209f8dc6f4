package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{DiscussionTree, InteractionGraph, Lod, RoleAnalysis, TopicModel}
import graft.sources.{TrainerCorpus, TweetSource}
import graft.streaming.PunctuationWindow

/** Topology-operator queries (SURVEY.md §2): every reference operator
  * surfaced as a relational query over the synthetic test tables, with a
  * DuckDB oracle twin.
  *
  * The tweet-shaped inputs come from [[TweetSource.eventsAsTweetJson]] — a
  * deterministic events→Twitter-JSON adapter — so the full S1 ingest path
  * (JSON encode → from_json decode → F1/F6/F7 normalize → T1 timestamp
  * parse) runs end-to-end on driver data, and the oracles mirror the
  * adapter's arithmetic directly over `events`.
  */
object OperatorQueries {

  // Rides the shared raw-events scan (CoreQueries "evscan" family): the
  // tweet-adapter prefix and the punctuation window read the same parquet
  // the core event queries do.
  private def events(spark: SparkSession, dir: String): DataFrame =
    CoreQueries.eventsScan(spark, dir)
  private def docs(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")

  private def tsStr(c: Column): Column = CoreQueries.tsStr(c)
  private def tsStrMicros(c: Column): Column = CoreQueries.tsStrMicros(c)

  /** q12–q14 share one normalized-events relation and one rooted-nodes
    * relation, cached per (session, sf dir): the events → tweet-JSON →
    * from_json → normalize prefix and the pointer-doubling root resolution
    * each execute ONCE per session instead of once per query (and, inside
    * q14, once per self-join branch). At cluster scale this is the
    * difference between reading the events table 10+ times and reading it
    * once into executor-local cache. */
  private val shared =
    scala.collection.concurrent.TrieMap.empty[(String, String), DataFrame]

  /** Release shared caches whose tag starts with one of `prefixes` —
    * unpersist + drop the reference (for checkpointed frames unpersist is
    * a no-op and the dropped reference lets the ContextCleaner reclaim
    * the blocks). A session-lifetime cache is right for a real deployment
    * serving one query family, but a 70+-query sweep would otherwise hold
    * every family's cache simultaneously; Bench releases each family as
    * the sweep moves past its last consumer (SparkEntry.cacheFamilies). */
  private def release(prefixes: String*): Unit =
    shared.keys.toSeq.foreach { case k @ (_, tag) =>
      if (prefixes.exists(tag.startsWith))
        shared.remove(k).foreach { df =>
          try df.unpersist()
          catch { case scala.util.control.NonFatal(_) => () }
        }
    }

  /** Drop the normalized-events + rooted-nodes caches (q12–q14, q30, q35). */
  def releaseEventsCaches(): Unit = release("norm:", "rooted:")

  /** Drop the stemmed word-id index cache (q15, q31, q36). */
  def releaseStemIndexCache(): Unit = release("stemidx:")

  /** Trained geography centroids per (session, sf dir) — a driver-local
    * model-sized array (L×3 longs), the [[TopicModel.geoCentroids]]
    * artifact. The geography half of q135's model is deterministic in
    * the corpus and independent of the topic half, so re-running the
    * 5-round k-means on every trainer invocation (3 bench runs × every
    * sweep) bought nothing; the shared-cache discipline applies to it
    * exactly as to the DataFrame caches. */
  private val sharedGeoCents = scala.collection.concurrent.TrieMap
    .empty[(String, String), Array[Array[Long]]]

  /** Drop the trained-geography cache (q135). */
  def releaseGeoModelCache(): Unit = sharedGeoCents.clear()

  /** Shared-cache families owned by this object — consumers verified
    * against the empirical [[CacheRegistry]] touches by
    * CacheLifecycleSpec; Bench computes release positions from them. */
  def cacheFamilies: Map[String, CacheFamily] = Map(
    "events" -> CacheFamily(
      Set("q12_interaction_counts", "q13_tree_stats", "q14_roles",
        "q30_tree_assembly", "q35_interaction_graph", "q169_triangles",
        "q170_clustering", "q171_components", "q172_assortativity",
        "q181_common_neighbors", "q185_hop_distance"),
      () => releaseEventsCaches()),
    "stemidx" -> CacheFamily(
      Set("q15_topic_model", "q31_topic_model_matrix",
        "q36_topic_model_gibbs", "q135_topic_model_train"),
      () => releaseStemIndexCache()),
    "geomodel" -> CacheFamily(
      Set("q135_topic_model_train"),
      () => releaseGeoModelCache()))

  private def normalizedEvents(spark: SparkSession, dir: String): DataFrame = {
    CacheRegistry.touch("events")
    shared.getOrElseUpdate((spark.sparkContext.applicationId, s"norm:$dir"),
      TweetSource.normalizedFromEvents(events(spark, dir)).cache())
  }

  /** Rooted node relation shared by q13/q14 (J4 + pointer-doubling root
    * resolution over the events reply/retweet graph). withRoots returns
    * an eagerly checkpointed frame (materialized + lineage-truncated, its
    * internal caches released), so the role query's ~10 self-join
    * branches reference a flat LogicalRDD where the full pointer-doubling
    * lineage would make the plan exponential (see
    * [[DiscussionTree.withRoots]]). */
  private def rootedNodes(spark: SparkSession, dir: String): DataFrame = {
    CacheRegistry.touch("events")
    shared.getOrElseUpdate((spark.sparkContext.applicationId, s"rooted:$dir"),
      DiscussionTree.withRoots(
        DiscussionTree.nodes(normalizedEvents(spark, dir))))
  }

  /** Stemmed word-id index shared by q15/q31/q36 (same discipline as
    * [[normalizedEvents]]): the T2 tokenize→stopword→Porter-stem pass, the
    * T3 distributed vocab sort and the per-doc id-sequence groupBy run
    * ONCE per (session, sf dir) instead of once per query — and, inside
    * q15, once instead of twice (the count-batch branch and the scoring
    * branch both consume it). At cluster scale this is one corpus read
    * and one vocab shuffle instead of three of each. */
  private def stemmedIndex(spark: SparkSession, dir: String): DataFrame = {
    CacheRegistry.touch("stemidx")
    shared.getOrElseUpdate((spark.sparkContext.applicationId, s"stemidx:$dir"), {
      val d = docs(spark, dir)
      val vocab = TopicModel.buildVocab(d, "text", stem = true)
      TopicModel.indexDocs(d, "doc_id", "text", vocab, stem = true).cache()
    })
  }

  /** A2 — interaction-graph aggregate (flat counts form: portable across
    * engines where nested arrays are not). */
  def q12InteractionCounts(spark: SparkSession, dir: String): DataFrame = {
    val inter = InteractionGraph.interactions(normalizedEvents(spark, dir))
    InteractionGraph.flatCounts(inter)
      .select(col("author_id"), col("action"), col("screen_name"),
        col("n_interactions"), col("n_targets"),
        tsStr(col("first_ts")).as("first_ts"),
        tsStr(col("last_ts")).as("last_ts"))
      .orderBy(col("author_id"), col("action"))
  }

  /** A1/J4 — discussion-tree assembly: per-root size/depth stats after
    * pointer-doubling root resolution. */
  def q13TreeStats(spark: SparkSession, dir: String): DataFrame =
    DiscussionTree.treeStats(rootedNodes(spark, dir))
      .orderBy(col("root_id"))

  /** M4 = A4 features → A5 exact tertiles → A6 ordered role rules. */
  def q14Roles(spark: SparkSession, dir: String): DataFrame = {
    val nodes = rootedNodes(spark, dir)
      .select("node_id", "user_id", "parent_id", "root_id")
    RoleAnalysis.roles(nodes)
      .select(
        col("user_id"), col("postCount"), col("repliedPosts"),
        col("replyingUserCount"), col("neighbourCount"),
        col("bidirThreadCount"), col("bidirUserCount"), col("discussionCount"),
        col("inDegreeRatio"), col("postsReplyRatio"),
        col("bidirNeighbourRatio"), col("bidirThreadRatio"),
        col("avgPostPerThread"), col("stddevPostsPerThread"),
        col("lvl_inDegreeRatio"), col("lvl_postsReplyRatio"),
        col("lvl_bidirNeighbourRatio"), col("lvl_bidirThreadRatio"),
        col("lvl_avgPostPerThread"), col("lvl_stddevPostsPerThread"),
        col("lvl_threadInitiationRatio"), col("role"))
      .orderBy(col("user_id"))
  }

  /** T2/T3 + A8 + M2 + A9 + T5 — topic-model pipeline: stemmed corpus
    * vocab → word-id indexing → count-5 micro-batches → deterministic
    * location scoring → per-doc top-5 with the "lon,lat" string. */
  def q15TopicModel(spark: SparkSession, dir: String): DataFrame = {
    val indexed = stemmedIndex(spark, dir)
    val batches = TopicModel.withCountBatches(
      indexed.select(col("doc_id")), "doc_id")
    val scored = TopicModel.scoreLocations(indexed, "doc_id", numLocations = 25)
    TopicModel.topLocations(scored, "doc_id", k = 5)
      .join(batches, "doc_id")
      .select(col("doc_id"), col("batch_id"),
        col("rank").cast("long").as("rank"), col("loc"),
        col("location"), col("score"), col("probability"))
      .orderBy(col("doc_id"), col("rank"))
  }

  /** J1 + J2/F9 + J3 + T6 — the full LOD enrichment chain: customer
    * nations → owl:sameAs lookup → property scan for URI-valued candidate
    * places (literal-valued triples filtered by F9) → coordinate/label
    * dereference (with a non-English label the LANGMATCHES filter must
    * skip) → WKT output. Triple tables derive deterministically from
    * nation (the snapshot-side-input model of SURVEY §2.4; integer-valued
    * coordinates keep string formatting engine-portable). */
  def q16LodEnrich(spark: SparkSession, dir: String): DataFrame = {
    val n = Tables.load(spark, dir, "nation")
    val dbpUri = concat(lit("dbp:"), lower(regexp_replace(col("n_name"), " ", "_")))
    val sameAs = n.select(dbpUri.as("subject"),
      concat(lit("lgd:"), col("n_nationkey")).as("object"))
    // J2 input: two URI-valued place links per nation + one literal
    // property that F9 must drop. One explode per source table instead of
    // an 8-branch union — one nation scan, one pids scan, not seven.
    val propTriples = n
      .select(dbpUri.as("subject"), explode(array(
        struct(lit("p:near").as("predicate"),
          concat(lit("plc:"), (col("n_nationkey") * 2 + 1) % 30).as("object"),
          lit(true).as("object_is_uri")),
        struct(lit("p:in").as("predicate"),
          concat(lit("plc:"), (col("n_nationkey") * 3 + 2) % 30).as("object"),
          lit(true).as("object_is_uri")),
        struct(lit("p:name").as("predicate"), col("n_name").as("object"),
          lit(false).as("object_is_uri")))).as("t"))
      .select(col("subject"), col("t.predicate"), col("t.object"),
        col("t.object_is_uri"))
    // J3 input: per-place coordinates + English and German labels (the
    // lang filter must keep only @en)
    val pids = n
      .select(explode(array((col("n_nationkey") * 2 + 1) % 30,
        (col("n_nationkey") * 3 + 2) % 30)).as("pid"))
      .distinct()
    val placeUri = concat(lit("plc:"), col("pid"))
    val nullTag = lit(null).cast("string")
    val placeTriples = pids
      .select(placeUri.as("subject"), explode(array(
        struct(lit("geo:lat").as("predicate"),
          (col("pid") * 5 - 40).cast("string").as("object"),
          nullTag.as("lang_tag")),
        struct(lit("geo:long").as("predicate"),
          (col("pid") * 9 - 100).cast("string").as("object"),
          nullTag.as("lang_tag")),
        struct(lit("rdfs:label").as("predicate"),
          concat(lit("Place "), col("pid")).as("object"),
          lit("en").as("lang_tag")),
        struct(lit("rdfs:label").as("predicate"),
          concat(lit("Ort "), col("pid")).as("object"),
          lit("de").as("lang_tag")))).as("t"))
      .select(col("subject"), col("t.predicate"), col("t.object"),
        col("t.lang_tag"))
    val locs = Tables.load(spark, dir, "customer")
      .select(col("c_nationkey")).distinct()
      .withColumn("lgd_uri", concat(lit("lgd:"), col("c_nationkey")))
    val resolver = graft.operators.SnapshotLodResolver(
      sameAs, propTriples, placeTriples)
    val linked = Lod.sameAsLookup(locs, "lgd_uri", resolver)
    val cands = Lod.placeCandidates(linked, "dbpedia_uri", resolver)
    Lod.dereferencePlaces(cands, "place", resolver)
      .select(col("c_nationkey"), col("dbpedia_uri"), col("place"),
        array_join(array_sort(col("properties")), ",").as("properties"),
        col("lat").cast("long").as("lat"), col("lon").cast("long").as("lon"),
        col("label"),
        graft.functions.TextFunctions.wktPointLatFirst(col("lat"), col("lon")).as("wkt"))
      .orderBy(col("c_nationkey"), col("place"))
  }

  /** T9 — naive-Bayes relevance over candidate property lists; counts
    * table derived from region, candidates + properties from supplier key
    * arithmetic. */
  def q17NbRelevance(spark: SparkSession, dir: String): DataFrame = {
    val r = Tables.load(spark, dir, "region")
    val counts = r.select(
      element_at(
        array(lit("p:a"), lit("p:b"), lit("p:c"), lit("p:d"), lit("total")),
        (col("r_regionkey") + 1).cast("int")).as("property"),
      ((col("r_regionkey") + 2) * 3).cast("double").as("rel"),
      (col("r_regionkey") + 2).cast("double").as("irrel"))
    val s = Tables.load(spark, dir, "supplier")
    val props = Seq(("p:a", 2), ("p:b", 3), ("p:c", 5), ("p:x", 7))
      .map { case (p, m) =>
        s.filter(col("s_suppkey") % m === 0)
          .select(col("s_suppkey"), lit(p).as("property"))
      }.reduce(_ unionByName _)
    Lod.nbRelevance(props, Seq("s_suppkey"), counts)
      .select(col("s_suppkey"), col("n_known_props"),
        round(col("log_pos"), 6).cast("double").as("log_pos"),
        round(col("log_neg"), 6).cast("double").as("log_neg"),
        col("accepted"))
      .orderBy(col("s_suppkey"))
  }

  /** W1/W2/W3 — the reference's first-event-aligned punctuation windows
    * (batch parity mode) over events keyed by user. */
  def q18PunctuationWindow(spark: SparkSession, dir: String): DataFrame = {
    val ev = PunctuationWindow.fromColumns(
      events(spark, dir), "user_id", "ts", "event_id")
    // count-only fold (r20): this query never reads `payloads`, so the
    // full fold built and dropped a per-window event list — identical
    // window boundaries by construction (the flush rule reads only
    // timestamps; PunctuationWindowSpec pins counts ≡ full fold)
    PunctuationWindow.batchCounts(ev, lengthMicros = 600000000L)
      .select(col("key"),
        tsStrMicros(col("window_start")).as("window_start"),
        tsStrMicros(col("window_end")).as("window_end"),
        col("n_events"))
      .orderBy(col("key"), col("window_start"))
  }

  /** A1 — nested-JSON discussion-tree assembly: one row per root carrying
    * the reference's recursive Tweet JSON (DiscussionTreeBolt.java:189-200),
    * children ordered by (ts, node_id) — SURVEY's determinism rule. The
    * oracle rebuilds the exact JSON bytes level by level (max depth 4 in
    * the driver data; both sides bound at 6). */
  def q30TreeAssembly(spark: SparkSession, dir: String): DataFrame =
    DiscussionTree.assembleTrees(rootedNodes(spark, dir), maxDepth = 6)
      .select(col("root_id"), tsStr(col("ts")).as("root_ts"), col("tree_json"))
      .orderBy(col("root_id"))

  /** Fixture [[TopicModel.GeoModel]]: integer-valued matrices (exact in
    * doubles, so scoring sums are order-independent and the oracle can be
    * pure SQL arithmetic) with Cartesian qm rows exercising toSpherical. */
  def fixtureGeoModel: TopicModel.GeoModel = {
    val K = 8; val L = 25; val V = 256
    TopicModel.GeoModel(
      topicWord = Array.tabulate(K, V)((k, v) => ((k * 31 + v * 17) % 89 + 1).toDouble),
      pi0Alpha = Array.tabulate(L)(l => (l % 7 + 1).toDouble),
      pisetasum = Array.tabulate(L, K)((l, k) => ((l * 5 + k * 3) % 23 + 1).toDouble),
      qm = Array.tabulate(L)(l => Array(
        ((l * 2 + 1) % 7 - 3).toDouble,
        ((l * 3 + 2) % 11 - 5).toDouble,
        ((l * 5 + 3) % 13 - 6).toDouble)))
  }

  /** M2 (model-matrix path) — scoring against the broadcast
    * topic_word/pi0Alpha/pisetasum matrices with toSpherical qm
    * coordinates on the output; same stemmed index as q15, per-doc top-5. */
  def q31TopicModelMatrix(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val indexed = stemmedIndex(spark, dir)
    val model = fixtureGeoModel
    val scored = TopicModel.scoreLocationsModel(indexed, "doc_id", model)
    val w = Window.partitionBy("doc_id")
      .orderBy(col("probability").desc, col("loc").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 5)
      .join(broadcast(TopicModel.modelLocations(spark, model)), "loc")
      .select(col("doc_id"), col("rank"), col("loc"), col("lat"), col("lon"),
        col("score"), col("probability"))
      .orderBy(col("doc_id"), col("rank"))
  }

  /** M2 (seeded-Gibbs) — stochastic inference against the same broadcast
    * matrices, RNG seeded per doc. Not SQL-expressible (no oracle entry →
    * the driver records a rows-only check); determinism is pinned by
    * TopicModelSpec. */
  def q36TopicModelGibbs(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val indexed = stemmedIndex(spark, dir)
    val scored = TopicModel.scoreLocationsGibbs(indexed, "doc_id", fixtureGeoModel)
    val w = Window.partitionBy("doc_id")
      .orderBy(col("probability").desc, col("loc").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 5)
      .select(col("doc_id"), col("rank"), col("loc"), col("score"),
        col("probability"))
      .orderBy(col("doc_id"), col("rank"))
  }

  /** A2 (verbose + flat array forms) — the interaction graph's nested
    * outputs: per (author, action) the full timestamped interaction list
    * as JSON (arrays hash differently across engines; JSON strings do
    * not) and the sorted distinct target set. Timestamps are
    * pre-formatted so the struct sort and the JSON bytes are
    * engine-portable. */
  def q35InteractionGraph(spark: SparkSession, dir: String): DataFrame = {
    val inter = InteractionGraph.interactions(normalizedEvents(spark, dir))
      .withColumn("ts", tsStr(col("ts")))
    val verbose = InteractionGraph.verboseGraph(inter)
      .select(col("author_id"), col("action"),
        to_json(col("interactions")).as("verbose_json"))
    val flat = InteractionGraph.flatGraph(inter)
      .select(col("author_id"), col("action"),
        array_join(col("targets"), ",").as("targets"))
    verbose.join(flat, Seq("author_id", "action"))
      .orderBy(col("author_id"), col("action"))
  }

  /** S7/F4/A10 — the trainer's corpus-build path over the documents
    * table: deterministic per-doc coordinates (some zero, so the F4
    * filter drops real rows) → T4 token cleanup → "lat lon text" lines
    * with the count header as row 0. The zip-archive scan itself (S7's
    * IO half) is covered by TrainerCorpusSpec with real zip fixtures —
    * parquet test tables can't carry zips. */
  def q32TrainerCorpus(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.TrainerCorpus
    val d = docs(spark, dir).select(col("doc_id"),
      ((col("doc_id") * 3) % 181 - 90).as("lat"),
      ((col("doc_id") * 7) % 361 - 180).as("lon"),
      TrainerCorpus.cleanText(col("text")).as("txt"))
    val g = TrainerCorpus.geoFilter(d, "lat", "lon")
    TrainerCorpus.corpusWithHeader(
      g.select(col("doc_id"),
        concat_ws(" ", col("lat"), col("lon"), col("txt")).as("line")),
      "doc_id")
      .orderBy(col("seq"))
  }

  /** M3 — the geographic topic-model TRAINER (the last reference
    * capability, `LocationTopicModelTrainer.java:261-278`): learn a
    * [[TopicModel.GeoModel]] on the q32 geo corpus (deterministic
    * lat/lon + the shared stemmed word-id index) at toy hyperparameters
    * (K=4 topics, L=5 locations, 3 Gibbs sweeps — the reference's
    * L=849/niters=200 operating point scales by config, not code) and
    * dump the learned matrices relationally. Iterative + stochastic
    * (seeded) → no SQL oracle (rows-only check, the q36/q71 contract);
    * TopicModelTrainerSpec pins an sf0.001 golden hash, partitioning
    * invariance, and the round-trip into q31's scorer. */
  def q135TopicModelTrain(spark: SparkSession, dir: String): DataFrame = {
    val corpus = stemmedIndex(spark, dir)
      .select(col("doc_id"),
        ((col("doc_id") * 3) % 181 - 90).as("lat"),
        ((col("doc_id") * 7) % 361 - 180).as("lon"),
        col("word_ids"))
    val geo = TrainerCorpus.geoFilter(corpus, "lat", "lon")
      .filter(size(col("word_ids")) > 0) // F8
    // The geography half (5-round seeded k-means) is deterministic in
    // (corpus, L) and independent of the topic half — train it once per
    // (session, dir) and reuse (bit-identical by construction;
    // TopicModelTrainerSpec pins it).
    CacheRegistry.touch("geomodel")
    val cents = sharedGeoCents.getOrElseUpdate(
      (spark.sparkContext.applicationId, dir),
      TopicModel.geoCentroids(geo, numLocations = 5))
    // countsVia default = "join" (deliberate): the benched number
    // should quote the 100-TB path. Measured at sf0.1 (min-of-3):
    // join 6.81 s vs broadcast 5.32 s — 1.28×, within the accepted bar;
    // the join sweep never materializes K×V anywhere, so it is the form
    // that survives a production vocabulary. Outputs are bit-identical
    // (TopicModelTrainerSpec).
    val model = TopicModel.trainGeoModel(geo,
      numTopics = 4, numLocations = 5, iters = 3, countsVia = "join",
      centroids = Some(cents))
    TopicModel.modelMatrices(spark, model)
      .withColumn("value", round(col("value").cast("decimal(28,10)"), 6)
        .cast("double"))
      .orderBy(col("matrix"), col("i"), col("j"))
  }

  /** Per-user triangle participation over the undirected interaction
    * graph ([[InteractionGraph.triangleCounts]], degree-oriented
    * exactly-once enumeration). Rides the shared normalized-events
    * cache — the OPPOSITE call from q168's cache bypass, deliberately:
    * [[InteractionGraph.interactions]] fans three branches over its
    * input, so an uncached q169 replays the ~3 s tweet-adapter
    * normalize pass three times per run (measured 9.2 s/run at sf0.1
    * vs ~1.5 s warm), while the norm cache it extends is tens of MB.
    * Residency-vs-recompute cuts the other way when the saved pass is
    * seconds, not a footer read. The oracle enumerates triangles by ID
    * order — a different orientation of the same graph. */
  def q169Triangles(spark: SparkSession, dir: String): DataFrame =
    InteractionGraph.triangleCounts(
        InteractionGraph.interactions(normalizedEvents(spark, dir)))
      .orderBy(col("user_id"))

  /** Local clustering coefficient per user
    * ([[InteractionGraph.clusteringCoefficients]]): closed wedges over
    * possible wedges, exact integer registers + one rounded IEEE
    * divide; every deg ≥ 2 vertex reported, zero-triangle users
    * included. Rides the same norm-events cache as q169. */
  def q170Clustering(spark: SparkSession, dir: String): DataFrame =
    InteractionGraph.clusteringCoefficients(
        InteractionGraph.interactions(normalizedEvents(spark, dir)))
      .orderBy(col("user_id"))

  /** Connected components over the undirected interaction graph
    * ([[InteractionGraph.connectedComponents]], large-star/small-star —
    * the O(log²)-round device for unbounded-diameter graphs, vs the
    * neighbor-min O(diameter) loop the near-dup clusterer uses on its
    * shallow duplicate graph). Per-user component = min id in the
    * component; the oracle computes the same labels by a recursive
    * reachability walk — a completely different mechanism. Rides the
    * shared norm-events cache like q169/q170. */
  def q171Components(spark: SparkSession, dir: String): DataFrame =
    InteractionGraph.connectedComponents(
        InteractionGraph.interactions(normalizedEvents(spark, dir)))
      .orderBy(col("user_id"))

  /** Degree assortativity of the interaction graph
    * ([[InteractionGraph.degreeAssortativity]]): exact int64 degree
    * registers over the 2m directed endpoint pairs + one rounded IEEE
    * divide (no sqrt — the symmetric-form cancellation). One row. */
  def q172Assortativity(spark: SparkSession, dir: String): DataFrame =
    InteractionGraph.degreeAssortativity(
        InteractionGraph.interactions(normalizedEvents(spark, dir)))

  /** Common-neighbor link prediction over the interaction graph
    * ([[InteractionGraph.commonNeighborRecs]]): top-5 non-neighbors by
    * shared-partner count per user — triadic-closure recommendations;
    * the oracle recomputes the wedge counts by direct SQL self-joins.
    *
    * maxHubDegree=64 engages the operator's super-node guard: this
    * graph is bimodal — ~98% of vertices sit at degree ~27 while the
    * hub cluster's degree GROWS with corpus size (deg ~149 at sf0.01,
    * ~1477 at sf0.1 — unbounded at scale), so the uncapped wedge join
    * is quadratic in the corpus (measured 32.5 s vs 1.3 s at sf0.1,
    * a 55× Σdeg² cut). The cap is an absolute production constant,
    * mirrored degree-for-degree in the oracle. */
  def q181CommonNeighbors(spark: SparkSession, dir: String): DataFrame =
    InteractionGraph.commonNeighborRecs(
        InteractionGraph.interactions(normalizedEvents(spark, dir)),
        maxHubDegree = 64)
      .orderBy(col("user_id"), col("rank"))

  /** Multi-source BFS hop distance from the 3 highest-degree users
    * ([[InteractionGraph.hopDistances]], frontier expansion with the
    * two-frontier dedup invariant): every vertex's network distance to
    * its nearest hub, NULL = outside the 20-hop neighborhood. The
    * oracle walks the same graph by a recursive (node, hops)
    * enumeration capped at the same bound — path-style, a completely
    * different mechanism that only agrees if the frontier dedup is
    * exactly right. */
  def q185HopDistance(spark: SparkSession, dir: String): DataFrame =
    InteractionGraph.hopDistances(
        InteractionGraph.interactions(normalizedEvents(spark, dir)))
      .orderBy(col("user_id"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q185_hop_distance" -> q185HopDistance,
    "q169_triangles" -> q169Triangles,
    "q170_clustering" -> q170Clustering,
    "q171_components" -> q171Components,
    "q172_assortativity" -> q172Assortativity,
    "q181_common_neighbors" -> q181CommonNeighbors,
    "q12_interaction_counts" -> q12InteractionCounts,
    "q13_tree_stats" -> q13TreeStats,
    "q14_roles" -> q14Roles,
    "q15_topic_model" -> q15TopicModel,
    "q16_lod_enrich" -> q16LodEnrich,
    "q17_nb_relevance" -> q17NbRelevance,
    "q18_punctuation_window" -> q18PunctuationWindow,
    "q30_tree_assembly" -> q30TreeAssembly,
    "q31_topic_model_matrix" -> q31TopicModelMatrix,
    "q32_trainer_corpus" -> q32TrainerCorpus,
    "q35_interaction_graph" -> q35InteractionGraph,
    "q36_topic_model_gibbs" -> q36TopicModelGibbs,
    "q135_topic_model_train" -> q135TopicModelTrain)

  /** Oracle mirror of [[TweetSource.eventsAsTweetJson]]: the events table
    * reinterpreted as tweets (second-truncated timestamps — the Twitter
    * format carries no sub-second precision). `live` drops the adapter's
    * synthetic Twitter DELETE messages exactly like the F1 filter. */
  private val eventsCte =
    """WITH e AS (
      |  SELECT event_id, user_id::VARCHAR AS author_id,
      |    date_trunc('second', ts::TIMESTAMP) AS ts, event_type,
      |    nullif(regexp_extract(props, '"k"\s*:\s*(\d+)', 1), '')::BIGINT AS k
      |  FROM events),
      |live AS (
      |  SELECT * FROM e
      |  WHERE NOT (event_type = 'view' AND k IS NOT NULL AND k % 13 = 9))"""
      .stripMargin

  /** Oracle mirror of [[InteractionGraph.interactions]] over the tweet
    * adapter: the three interaction branches (replies, double mentions,
    * retweets) as a UNION ALL — shared by q12 and the q169 triangle
    * oracle. */
  private val interCte =
    s"""$eventsCte,
       |inter AS (
       |  SELECT author_id, 'replied_to' AS action,
       |    (CASE WHEN k % 10 = 7 THEN 100 + k % 25
       |     ELSE k % 25 END)::VARCHAR AS target, ts
       |  FROM live WHERE event_type IN ('signup','error') AND k IS NOT NULL AND k < event_id
       |  UNION ALL
       |  SELECT author_id, 'mentioned', (k % 25)::VARCHAR, ts
       |  FROM live WHERE event_type IN ('click','view') AND k IS NOT NULL
       |  UNION ALL
       |  SELECT author_id, 'mentioned', ((k * 3 + 1) % 25)::VARCHAR, ts
       |  FROM live WHERE event_type IN ('click','view') AND k IS NOT NULL
       |  UNION ALL
       |  SELECT author_id, 'retweeted', (k % 25)::VARCHAR, ts
       |  FROM live WHERE event_type = 'purchase' AND k IS NOT NULL AND k < event_id)"""
      .stripMargin

  /** Node relation incl. J4 dummy-root synthesis: parents absent from the
    * observed set (deleted tweets, or the adapter's explicit orphan
    * targets) become unobserved roots authored by min(reply-to user) —
    * string min, matching [[DiscussionTree.nodes]]. Dummies created only
    * by retweets carry a NULL author (the reference reads the reply-to
    * fields, which retweets don't set). */
  private val nodesCte =
    s"""$eventsCte,
       |obs AS (
       |  SELECT event_id::VARCHAR AS node_id, author_id AS user_id,
       |    CASE WHEN event_type IN ('signup','error') AND k IS NOT NULL
       |             AND k < event_id
       |           THEN (CASE WHEN k % 10 = 7 THEN k + 2000000000
       |                 ELSE k END)::VARCHAR
       |         WHEN event_type = 'purchase' AND k IS NOT NULL
       |             AND k < event_id
       |           THEN k::VARCHAR END AS parent_id,
       |    CASE WHEN event_type IN ('signup','error') AND k IS NOT NULL
       |             AND k < event_id
       |         THEN (CASE WHEN k % 10 = 7 THEN 100 + k % 25
       |               ELSE k % 25 END)::VARCHAR END AS reply_user,
       |    TRUE AS observed
       |  FROM live),
       |dummies AS (
       |  SELECT o.parent_id AS node_id, min(o.reply_user) AS user_id,
       |    NULL::VARCHAR AS parent_id, FALSE AS observed
       |  FROM obs o
       |  WHERE o.parent_id IS NOT NULL
       |    AND NOT EXISTS (SELECT 1 FROM obs i WHERE i.node_id = o.parent_id)
       |  GROUP BY o.parent_id),
       |nodes AS (
       |  SELECT node_id, user_id, parent_id, observed FROM obs
       |  UNION ALL
       |  SELECT node_id, user_id, parent_id, observed FROM dummies),
       |walk AS (
       |  SELECT node_id, node_id AS cur, parent_id AS nxt, 0::BIGINT AS depth
       |  FROM nodes
       |  UNION ALL
       |  SELECT w.node_id, n.node_id, n.parent_id, w.depth + 1
       |  FROM walk w JOIN nodes n ON w.nxt = n.node_id),
       |rooted AS (
       |  SELECT n.node_id, n.user_id, n.parent_id, n.observed,
       |    w.cur AS root_id, w.depth
       |  FROM nodes n JOIN walk w ON w.node_id = n.node_id AND w.nxt IS NULL)"""
      .stripMargin

  private val rolesFeatureCte =
    s"""WITH RECURSIVE ${nodesCte.stripPrefix("WITH ")},
       |base AS (SELECT node_id, user_id, parent_id, root_id FROM rooted),
       |n1 AS (
       |  SELECT b.node_id, b.user_id, b.parent_id, b.root_id,
       |    pa.user_id AS parent_author
       |  FROM base b LEFT JOIN base pa ON b.parent_id = pa.node_id),
       |ed AS (
       |  SELECT c.user_id AS child_author, p.node_id AS p_nid,
       |    p.user_id AS p_uid, p.parent_author AS p_grandp,
       |    p.parent_id AS p_parent
       |  FROM n1 c JOIN n1 p ON c.parent_id = p.node_id),
       |tot AS (SELECT count(DISTINCT user_id) AS total_users FROM base),
       |posts AS (SELECT user_id, count(*) AS postCount FROM base GROUP BY 1),
       |replied AS (
       |  SELECT p_uid AS user_id, count(DISTINCT p_nid) AS repliedPosts,
       |    count(DISTINCT child_author) AS replyingUserCount
       |  FROM ed GROUP BY 1),
       |bidir AS (
       |  SELECT p_uid AS user_id, count(DISTINCT p_nid) AS bidirThreadCount,
       |    count(DISTINCT p_grandp) AS bidirUserCount
       |  FROM ed WHERE child_author = p_grandp GROUP BY 1),
       |neigh AS (
       |  SELECT user_id, count(DISTINCT x) AS neighbourCount FROM (
       |    SELECT p_uid AS user_id, child_author AS x FROM ed
       |    UNION ALL
       |    SELECT p_uid, p_grandp FROM ed WHERE p_parent IS NOT NULL)
       |  GROUP BY 1),
       |tsz AS (SELECT root_id, count(*) AS tree_size FROM base GROUP BY 1),
       |ut AS (
       |  SELECT user_id, count(*) AS discussionCount,
       |    sum(tree_size)::BIGINT AS sumSize,
       |    sum(tree_size * tree_size)::BIGINT AS sumSize2
       |  FROM (SELECT DISTINCT user_id, root_id FROM base) d
       |  JOIN tsz USING (root_id) GROUP BY 1),
       |feats AS (
       |  SELECT p.user_id, p.postCount,
       |    coalesce(r.repliedPosts, 0) AS repliedPosts,
       |    coalesce(r.replyingUserCount, 0) AS replyingUserCount,
       |    coalesce(ng.neighbourCount, 0) AS neighbourCount,
       |    coalesce(bd.bidirThreadCount, 0) AS bidirThreadCount,
       |    coalesce(bd.bidirUserCount, 0) AS bidirUserCount,
       |    coalesce(u.discussionCount, 0) AS discussionCount,
       |    coalesce(r.replyingUserCount, 0)::DOUBLE / t.total_users::DOUBLE
       |      AS inDegreeRatio,
       |    CASE WHEN p.postCount > 0 THEN
       |      coalesce(r.repliedPosts, 0)::DOUBLE / p.postCount::DOUBLE
       |      ELSE 0.0 END AS postsReplyRatio,
       |    0.0 AS threadInitiationRatio,
       |    CASE WHEN coalesce(ng.neighbourCount, 0) > 0 THEN
       |      coalesce(bd.bidirUserCount, 0)::DOUBLE / ng.neighbourCount::DOUBLE
       |      ELSE 0.0 END AS bidirNeighbourRatio,
       |    CASE WHEN p.postCount > 0 THEN
       |      coalesce(bd.bidirThreadCount, 0)::DOUBLE / p.postCount::DOUBLE
       |      ELSE 0.0 END AS bidirThreadRatio,
       |    CASE WHEN coalesce(u.discussionCount, 0) > 0 THEN
       |      u.sumSize::DOUBLE / u.discussionCount::DOUBLE
       |      ELSE 0.0 END AS avgPostPerThread,
       |    CASE WHEN coalesce(u.discussionCount, 0) >= 2 THEN
       |      sqrt((u.discussionCount * u.sumSize2 - u.sumSize * u.sumSize)::DOUBLE
       |        / (u.discussionCount * (u.discussionCount - 1))::DOUBLE)
       |      ELSE 0.0 END AS stddevPostsPerThread
       |  FROM posts p CROSS JOIN tot t
       |  LEFT JOIN replied r ON r.user_id = p.user_id
       |  LEFT JOIN bidir bd ON bd.user_id = p.user_id
       |  LEFT JOIN neigh ng ON ng.user_id = p.user_id
       |  LEFT JOIN ut u ON u.user_id = p.user_id
       |  WHERE p.postCount >= 1),
       |melt AS (
       |  SELECT user_id, 'avgPostPerThread' AS feature, avgPostPerThread AS value FROM feats
       |  UNION ALL SELECT user_id, 'bidirNeighbourRatio', bidirNeighbourRatio FROM feats
       |  UNION ALL SELECT user_id, 'bidirThreadRatio', bidirThreadRatio FROM feats
       |  UNION ALL SELECT user_id, 'inDegreeRatio', inDegreeRatio FROM feats
       |  UNION ALL SELECT user_id, 'postsReplyRatio', postsReplyRatio FROM feats
       |  UNION ALL SELECT user_id, 'stddevPostsPerThread', stddevPostsPerThread FROM feats
       |  UNION ALL SELECT user_id, 'threadInitiationRatio', threadInitiationRatio FROM feats),
       |ranked AS (
       |  SELECT user_id, feature, value,
       |    row_number() OVER (PARTITION BY feature ORDER BY value) AS rn,
       |    count(*) OVER (PARTITION BY feature) AS n
       |  FROM melt),
       |bounds AS (
       |  SELECT feature,
       |    (max(CASE WHEN rn = least(n // 3 + 1, n) THEN value END)
       |     + max(CASE WHEN rn = least(n // 3 + 2, n) THEN value END)) / 2.0
       |      AS low_mid,
       |    (max(CASE WHEN rn = least((2 * n) // 3 + 1, n) THEN value END)
       |     + max(CASE WHEN rn = least((2 * n) // 3 + 2, n) THEN value END)) / 2.0
       |      AS mid_high
       |  FROM ranked GROUP BY feature),
       |lv AS (
       |  SELECT m.user_id, m.feature,
       |    CASE WHEN m.value <= b.low_mid THEN 'low'
       |      WHEN m.value <= b.mid_high THEN 'med'
       |      ELSE 'high' END AS level
       |  FROM melt m JOIN bounds b USING (feature)),
       |piv AS (
       |  SELECT user_id,
       |    max(CASE WHEN feature = 'inDegreeRatio' THEN level END) AS lvl_inDegreeRatio,
       |    max(CASE WHEN feature = 'postsReplyRatio' THEN level END) AS lvl_postsReplyRatio,
       |    max(CASE WHEN feature = 'bidirNeighbourRatio' THEN level END) AS lvl_bidirNeighbourRatio,
       |    max(CASE WHEN feature = 'bidirThreadRatio' THEN level END) AS lvl_bidirThreadRatio,
       |    max(CASE WHEN feature = 'avgPostPerThread' THEN level END) AS lvl_avgPostPerThread,
       |    max(CASE WHEN feature = 'stddevPostsPerThread' THEN level END) AS lvl_stddevPostsPerThread,
       |    max(CASE WHEN feature = 'threadInitiationRatio' THEN level END) AS lvl_threadInitiationRatio
       |  FROM lv GROUP BY user_id)""".stripMargin

  /** Extended node relation for the tree-assembly oracle: same dummy
    * synthesis as [[nodesCte]] plus screen_name / ts / retweet (the
    * columns the nested JSON serializes). */
  private val fullNodesCte =
    s"""$eventsCte,
       |obs AS (
       |  SELECT event_id::VARCHAR AS node_id, author_id AS user_id,
       |    'u' || author_id AS screen_name, ts,
       |    CASE WHEN event_type IN ('signup','error') AND k IS NOT NULL
       |             AND k < event_id
       |           THEN (CASE WHEN k % 10 = 7 THEN k + 2000000000
       |                 ELSE k END)::VARCHAR
       |         WHEN event_type = 'purchase' AND k IS NOT NULL
       |             AND k < event_id
       |           THEN k::VARCHAR END AS parent_id,
       |    CASE WHEN event_type IN ('signup','error') AND k IS NOT NULL
       |             AND k < event_id
       |         THEN (CASE WHEN k % 10 = 7 THEN 100 + k % 25
       |               ELSE k % 25 END)::VARCHAR END AS reply_user,
       |    (event_type = 'purchase' AND k IS NOT NULL AND k < event_id)
       |      AS retweet,
       |    TRUE AS observed
       |  FROM live),
       |dummies AS (
       |  SELECT o.parent_id AS node_id, min(o.reply_user) AS user_id,
       |    CASE WHEN min(o.reply_user) IS NOT NULL
       |         THEN 'u ' || min(o.reply_user) END AS screen_name,
       |    NULL::TIMESTAMP AS ts, NULL::VARCHAR AS parent_id,
       |    NULL::VARCHAR AS reply_user, FALSE AS retweet, FALSE AS observed
       |  FROM obs o
       |  WHERE o.parent_id IS NOT NULL
       |    AND NOT EXISTS (SELECT 1 FROM obs i WHERE i.node_id = o.parent_id)
       |  GROUP BY o.parent_id),
       |nodes AS (
       |  SELECT * FROM obs UNION ALL SELECT * FROM dummies),
       |walk AS (
       |  SELECT node_id, node_id AS cur, parent_id AS nxt, 0::BIGINT AS depth
       |  FROM nodes
       |  UNION ALL
       |  SELECT w.node_id, n.node_id, n.parent_id, w.depth + 1
       |  FROM walk w JOIN nodes n ON w.nxt = n.node_id),
       |fn AS (
       |  SELECT n.node_id, n.parent_id, n.ts, w.depth,
       |    '{'
       |    || CASE WHEN n.user_id IS NOT NULL
       |         THEN '"author_id":"' || n.user_id || '",' ELSE '' END
       |    || CASE WHEN n.screen_name IS NOT NULL
       |         THEN '"author_screen_name":"' || n.screen_name || '",' ELSE '' END
       |    || '"tweet_id":"' || n.node_id || '",'
       |    || CASE WHEN n.ts IS NOT NULL
       |         THEN '"timestamp":"' || strftime(n.ts, '%Y-%m-%dT%H:%M:%SZ') || '",'
       |         ELSE '' END
       |    || CASE WHEN n.parent_id IS NOT NULL
       |         THEN '"in_reply_to":"' || n.parent_id || '",' ELSE '' END
       |    || '"observed":' || n.observed || ',"retweet":' || n.retweet AS selfj
       |  FROM nodes n JOIN walk w ON w.node_id = n.node_id AND w.nxt IS NULL)"""
      .stripMargin

  /** Level-by-level unrolled nested-JSON assembly (the driver data's max
    * depth is 4; both engine and oracle bound at 6 — an empty level is
    * harmless). Mirrors [[DiscussionTree.assembleTrees]] byte for byte. */
  private val treeAssemblyOracle: String = {
    val maxDepth = 6
    val levels = new StringBuilder
    levels.append(
      s"""l$maxDepth AS (
         |  SELECT parent_id, ts, node_id, selfj || ',"replies":[]}' AS json
         |  FROM fn WHERE depth = $maxDepth)""".stripMargin)
    for (d <- (maxDepth - 1) to 0 by -1) {
      levels.append(
        s""",
           |k$d AS (
           |  SELECT parent_id AS pid,
           |    string_agg(json, ',' ORDER BY ts, node_id) AS kids
           |  FROM l${d + 1} GROUP BY parent_id),
           |l$d AS (
           |  SELECT f.parent_id, f.ts, f.node_id,
           |    f.selfj || ',"replies":[' || coalesce(k.kids, '') || ']}' AS json
           |  FROM fn f LEFT JOIN k$d k ON k.pid = f.node_id
           |  WHERE f.depth = $d)""".stripMargin)
    }
    // plain concatenation — a stripMargin here would re-strip the '||'
    // concat operators inside the already-stripped embedded CTEs
    s"WITH RECURSIVE ${fullNodesCte.stripPrefix("WITH ")},\n" +
      levels.toString +
      "\nSELECT node_id AS root_id,\n" +
      "  strftime(ts, '%Y-%m-%d %H:%M:%S') AS root_ts, json AS tree_json\n" +
      "FROM l0 ORDER BY root_id"
  }

  /** Shared stemmed-index CTE chain for the q15/q31 oracles (see the
    * stem_map note at q15). */
  private val stemmedWordsCte =
    """WITH stem_map(word, stem) AS (VALUES
      |  ('customer','custom'), ('key','kei'), ('merge','merg'),
      |  ('query','queri'), ('table','tabl'), ('value','valu')),
      |toks AS (
      |  SELECT doc_id, unnest(regexp_split_to_array(lower(text), '[ \t\n\f\r]+')) AS word
      |  FROM documents),
      |flt AS (
      |  SELECT doc_id, word FROM toks WHERE length(word) > 1
      |    AND word NOT IN ('the','a','an','and','or','of','to','in','is','it')),
      |st AS (
      |  SELECT f.doc_id, coalesce(s.stem, f.word) AS word
      |  FROM flt f LEFT JOIN stem_map s USING (word)),
      |vocab AS (
      |  SELECT word, row_number() OVER (ORDER BY word) - 1 AS word_id
      |  FROM (SELECT DISTINCT word FROM st)),
      |words AS (SELECT doc_id, word_id FROM st JOIN vocab USING (word))"""
      .stripMargin

  val oracles: Map[String, String] = Map(
    "q12_interaction_counts" ->
      s"""$interCte
         |SELECT author_id, action, 'u' || author_id AS screen_name,
         |  count(*) AS n_interactions,
         |  count(DISTINCT target) AS n_targets,
         |  strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS first_ts,
         |  strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS last_ts
         |FROM inter GROUP BY author_id, action
         |ORDER BY author_id, action""".stripMargin,
    // Triangles enumerated by ID order (e1=(a,b), e2=(b,c), e3=(a,c)
    // with a<b<c lexicographically) — a different orientation from the
    // Spark side's degree order; same triangle set, so per-vertex
    // participation counts must agree exactly.
    "q169_triangles" ->
      s"""$interCte,
         |ed AS (SELECT DISTINCT least(author_id, target) AS u,
         |    greatest(author_id, target) AS v
         |  FROM inter WHERE author_id <> target),
         |tri AS (SELECT e1.u AS x, e1.v AS y, e2.v AS z
         |  FROM ed e1 JOIN ed e2 ON e2.u = e1.v
         |  JOIN ed e3 ON e3.u = e1.u AND e3.v = e2.v),
         |vert AS (SELECT x AS user_id FROM tri
         |  UNION ALL SELECT y FROM tri
         |  UNION ALL SELECT z FROM tri)
         |SELECT user_id, count(*)::BIGINT AS n_triangles
         |FROM vert GROUP BY 1 ORDER BY 1""".stripMargin,
    // Same triangle set as q169's oracle plus the degree denominator;
    // the coefficient mirrors Spark's round-in-decimal emission and the
    // wedge count uses // (floors like Spark div on positives).
    "q170_clustering" ->
      s"""$interCte,
         |ed AS (SELECT DISTINCT least(author_id, target) AS u,
         |    greatest(author_id, target) AS v
         |  FROM inter WHERE author_id <> target),
         |dg AS (SELECT n, count(*)::BIGINT AS d FROM
         |  (SELECT u AS n FROM ed UNION ALL SELECT v FROM ed) GROUP BY 1),
         |tri AS (SELECT e1.u AS x, e1.v AS y, e2.v AS z
         |  FROM ed e1 JOIN ed e2 ON e2.u = e1.v
         |  JOIN ed e3 ON e3.u = e1.u AND e3.v = e2.v),
         |vert AS (SELECT x AS user_id FROM tri
         |  UNION ALL SELECT y FROM tri
         |  UNION ALL SELECT z FROM tri),
         |tc AS (SELECT user_id, count(*)::BIGINT AS n_triangles
         |  FROM vert GROUP BY 1)
         |SELECT dg.n AS user_id,
         |  coalesce(tc.n_triangles, 0)::BIGINT AS n_triangles,
         |  (dg.d * (dg.d - 1)) // 2 AS n_wedges,
         |  round(((coalesce(tc.n_triangles, 0) * 2)::DOUBLE
         |      / (dg.d * (dg.d - 1))::DOUBLE)::DECIMAL(28,10), 6)::DOUBLE
         |    AS coeff
         |FROM dg LEFT JOIN tc ON tc.user_id = dg.n
         |WHERE dg.d >= 2 ORDER BY user_id""".stripMargin,
    // Components by recursive reachability walk (the q37 transitive-
    // closure device): walk rows (n, lbl) mean "lbl can reach n";
    // min lbl per node = min id in the component — the same labels the
    // Spark side derives by large-star/small-star contraction, via a
    // completely different mechanism.
    "q171_components" ->
      (s"WITH RECURSIVE ${interCte.stripPrefix("WITH ")},\n" +
        """ed AS (SELECT DISTINCT least(author_id, target) AS u,
          |    greatest(author_id, target) AS v
          |  FROM inter WHERE author_id <> target),
          |adj AS (SELECT u AS a, v AS b FROM ed
          |  UNION ALL SELECT v, u FROM ed),
          |walk AS (
          |  SELECT a AS n, a AS lbl FROM (SELECT DISTINCT a FROM adj)
          |  UNION
          |  SELECT adj.b, walk.lbl FROM walk JOIN adj ON adj.a = walk.n)
          |SELECT n AS user_id, min(lbl) AS component
          |FROM walk GROUP BY 1 ORDER BY 1""".stripMargin),
    // Same ed/dg registers as q170; BIGINT products raise on overflow
    // in DuckDB exactly where the Spark side's assert_true guard fires.
    "q172_assortativity" ->
      s"""$interCte,
         |ed AS (SELECT DISTINCT least(author_id, target) AS u,
         |    greatest(author_id, target) AS v
         |  FROM inter WHERE author_id <> target),
         |dg AS (SELECT n, count(*)::BIGINT AS d FROM
         |  (SELECT u AS n FROM ed UNION ALL SELECT v FROM ed) GROUP BY 1),
         |pr AS (SELECT u AS a, v AS b FROM ed
         |  UNION ALL SELECT v, u FROM ed),
         |j AS (SELECT da.d AS dx, db.d AS dy
         |  FROM pr JOIN dg da ON da.n = pr.a JOIN dg db ON db.n = pr.b),
         |s AS (SELECT count(*)::BIGINT AS n_pairs, sum(dx)::BIGINT AS sum_d,
         |    sum(dx * dy)::BIGINT AS sum_dxdy,
         |    sum(dx * dx)::BIGINT AS sum_d2 FROM j),
         |nn AS (SELECT count(*)::BIGINT AS n_nodes,
         |    max(d)::BIGINT AS max_degree FROM dg)
         |SELECT n_nodes, (n_pairs // 2)::BIGINT AS n_edges, max_degree,
         |  sum_d, sum_dxdy, sum_d2,
         |  CASE WHEN (n_pairs * sum_d2 - sum_d * sum_d) = 0 THEN NULL
         |    ELSE round(((n_pairs * sum_dxdy - sum_d * sum_d)::DOUBLE
         |      / (n_pairs * sum_d2 - sum_d * sum_d)::DOUBLE)
         |      ::DECIMAL(28,10), 6)::DOUBLE
         |  END AS assortativity
         |FROM s CROSS JOIN nn""".stripMargin,
    // Wedge counts by direct SQL self-joins over the doubled adjacency;
    // existing edges anti-joined out, per-user rank with id tiebreak.
    // Walk-style recursive enumeration of (node, hops) pairs capped at
    // the Spark call's maxHops=20, seeds = the same top-3 by
    // (degree DESC, id ASC); min(hops) per node, unreached vertices
    // LEFT-joined back in as NULL — agrees with frontier BFS only if
    // the two-frontier dedup invariant holds.
    "q185_hop_distance" ->
      (s"WITH RECURSIVE ${interCte.stripPrefix("WITH ")},\n" +
        """ed AS (SELECT DISTINCT least(author_id, target) AS u,
          |    greatest(author_id, target) AS v
          |  FROM inter WHERE author_id <> target),
          |adj AS (SELECT u AS a, v AS b FROM ed
          |  UNION ALL SELECT v, u FROM ed),
          |dg AS (SELECT a AS n, count(*)::BIGINT AS d FROM adj
          |  GROUP BY 1),
          |seeds AS (SELECT n FROM dg ORDER BY d DESC, n ASC LIMIT 3),
          |walk AS (
          |  SELECT n, 0 AS h FROM seeds
          |  UNION
          |  SELECT adj.b, walk.h + 1 FROM walk
          |  JOIN adj ON adj.a = walk.n WHERE walk.h < 20),
          |dist AS (SELECT n, min(h)::BIGINT AS hops FROM walk
          |  GROUP BY 1)
          |SELECT dg.n AS user_id, dist.hops
          |FROM dg LEFT JOIN dist USING (n) ORDER BY user_id""".stripMargin),
    "q181_common_neighbors" ->
      s"""$interCte,
         |ed AS (SELECT DISTINCT least(author_id, target) AS u,
         |    greatest(author_id, target) AS v
         |  FROM inter WHERE author_id <> target),
         |adj AS (SELECT u AS a, v AS b FROM ed
         |  UNION ALL SELECT v, u FROM ed),
         |dg AS (SELECT a AS n, count(*)::BIGINT AS d FROM adj
         |  GROUP BY 1),
         |wd AS (SELECT l.a AS a, r.a AS b, count(*)::BIGINT
         |      AS common_neighbors
         |  FROM adj l JOIN adj r ON r.b = l.b AND l.a <> r.a
         |  JOIN dg ON dg.n = l.b AND dg.d <= 64
         |  GROUP BY 1, 2),
         |cand AS (SELECT wd.a, wd.b, wd.common_neighbors
         |  FROM wd LEFT JOIN adj e ON e.a = wd.a AND e.b = wd.b
         |  WHERE e.a IS NULL)
         |SELECT a AS user_id, rank::BIGINT AS rank, b AS rec_id,
         |  common_neighbors
         |FROM (SELECT a, b, common_neighbors,
         |    row_number() OVER (PARTITION BY a
         |      ORDER BY common_neighbors DESC, b) AS rank
         |  FROM cand)
         |WHERE rank <= 5 ORDER BY user_id, rank""".stripMargin,
    "q13_tree_stats" ->
      s"""WITH RECURSIVE ${nodesCte.stripPrefix("WITH ")}
         |SELECT root_id, count(*) AS tree_size, max(depth) AS max_depth,
         |  count(CASE WHEN NOT observed THEN 1 END) AS dummy_roots
         |FROM rooted GROUP BY root_id ORDER BY root_id""".stripMargin,
    "q14_roles" ->
      s"""$rolesFeatureCte
         |SELECT f.user_id, f.postCount, f.repliedPosts, f.replyingUserCount,
         |  f.neighbourCount, f.bidirThreadCount, f.bidirUserCount,
         |  f.discussionCount, f.inDegreeRatio, f.postsReplyRatio,
         |  f.bidirNeighbourRatio, f.bidirThreadRatio, f.avgPostPerThread,
         |  f.stddevPostsPerThread,
         |  p.lvl_inDegreeRatio, p.lvl_postsReplyRatio,
         |  p.lvl_bidirNeighbourRatio, p.lvl_bidirThreadRatio,
         |  p.lvl_avgPostPerThread, p.lvl_stddevPostsPerThread,
         |  p.lvl_threadInitiationRatio,
         |  CASE
         |    WHEN p.lvl_inDegreeRatio = 'low' AND p.lvl_bidirThreadRatio = 'high'
         |      AND p.lvl_bidirNeighbourRatio = 'low' THEN 'Elitist'
         |    WHEN p.lvl_bidirThreadRatio = 'med' AND p.lvl_bidirNeighbourRatio = 'med'
         |      AND p.lvl_avgPostPerThread = 'low'
         |      AND p.lvl_stddevPostsPerThread = 'low' THEN 'Grunt'
         |    WHEN p.lvl_threadInitiationRatio = 'low'
         |      AND p.lvl_avgPostPerThread = 'high'
         |      AND p.lvl_stddevPostsPerThread = 'high'
         |      THEN 'Joining Conversationalist'
         |    WHEN p.lvl_inDegreeRatio = 'high' AND p.lvl_avgPostPerThread = 'high'
         |      THEN 'Popular Initiator'
         |    WHEN p.lvl_inDegreeRatio = 'high'
         |      AND p.lvl_threadInitiationRatio = 'low'
         |      AND p.lvl_avgPostPerThread = 'med'
         |      AND p.lvl_stddevPostsPerThread = 'med' THEN 'Popular Participant'
         |    WHEN p.lvl_inDegreeRatio = 'med' AND p.lvl_bidirThreadRatio = 'med'
         |      AND p.lvl_bidirNeighbourRatio = 'med' THEN 'Supporter'
         |    WHEN p.lvl_bidirThreadRatio = 'low'
         |      AND p.lvl_bidirNeighbourRatio = 'low'
         |      AND p.lvl_avgPostPerThread = 'low'
         |      AND p.lvl_stddevPostsPerThread = 'low' THEN 'Taciturn'
         |    WHEN p.lvl_postsReplyRatio = 'low' THEN 'Ignored'
         |    ELSE '<None>' END AS role
         |FROM feats f JOIN piv p USING (user_id)
         |ORDER BY f.user_id""".stripMargin,
    // stem_map (in stemmedWordsCte): the Porter stems of every corpus
    // token whose stem differs from the token, precomputed with
    // graft.functions.PorterStemmer (the documents tables draw from a
    // fixed 30-word pool at every SF; DuckDB ships no offline-available
    // stemmer, so the map IS the oracle's stemmer — identity words fall
    // through the coalesce).
    "q15_topic_model" ->
      s"""$stemmedWordsCte,
        |batches AS (
        |  SELECT doc_id, (row_number() OVER (ORDER BY doc_id) - 1) // 5 AS batch_id
        |  FROM (SELECT DISTINCT doc_id FROM words)),
        |scores AS (
        |  SELECT doc_id, g.loc::BIGINT AS loc,
        |    sum((word_id * 7 + g.loc * 13) % 97)::BIGINT AS score
        |  FROM words CROSS JOIN generate_series(0, 24) g(loc)
        |  GROUP BY 1, 2),
        |tot AS (SELECT doc_id, sum(score)::BIGINT AS total FROM scores GROUP BY 1)
        |SELECT doc_id, batch_id, rank, loc,
        |  ((loc*37)%360-180 + (loc%100)/100.0)::FLOAT::VARCHAR || ',' ||
        |  ((loc*17)%180-90 + (loc%50)/100.0)::FLOAT::VARCHAR AS location,
        |  score, probability
        |FROM (
        |  SELECT s.doc_id, s.loc, s.score,
        |    s.score::DOUBLE / t.total::DOUBLE AS probability,
        |    row_number() OVER (PARTITION BY s.doc_id
        |      ORDER BY s.score::DOUBLE / t.total::DOUBLE DESC, s.loc) AS rank
        |  FROM scores s JOIN tot t USING (doc_id))
        |JOIN batches USING (doc_id)
        |WHERE rank <= 5 ORDER BY doc_id, rank""".stripMargin,
    "q16_lod_enrich" ->
      """WITH locs AS (SELECT DISTINCT c_nationkey FROM customer),
        |n AS (SELECT n_nationkey, n_name,
        |      'dbp:' || lower(replace(n_name, ' ', '_')) AS dbp FROM nation),
        |props AS (
        |  SELECT dbp AS subject, 'p:near' AS predicate,
        |    'plc:' || ((n_nationkey*2+1)%30) AS object, TRUE AS is_uri FROM n
        |  UNION ALL
        |  SELECT dbp, 'p:in', 'plc:' || ((n_nationkey*3+2)%30), TRUE FROM n
        |  UNION ALL
        |  SELECT dbp, 'p:name', n_name, FALSE FROM n),
        |pids AS (SELECT DISTINCT pid FROM (
        |  SELECT (n_nationkey*2+1)%30 AS pid FROM nation
        |  UNION ALL SELECT (n_nationkey*3+2)%30 FROM nation)),
        |ptr AS (
        |  SELECT 'plc:'||pid AS subject, 'geo:lat' AS predicate,
        |    (pid*5-40)::VARCHAR AS object, NULL::VARCHAR AS lang FROM pids
        |  UNION ALL SELECT 'plc:'||pid, 'geo:long', (pid*9-100)::VARCHAR, NULL FROM pids
        |  UNION ALL SELECT 'plc:'||pid, 'rdfs:label', 'Place '||pid, 'en' FROM pids
        |  UNION ALL SELECT 'plc:'||pid, 'rdfs:label', 'Ort '||pid, 'de' FROM pids),
        |cand AS (
        |  SELECT l.c_nationkey, nn.dbp AS dbpedia_uri, p.object AS place,
        |    array_to_string(list_sort(list_distinct(list(p.predicate))), ',')
        |      AS properties
        |  FROM locs l JOIN n nn ON nn.n_nationkey = l.c_nationkey
        |  JOIN props p ON p.subject = nn.dbp AND p.is_uri
        |  GROUP BY 1, 2, 3),
        |latt AS (SELECT subject, min(object) AS lat FROM ptr
        |         WHERE predicate = 'geo:lat' GROUP BY 1),
        |lont AS (SELECT subject, min(object) AS lon FROM ptr
        |         WHERE predicate = 'geo:long' GROUP BY 1),
        |labt AS (SELECT subject, min(object) AS label FROM ptr
        |         WHERE predicate = 'rdfs:label' AND lang = 'en' GROUP BY 1)
        |SELECT c.c_nationkey, c.dbpedia_uri, c.place, c.properties,
        |  la.lat::BIGINT AS lat, lo.lon::BIGINT AS lon, lb.label,
        |  'POINT(' || la.lat || ' ' || lo.lon || ')' AS wkt
        |FROM cand c
        |LEFT JOIN latt la ON la.subject = c.place
        |LEFT JOIN lont lo ON lo.subject = c.place
        |LEFT JOIN labt lb ON lb.subject = c.place
        |ORDER BY c.c_nationkey, c.place""".stripMargin,
    "q17_nb_relevance" ->
      """WITH counts AS (
        |  SELECT (['p:a','p:b','p:c','p:d','total'])[r_regionkey + 1] AS property,
        |    ((r_regionkey + 2) * 3)::DOUBLE AS rel,
        |    (r_regionkey + 2)::DOUBLE AS irrel
        |  FROM region),
        |tot AS (SELECT rel AS totRel, irrel AS totIrrel FROM counts
        |        WHERE property = 'total'),
        |known AS (SELECT * FROM counts WHERE property <> 'total'),
        |props AS (
        |  SELECT s_suppkey, 'p:a' AS property FROM supplier WHERE s_suppkey % 2 = 0
        |  UNION ALL
        |  SELECT s_suppkey, 'p:b' FROM supplier WHERE s_suppkey % 3 = 0
        |  UNION ALL
        |  SELECT s_suppkey, 'p:c' FROM supplier WHERE s_suppkey % 5 = 0
        |  UNION ALL
        |  SELECT s_suppkey, 'p:x' FROM supplier WHERE s_suppkey % 7 = 0)
        |SELECT s_suppkey, count(*) AS n_known_props,
        |  round(sum((ln((k.rel + 1.0) / (t.totRel + 2.0))
        |    + ln(t.totRel / (t.totRel + t.totIrrel)))::DECIMAL(28,10)), 6)
        |    ::DOUBLE AS log_pos,
        |  round(sum((ln((k.irrel + 1.0) / (t.totIrrel + 2.0))
        |    + ln(t.totIrrel / (t.totRel + t.totIrrel)))::DECIMAL(28,10)), 6)
        |    ::DOUBLE AS log_neg,
        |  count(*) > 0 AND sum((ln((k.rel + 1.0) / (t.totRel + 2.0))
        |      + ln(t.totRel / (t.totRel + t.totIrrel)))::DECIMAL(28,10))
        |    > sum((ln((k.irrel + 1.0) / (t.totIrrel + 2.0))
        |      + ln(t.totIrrel / (t.totRel + t.totIrrel)))::DECIMAL(28,10)) AS accepted
        |FROM props JOIN known k USING (property) CROSS JOIN tot t
        |GROUP BY s_suppkey ORDER BY s_suppkey""".stripMargin,
    "q18_punctuation_window" ->
      """WITH RECURSIVE ev AS (
        |  SELECT user_id::VARCHAR AS key,
        |    epoch_us(ts::TIMESTAMP) AS tsm, event_id::VARCHAR AS payload,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts::TIMESTAMP), event_id::VARCHAR) AS rn
        |  FROM events),
        |step AS (
        |  SELECT key, rn, tsm, tsm AS win_start, 1::BIGINT AS buf,
        |    NULL::BIGINT AS flush_start, NULL::BIGINT AS flush_end,
        |    NULL::BIGINT AS flush_n
        |  FROM ev WHERE rn = 1
        |  UNION ALL
        |  SELECT e.key, e.rn, e.tsm,
        |    CASE WHEN s.win_start IS NULL THEN e.tsm
        |      WHEN e.tsm >= s.win_start + 600000000 THEN NULL
        |      ELSE s.win_start END,
        |    CASE WHEN s.win_start IS NULL THEN 1
        |      WHEN e.tsm >= s.win_start + 600000000 THEN 0
        |      ELSE s.buf + 1 END,
        |    CASE WHEN s.win_start IS NOT NULL
        |      AND e.tsm >= s.win_start + 600000000 THEN s.win_start END,
        |    CASE WHEN s.win_start IS NOT NULL
        |      AND e.tsm >= s.win_start + 600000000 THEN e.tsm END,
        |    CASE WHEN s.win_start IS NOT NULL
        |      AND e.tsm >= s.win_start + 600000000 THEN s.buf + 1 END
        |  FROM step s JOIN ev e ON e.key = s.key AND e.rn = s.rn + 1)
        |SELECT key,
        |  strftime(make_timestamp(flush_start), '%Y-%m-%d %H:%M:%S.%f')
        |    AS window_start,
        |  strftime(make_timestamp(flush_end), '%Y-%m-%d %H:%M:%S.%f')
        |    AS window_end,
        |  flush_n AS n_events
        |FROM step WHERE flush_start IS NOT NULL
        |ORDER BY key, window_start""".stripMargin,
    "q30_tree_assembly" -> treeAssemblyOracle,
    "q35_interaction_graph" ->
      s"""$eventsCte,
         |inter AS (
         |  SELECT author_id, 'replied_to' AS action,
         |    (CASE WHEN k % 10 = 7 THEN 100 + k % 25
         |     ELSE k % 25 END)::VARCHAR AS target,
         |    strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s
         |  FROM live WHERE event_type IN ('signup','error') AND k IS NOT NULL AND k < event_id
         |  UNION ALL
         |  SELECT author_id, 'mentioned', (k % 25)::VARCHAR,
         |    strftime(ts, '%Y-%m-%d %H:%M:%S')
         |  FROM live WHERE event_type IN ('click','view') AND k IS NOT NULL
         |  UNION ALL
         |  SELECT author_id, 'mentioned', ((k * 3 + 1) % 25)::VARCHAR,
         |    strftime(ts, '%Y-%m-%d %H:%M:%S')
         |  FROM live WHERE event_type IN ('click','view') AND k IS NOT NULL
         |  UNION ALL
         |  SELECT author_id, 'retweeted', (k % 25)::VARCHAR,
         |    strftime(ts, '%Y-%m-%d %H:%M:%S')
         |  FROM live WHERE event_type = 'purchase' AND k IS NOT NULL AND k < event_id)
         |SELECT author_id, action,
         |  '[' || string_agg('{"ts":"' || ts_s || '","user_id":"' || target || '"}',
         |    ',' ORDER BY ts_s, target) || ']' AS verbose_json,
         |  array_to_string(list_sort(list_distinct(list(target))), ',') AS targets
         |FROM inter GROUP BY author_id, action
         |ORDER BY author_id, action""".stripMargin,
    "q32_trainer_corpus" ->
      """WITH f AS (
        |  SELECT doc_id, (doc_id*3)%181 - 90 AS lat, (doc_id*7)%361 - 180 AS lon,
        |    array_to_string(list_filter(
        |      regexp_split_to_array(lower(text), '[ \t\n\f\r]+'),
        |      t -> length(t) > 1), ' ') AS txt
        |  FROM documents),
        |g AS (SELECT * FROM f WHERE lat != 0 AND lon != 0),
        |data AS (
        |  SELECT row_number() OVER (ORDER BY doc_id) AS seq,
        |    lat::VARCHAR || ' ' || lon::VARCHAR || ' ' || txt AS line
        |  FROM g)
        |SELECT seq, line FROM (
        |  SELECT 0::BIGINT AS seq, count(*)::VARCHAR AS line FROM g
        |  UNION ALL SELECT seq, line FROM data)
        |ORDER BY seq""".stripMargin,
    "q31_topic_model_matrix" ->
      s"""$stemmedWordsCte,
        |wl AS (
        |  SELECT w.doc_id, l.l::BIGINT AS loc,
        |    sum(((k.k*31 + w.word_id*17) % 89 + 1)
        |        * ((l.l*5 + k.k*3) % 23 + 1))::DOUBLE AS s
        |  FROM words w
        |  CROSS JOIN generate_series(0, 24) l(l)
        |  CROSS JOIN generate_series(0, 7) k(k)
        |  GROUP BY 1, 2),
        |scores AS (
        |  SELECT doc_id, loc, (loc % 7 + 1)::DOUBLE * s AS score FROM wl),
        |tot AS (SELECT doc_id, sum(score) AS total FROM scores GROUP BY 1),
        |qm AS (SELECT l::BIGINT AS loc,
        |    ((l*2+1)%7-3)::DOUBLE AS x, ((l*3+2)%11-5)::DOUBLE AS y,
        |    ((l*5+3)%13-6)::DOUBLE AS z
        |  FROM generate_series(0, 24) t(l))
        |SELECT doc_id, rank, loc,
        |  round((degrees(atan2(z, sqrt(x*x + y*y))))::DECIMAL(28,10), 6)
        |    ::DOUBLE AS lat,
        |  round((degrees(atan2(y, x)))::DECIMAL(28,10), 6)::DOUBLE AS lon,
        |  score, probability
        |FROM (
        |  SELECT s.doc_id, s.loc, s.score, s.score / t.total AS probability,
        |    row_number() OVER (PARTITION BY s.doc_id
        |      ORDER BY s.score / t.total DESC, s.loc) AS rank
        |  FROM scores s JOIN tot t USING (doc_id)) r
        |JOIN qm USING (loc)
        |WHERE rank <= 5 ORDER BY doc_id, rank""".stripMargin)
}
