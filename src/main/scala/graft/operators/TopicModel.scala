package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.functions.TextFunctions
import graft.streaming.ValueFold
import graft.telemetry.Events

/** Location topic-model pipeline (locationTopicModelTopology):
  * language filter (F3/M1) → tokenize (T2) → vocab index (T3) →
  * batched scoring (A8/M2) → top-K locations (A9) → "lon,lat" format (T5)
  * → key-pruning projection (F5).
  *
  * The reference's jgibblda scorer is *unseeded-random* (SURVEY.md §2.6 M2:
  * bit-parity with the jar is impossible by construction), so this engine
  * defines a deterministic scoring semantic: an integer word–location
  * affinity model, normalized per document. Affinities live in a relation
  * (broadcast-joined), so scoring is one join + one aggregation —
  * embarrassingly parallel at any scale. A Gibbs-style sampler with a
  * seeded per-doc RNG can be slotted behind the same interface.
  */
object TopicModel {

  /** T3 — build the vocabulary: distinct tokens, ids assigned by
    * alphabetical dense rank (the reference loads a pretrained
    * wordmap.txt — TweetIndexBolt.java:86-89; here the vocab is derived
    * deterministically from the corpus).
    *
    * Ids come from a distributed range-partitioned sort + zipWithIndex
    * (NOT a global Window.orderBy, which would funnel the corpus through
    * one partition): zipWithIndex numbers rows by (partition, offset), and
    * a sorted RDD's partitions are globally ordered, so the ids equal the
    * alphabetical dense rank at any scale. */
  /** Term pipeline selector: `stem = true` runs the reference's full T2
    * path (tokenize → T4 short-token removal → stopword removal → Porter
    * stem); `stem = false` keeps the tokenize+T4-only variant. */
  private def terms(textCol: String, stem: Boolean) =
    if (stem) TextFunctions.indexTerms(col(textCol))
    else TextFunctions.dropShortTokens(TextFunctions.tokenize(col(textCol)))

  def buildVocab(docs: DataFrame, textCol: String,
      stem: Boolean = false): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val words = docs.select(explode(terms(textCol, stem)).as("word"))
      .distinct()
      .as[String]
    words.orderBy("word").rdd.zipWithIndex()
      .toDF("word", "word_id")
  }

  /** T3 — per-doc word-id sequence (order-preserving) + the reference's
    * space-joined index string (TweetIndexBolt.java:176-186). Tokens
    * missing from the vocab are dropped, as the reference does. */
  def indexDocs(docs: DataFrame, idCol: String, textCol: String,
      vocab: DataFrame, stem: Boolean = false): DataFrame = {
    val tokens = docs.select(col(idCol),
      posexplode(terms(textCol, stem)).as(Seq("pos", "word")))
    tokens.join(broadcast(vocab), Seq("word"))
      .withColumn("item", struct(col("pos"), col("word_id")))
      .groupBy(idCol)
      .agg(transform(array_sort(collect_list(col("item"))), x => x.getField("word_id"))
        .as("word_ids"))
      .withColumn("text_indices", array_join(col("word_ids"), " "))
  }

  /** Deterministic word→location affinity: ((word_id*7 + loc*13) mod 97).
    * Pure integer arithmetic → engine-exact. */
  def affinity(wordId: org.apache.spark.sql.Column, loc: org.apache.spark.sql.Column) =
    (wordId * 7 + loc * 13) % 97

  /** M2 (deterministic variant) — score L candidate locations per doc:
    * score(doc, l) = Σ_{w ∈ doc} affinity(w, l); p(l|doc) = score / Σ_l
    * score (the reference normalizes per doc across all L locations —
    * jar:PredictLocation bytecode). Docs with no indexed words are
    * excluded from scoring (F8, TopicModelBolt.java:151-155). */
  def scoreLocations(indexed: DataFrame, idCol: String, numLocations: Int): DataFrame = {
    // pre-aggregate occurrence counts per (doc, word) BEFORE fanning out
    // by location: sum over occurrences of affinity = count * affinity,
    // so the L-way cross join touches distinct words only (the fan-out
    // is the dominant row count at scale)
    val words = indexed
      .filter(size(col("word_ids")) > 0) // F8
      .select(col(idCol), explode(col("word_ids")).as("word_id"))
      .groupBy(col(idCol), col("word_id"))
      .agg(count(lit(1)).as("cnt"))
    val locs = words.sparkSession.range(numLocations).select(col("id").as("loc"))
    val scores = words.crossJoin(broadcast(locs))
      .groupBy(col(idCol), col("loc"))
      .agg(sum(col("cnt") * affinity(col("word_id"), col("loc"))).as("score"))
    val total = Window.partitionBy(idCol)
    scores.withColumn("probability",
      col("score").cast("double") / sum(col("score")).over(total).cast("double"))
  }

  /** A9 — top-K locations per doc by (probability desc, loc asc — the
    * reference's HashMap tie order is nondeterministic, SURVEY §2.5 A9),
    * T5 "lon,lat" string with deterministic region coordinates. */
  def topLocations(scored: DataFrame, idCol: String, k: Int = 5): DataFrame = {
    val w = Window.partitionBy(idCol)
      .orderBy(col("probability").desc, col("loc").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .withColumn("lon", (col("loc") * 37 % 360 - 180).cast("double") +
        (col("loc") % 100).cast("double") / 100.0)
      .withColumn("lat", (col("loc") * 17 % 180 - 90).cast("double") +
        (col("loc") % 50).cast("double") / 100.0)
      .withColumn("location", TextFunctions.lonLat(col("lon"), col("lat")))
  }

  /** The geographic topic model's broadcast parameter matrices — the
    * reference downloads these four files at operator init
    * (TopicModelBolt.java:79-84: `pi_0Alpha`, `pisetasum`, `qm`,
    * `topic_word`) and ships them to every worker; here they broadcast
    * once per job. `qm` rows are Cartesian (x, y, z) vectors converted to
    * spherical lat/long on output (jar:jgibblda.PredictLocation /
    * Coordinates.toSpherical). */
  case class GeoModel(
      topicWord: Array[Array[Double]], // K x V
      pi0Alpha: Array[Double],         // L priors
      pisetasum: Array[Array[Double]], // L x K location-topic weights
      qm: Array[Array[Double]])        // L x 3 Cartesian coordinates

  /** M2 (model-matrix variant) — score L locations per doc against
    * broadcast matrices: score(d, l) = pi0Alpha[l] · Σ_{w∈d} Σ_k
    * topic_word[k][w] · pisetasum[l][k], normalized per doc across all L
    * (the reference's per-doc normalization, PredictLocation bytecode).
    * This is the deterministic marginalized form of the reference's
    * unseeded Gibbs scoring (SURVEY §2.6 M2: bit-parity with the jar is
    * impossible by construction); a seeded sampler can slot behind the
    * same interface. Scoring is one UDF over the broadcast model —
    * embarrassingly parallel, no shuffle beyond the final top-k. */
  def scoreLocationsModel(indexed: DataFrame, idCol: String,
      model: GeoModel): DataFrame = {
    val bc = indexed.sparkSession.sparkContext.broadcast(model)
    val scoreUdf = udf((wordIds: Seq[Long]) => {
      val m = bc.value
      val kTopics = m.topicWord.length
      (0 until m.pisetasum.length).map { l =>
        var s = 0.0
        wordIds.foreach { w =>
          var k = 0
          while (k < kTopics) {
            s += m.topicWord(k)(w.toInt) * m.pisetasum(l)(k)
            k += 1
          }
        }
        m.pi0Alpha(l) * s
      }
    })
    val scored = indexed
      .filter(size(col("word_ids")) > 0) // F8
      .withColumn("scores", scoreUdf(col("word_ids")))
      .select(col(idCol), posexplode(col("scores")).as(Seq("loc", "score")))
      .withColumn("loc", col("loc").cast("long"))
    val total = Window.partitionBy(idCol)
    scored.withColumn("probability",
      col("score") / sum(col("score")).over(total))
  }

  /** M2 (seeded-Gibbs variant) — the reference's actual inference shape:
    * per-token topic assignments resampled for `iters` sweeps against the
    * broadcast matrices, then per-location scores from the doc's topic
    * counts (jar:jgibblda.PredictLocation). The reference's `Math.random`
    * is unseeded (bit-parity impossible by construction, SURVEY §2.6);
    * here the RNG is seeded per document from (seed, doc id), so results
    * are identical across partitionings, retries and cluster sizes —
    * the determinism discipline that makes stochastic inference safe in
    * a distributed engine. Not SQL-expressible: the correctness harness
    * records a rows-only check for its query; unit tests pin determinism. */
  def scoreLocationsGibbs(indexed: DataFrame, idCol: String, model: GeoModel,
      seed: Long = 42L, iters: Int = 5): DataFrame = {
    val bc = indexed.sparkSession.sparkContext.broadcast(model)
    val gibbs = udf((docId: Long, wordIds: Seq[Long]) => {
      val m = bc.value
      val kTopics = m.topicWord.length
      val rng = new scala.util.Random(seed ^ java.lang.Long.rotateLeft(docId, 17))
      val words = wordIds.map(_.toInt).toArray
      val z = Array.fill(words.length)(rng.nextInt(kTopics))
      val cnt = new Array[Int](kTopics)
      z.foreach(k => cnt(k) += 1)
      val alpha = 1.0
      var it = 0
      while (it < iters) {
        var i = 0
        while (i < words.length) {
          cnt(z(i)) -= 1
          val w = words(i)
          val p = Array.tabulate(kTopics)(k => m.topicWord(k)(w) * (cnt(k) + alpha))
          var u = rng.nextDouble() * p.sum
          var k = 0
          while (k < kTopics - 1 && u > p(k)) { u -= p(k); k += 1 }
          z(i) = k
          cnt(k) += 1
          i += 1
        }
        it += 1
      }
      (0 until m.pisetasum.length).map { l =>
        var s = 0.0
        var k = 0
        while (k < kTopics) { s += cnt(k) * m.pisetasum(l)(k); k += 1 }
        m.pi0Alpha(l) * s
      }
    })
    val total = Window.partitionBy(idCol)
    indexed
      .filter(size(col("word_ids")) > 0) // F8
      .withColumn("scores", gibbs(col(idCol), col("word_ids")))
      .select(col(idCol), posexplode(col("scores")).as(Seq("loc", "score")))
      .withColumn("loc", col("loc").cast("long"))
      .withColumn("probability", col("score") / sum(col("score")).over(total))
  }

  /** M3 — seeded Spark-native trainer for the geographic topic model.
    * The reference's offline trainer hands its corpus to jgibblda's
    * `LDA3` (binary-only jar) with L=849, beta=0.1, Alpha=1, alpha0=1,
    * niters=200 (`LocationTopicModelTrainer.java:261-278`); SURVEY §2.6
    * adjudicated bit-parity impossible (unseeded `Math.random` inside
    * the jar) and shipped pretrained fixture matrices. This trainer
    * produces the same CONTRACT — a [[GeoModel]] the M2 scorers consume
    * unchanged — from the q32 corpus shape (doc_id, lat, lon, word_ids)
    * with deterministic everything:
    *
    *  - geography: locations are a seeded integer k-means over the
    *    docs' unit-sphere Cartesian coordinates
    *    ([[Similarity.trainCentroids]] — argmin exact quantized L2, so
    *    assignment is integer-deterministic); `qm` rows are the learned
    *    centroids, `pi_0Alpha` the smoothed location-occupancy priors;
    *  - topics: synchronous collapsed Gibbs in the AD-LDA shape
    *    (Newman et al., JMLR 2009 — the published distributed-LDA
    *    pattern): each sweep resamples every doc against the PREVIOUS
    *    sweep's global (topic, word) counts (Jacobi update —
    *    deterministic for ANY partitioning, where the sequential
    *    collapsed form depends on doc visit order); doc-local counts
    *    update in place inside the doc; the per-doc RNG is seeded from
    *    (seed, doc_id, sweep) so retries and cluster sizes cannot
    *    perturb it. Global counts re-aggregate once per sweep (one
    *    map-side-combined token shuffle) and broadcast back — the K×V
    *    matrix is VOCABULARY-bounded, the same bounded side-input class
    *    as the BPE merge table, never corpus-sized;
    *  - outputs: `topic_word` = (n_kw + β)/(n_k + V·β), `pisetasum` =
    *    per-location smoothed topic mixtures, `pi_0Alpha` = smoothed
    *    occupancy — all from exact integer counts, so no summation
    *    order can perturb a bit.
    *
    * Every sweep's state frame `localCheckpoint`s (the iterative-loop
    * lineage discipline shared with withRoots/trainCentroids).
    *
    * SCALE CEILING AND THE TWO SWEEP STRATEGIES — `countsVia`:
    *  - `"broadcast"` (default): each Gibbs sweep collects the global
    *    (topic, word) count matrix to the driver and broadcasts it
    *    (K·V longs, e.g. K=64 × V=5M ≈ 2.5 GB — per sweep, at every
    *    executor). `maxCountsBytes` is the loud guard (the capOccupancy
    *    discipline): training REFUSES to start past it rather than
    *    silently OOMing executors mid-sweep.
    *  - `"join"`: the large-V path, IMPLEMENTED — counts stay
    *    distributed. The token relation explodes once per sweep,
    *    per-word K-vectors aggregate vocabulary-partitioned, join back
    *    on the word key, docs regroup and run the SAME per-doc kernel;
    *    only the K per-topic totals touch the driver. One extra
    *    word-keyed shuffle and a ×K-wide token relation per sweep buy
    *    the removal of every K×V materialization from the sweep loop.
    *    The shared kernel + the (seed, doc_id, sweep) RNG make the two
    *    strategies BIT-IDENTICAL (TopicModelTrainerSpec pins it).
    * The final model assembly still collects one K×V matrix — that is
    * the [[GeoModel]] contract itself (the trained parameters), built
    * once after the last sweep, not per sweep; a large-V deployment
    * would emit [[modelMatrices]] relationally instead. */
  /** Unit-sphere Cartesian geography vector of (lat, lon) — the qm
    * domain the reference ships (modelLocations' toSpherical inverts
    * it); shared by [[trainGeoModel]] and [[geoCentroids]]. */
  private def geoVectorCol: org.apache.spark.sql.Column =
    array(
      cos(radians(col("lat"))) * cos(radians(col("lon"))),
      cos(radians(col("lat"))) * sin(radians(col("lon"))),
      sin(radians(col("lat"))))

  /** Seeded integer k-means over a (doc_id, gv) relation → quantized
    * centroid matrix, ordered by centroid id (the deterministic
    * geography artifact [[trainGeoModel]] assigns locations against). */
  private def kmeansCentroids(geoVec: DataFrame,
      numLocations: Int): Array[Array[Long]] =
    graft.pipeline.Similarity.trainCentroids(geoVec, "doc_id", "gv",
        numLocations, iters = 5)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toArray)
      .sortBy(_._1).map(_._2)

  /** The geography half of the model trained STANDALONE: seeded k-means
    * centroids over the corpus's unit-sphere coordinates. Deterministic
    * in (corpus, numLocations), independent of the topic half — so a
    * caller training repeatedly over one fixed geography computes it
    * once and passes it to [[trainGeoModel]]'s `centroids`. */
  def geoCentroids(geoCorpus: DataFrame, numLocations: Int): Array[Array[Long]] =
    kmeansCentroids(
      geoCorpus.select(col("doc_id"), geoVectorCol.as("gv")), numLocations)

  def trainGeoModel(geoCorpus: DataFrame, numTopics: Int, numLocations: Int,
      iters: Int, seed: Long = 42L, beta: Double = 0.1,
      alpha: Double = 1.0, alpha0: Double = 1.0,
      maxCountsBytes: Long = 1L << 30,
      countsVia: String = "broadcast",
      centroids: Option[Array[Array[Long]]] = None): GeoModel = {
    require(numTopics >= 1 && numLocations >= 1 && iters >= 0,
      "trainGeoModel: numTopics/numLocations must be >= 1, iters >= 0")
    require(countsVia == "broadcast" || countsVia == "join",
      s"trainGeoModel: countsVia must be 'broadcast' or 'join', got '$countsVia'")
    val spark = geoCorpus.sparkSession
    val K = numTopics
    val vRow = geoCorpus.select(max(array_max(col("word_ids")))).head()
    require(!vRow.isNullAt(0), "trainGeoModel: empty corpus")
    val V = vRow.getLong(0).toInt + 1
    val countsBytes = K.toLong * V.toLong * 8L
    require(countsVia == "join" || countsBytes <= maxCountsBytes,
      s"trainGeoModel: K*V counts matrix is $countsBytes bytes " +
        s"(K=$K, V=$V), over maxCountsBytes=$maxCountsBytes — the " +
        "per-sweep driver collect + broadcast would not survive this " +
        "vocabulary; shrink V (frequency-threshold the vocab) or pass " +
        "countsVia = \"join\" (the vocabulary-partitioned sweep, " +
        "bit-identical output)")
    // within the cap but broadcast per sweep: a frequency-thresholded
    // vocab or countsVia = "join" is the cure at this scale
    if (countsVia == "broadcast" && countsBytes > maxCountsBytes / 4)
      Events.warn("broadcast_size", "trainGeoModel", "bytes" -> countsBytes,
        "K" -> K, "V" -> V, "max_bytes" -> maxCountsBytes)

    // geography: unit-sphere Cartesian vectors (the qm domain the
    // reference ships; modelLocations' toSpherical inverts it)
    val geoVec = geoCorpus.select(col("doc_id"), geoVectorCol.as("gv"),
        col("word_ids"))
      .localCheckpoint()
    // `centroids`: a caller that trains several models over ONE fixed
    // geography (or re-runs the trainer in a measurement loop) passes
    // the [[geoCentroids]] result instead of re-running the k-means
    // rounds — the geography model is an independent, deterministic
    // artifact of (corpus, L), so precomputing it cannot change a bit
    // of the output (TopicModelTrainerSpec pins the parity).
    val cents = centroids.getOrElse(
      kmeansCentroids(geoVec.select(col("doc_id"), col("gv")), numLocations))
    val L = cents.length
    val bcCents = spark.sparkContext.broadcast(cents)
    // mirror of the k-means assignment: floor-quantize, exact int64
    // squared L2, ties to the lowest location id
    val assignUdf = udf((gv: Seq[Double]) => {
      val cs = bcCents.value
      val q = gv.map(x => math.floor(x * 1e6).toLong).toArray
      var best = 0
      var bestD = Long.MaxValue
      var l = 0
      while (l < cs.length) {
        var d = 0L
        var i = 0
        while (i < q.length) { val e = q(i) - cs(l)(i); d += e * e; i += 1 }
        if (d < bestD) { bestD = d; best = l }
        l += 1
      }
      best
    })
    val located = geoVec
      .select(col("doc_id"), assignUdf(col("gv")).as("loc"), col("word_ids"))
      .localCheckpoint()

    // topics: synchronous seeded collapsed Gibbs
    def docRng(docId: Long, sweep: Int): scala.util.Random =
      new scala.util.Random(seed ^ java.lang.Long.rotateLeft(docId, 17) ^
        (sweep.toLong * 0x9E3779B97F4A7C15L))
    val initUdf = udf((docId: Long, wordIds: Seq[Long]) => {
      val rng = docRng(docId, 0)
      Seq.fill(wordIds.length)(rng.nextInt(K))
    })
    var state = located
      .withColumn("z", initUdf(col("doc_id"), col("word_ids")))
      .localCheckpoint()
    // K×V global counts: one vocabulary-bounded collect per sweep
    def globalCounts(st: DataFrame): (Array[Array[Long]], Array[Long]) = {
      val rows = st
        .select(explode(arrays_zip(col("word_ids"), col("z"))).as("t"))
        .groupBy(col("t.word_ids").as("w"), col("t.z").as("k"))
        .agg(count(lit(1)).as("n"))
        .collect()
      val nkw = Array.fill(K, V)(0L)
      val nk = new Array[Long](K)
      rows.foreach { r =>
        val w = r.getLong(0).toInt; val k = r.getInt(1); val n = r.getLong(2)
        nkw(k)(w) += n; nk(k) += n
      }
      (nkw, nk)
    }
    // The per-doc collapsed-Gibbs kernel, shared VERBATIM by both count
    // strategies: identical inputs (per-(k, word) counts via `cntKW`,
    // global per-topic totals `gk`, the (seed, doc_id, sweep) RNG) →
    // identical double arithmetic in identical order → bit-identical
    // assignments. This is what makes the broadcast and join paths
    // interchangeable (TopicModelTrainerSpec pins the parity).
    def resampleDocKernel(docId: Long, sweepId: Int, words: Array[Int],
        zz: Array[Int], cntKW: (Int, Int) => Long,
        gk: Array[Long]): Array[Int] = {
      val rng = docRng(docId, sweepId)
      val ndk = new Array[Int](K)
      zz.foreach(k => ndk(k) += 1)
      val p = new Array[Double](K)
      var i = 0
      while (i < words.length) {
        ndk(zz(i)) -= 1
        val w = words(i)
        var k = 0
        var tot = 0.0
        while (k < K) {
          p(k) = (cntKW(k, w) + beta) / (gk(k) + V * beta) * (ndk(k) + alpha)
          tot += p(k); k += 1
        }
        var u = rng.nextDouble() * tot
        k = 0
        while (k < K - 1 && u > p(k)) { u -= p(k); k += 1 }
        zz(i) = k
        ndk(k) += 1
        i += 1
      }
      zz
    }

    // broadcast sweep: the K×V counts collect to the driver and ship
    // whole (vocabulary-bounded side input; guarded above)
    def sweepBroadcast(st: DataFrame, sweepId: Int): DataFrame = {
      val bc = spark.sparkContext.broadcast(globalCounts(st))
      val resample = udf((docId: Long, wordIds: Seq[Long], z: Seq[Int]) => {
        val (gkw, gk) = bc.value
        resampleDocKernel(docId, sweepId, wordIds.map(_.toInt).toArray,
          z.toArray, (k, w) => gkw(k)(w), gk).toSeq
      })
      st.withColumn("z", resample(col("doc_id"), col("word_ids"), col("z")))
    }

    // join sweep — the large-V path: counts stay DISTRIBUTED. The
    // token relation explodes once, per-word K-vectors aggregate
    // vocabulary-partitioned (each reducer holds only its vocab
    // shard), join back to the tokens on the word key, and docs
    // regroup to run the same kernel. Only `gk` (K longs) touches the
    // driver. Cost: one extra word-keyed shuffle + a ×K-wide token
    // relation per sweep, in exchange for NO K×V driver/executor
    // materialization at any point.
    def sweepJoin(st: DataFrame, sweepId: Int): DataFrame = {
      // loc deliberately NOT carried: the token relation is the
      // dominant per-sweep shuffle and loc re-joins from the doc spine
      val tok = st.select(col("doc_id"),
          posexplode(arrays_zip(col("word_ids"), col("z"))).as(Seq("pos", "t")))
        .select(col("doc_id"), col("pos"),
          col("t.word_ids").as("w"), col("t.z").as("zk"))
      val wcnt = tok.groupBy(col("w"), col("zk"))
        .agg(count(lit(1)).as("n"))
        .groupBy(col("w"))
        .agg(collect_list(struct(col("zk"), col("n"))).as("kcnt"))
      val gkArr = new Array[Long](K)
      tok.groupBy(col("zk")).agg(count(lit(1)).as("n")).collect()
        .foreach(r => gkArr(r.getInt(0)) = r.getLong(1))
      val bcGk = spark.sparkContext.broadcast(gkArr)
      val resample = udf((docId: Long,
          toks: Seq[org.apache.spark.sql.Row]) => {
        val sorted = toks.sortBy(_.getInt(0)) // by pos
        val words = sorted.map(_.getLong(1).toInt).toArray
        val zz = sorted.map(_.getInt(2)).toArray
        // per-word K-vectors local to this doc (each distinct word once)
        val cnt = scala.collection.mutable.LongMap.empty[Array[Long]]
        sorted.foreach { r =>
          val w = r.getLong(1)
          if (!cnt.contains(w)) {
            val a = new Array[Long](K)
            r.getSeq[org.apache.spark.sql.Row](3).foreach { kc =>
              a(kc.getInt(0)) = kc.getLong(1)
            }
            cnt(w) = a
          }
        }
        val z2 = resampleDocKernel(docId, sweepId, words, zz,
          (k, w) => cnt(w.toLong)(k), bcGk.value)
        (words.map(_.toLong).toSeq, z2.toSeq)
      })
      val res = tok.join(wcnt, "w")
        .groupBy(col("doc_id"))
        .agg(collect_list(struct(col("pos"), col("w"), col("zk"), col("kcnt")))
          .as("toks"))
        .select(col("doc_id"), resample(col("doc_id"), col("toks")).as("wz"))
      // left-join onto the doc spine: a doc with EMPTY word_ids never
      // survives the posexplode, but the broadcast path keeps it (and
      // its loc counts in the occupancy priors) — parity demands it here
      st.select(col("doc_id"), col("loc")).join(res, Seq("doc_id"), "left")
        .select(col("doc_id"), col("loc"),
          coalesce(col("wz._1"), array().cast("array<bigint>")).as("word_ids"),
          coalesce(col("wz._2"), array().cast("array<int>")).as("z"))
    }

    var sweep = 1
    while (sweep <= iters) {
      state = (if (countsVia == "join") sweepJoin(state, sweep)
        else sweepBroadcast(state, sweep))
        .localCheckpoint()
      sweep += 1
    }

    // outputs from exact integer counts
    val (nkw, nk) = globalCounts(state)
    val topicWord =
      Array.tabulate(K, V)((k, w) => (nkw(k)(w) + beta) / (nk(k) + V * beta))
    val ltRows = state.select(col("loc"), explode(col("z")).as("k"))
      .groupBy("loc", "k").agg(count(lit(1)).as("n")).collect()
    val nlk = Array.fill(L, K)(0L)
    ltRows.foreach(r => nlk(r.getInt(0))(r.getInt(1)) += r.getLong(2))
    val pisetasum = Array.tabulate(L, K) { (l, k) =>
      (nlk(l)(k) + alpha) / (nlk(l).sum + K * alpha)
    }
    val occRows = state.groupBy("loc").agg(count(lit(1)).as("n")).collect()
    val nDocsL = new Array[Long](L)
    occRows.foreach(r => nDocsL(r.getInt(0)) = r.getLong(1))
    val nDocs = nDocsL.sum
    val pi0 = Array.tabulate(L)(l => (nDocsL(l) + alpha0) / (nDocs + L * alpha0))
    val qm = cents.map(_.map(_.toDouble / 1e6))
    GeoModel(topicWord, pi0, pisetasum, qm)
  }

  /** Relational dump of a [[GeoModel]] — (matrix, i, j, value) rows for
    * the four matrices, the persistable/auditable form of a trained
    * model (driver-side arrays are model-sized, never corpus-sized). */
  def modelMatrices(spark: SparkSession, model: GeoModel): DataFrame = {
    import spark.implicits._
    val rows =
      model.topicWord.zipWithIndex.flatMap { case (r, k) =>
        r.zipWithIndex.map { case (v, w) => ("topic_word", k.toLong, w.toLong, v) } } ++
      model.pi0Alpha.zipWithIndex.map { case (v, l) => ("pi_0Alpha", l.toLong, 0L, v) } ++
      model.pisetasum.zipWithIndex.flatMap { case (r, l) =>
        r.zipWithIndex.map { case (v, k) => ("pisetasum", l.toLong, k.toLong, v) } } ++
      model.qm.zipWithIndex.flatMap { case (r, l) =>
        r.zipWithIndex.map { case (v, j) => ("qm", l.toLong, j.toLong, v) } }
    rows.toSeq.toDF("matrix", "i", "j", "value")
  }

  /** M2, per-message form — the reference's actual execution shape
    * (TopicModelBolt scores each message independently): one row in, up
    * to `k` location rows out, no aggregation anywhere — so this runs
    * under Structured Streaming in append mode, where the relational
    * [[indexDocs]]/[[scoreLocations]] path (groupBy + window) cannot.
    * Vocab and model ride a broadcast; indexing, scoring, per-doc
    * normalization and the top-k all happen inside one UDF over the
    * token array (T2 index terms → T3 lookup → M2 matrix scoring → A9
    * top-k with the (probability desc, loc asc) tie rule). */
  def locatePerMessage(docs: DataFrame, idCol: String, textCol: String,
      vocab: Map[String, Long], model: GeoModel, k: Int = 5): DataFrame = {
    val spark = docs.sparkSession
    val bcV = spark.sparkContext.broadcast(vocab)
    val bcM = spark.sparkContext.broadcast(model)
    val locate = udf((tokens: Seq[String]) => {
      val v = bcV.value
      val m = bcM.value
      val kTopics = m.topicWord.length
      val ids = tokens.flatMap(v.get) // T3: unknown tokens drop
      if (ids.isEmpty) Seq.empty[(Long, Long, Double)] // F8
      else {
        val scores = (0 until m.pisetasum.length).map { l =>
          var s = 0.0
          ids.foreach { w =>
            var t = 0
            while (t < kTopics) {
              s += m.topicWord(t)(w.toInt) * m.pisetasum(l)(t)
              t += 1
            }
          }
          m.pi0Alpha(l) * s
        }
        val total = scores.sum
        scores.zipWithIndex
          .map { case (s, l) => (l.toLong, s / total) }
          .sortBy { case (l, p) => (-p, l) } // A9 tie rule
          .take(k)
          .zipWithIndex
          .map { case ((l, p), r) => (l, (r + 1).toLong, p) }
      }
    })
    docs
      .withColumn("_located",
        explode(locate(graft.functions.TextFunctions.indexTerms(col(textCol)))))
      .select(col(idCol),
        col("_located._1").as("loc"),
        col("_located._2").as("rank"),
        col("_located._3").as("probability"))
  }

  /** The model's location dimension with toSpherical coordinates:
    * lat = atan2(z, √(x²+y²)), lon = atan2(y, x), in degrees, rounded in
    * the DECIMAL domain (double → exact DECIMAL(28,10) absorbs libm
    * last-ulp differences across engines, then the 6-dp decimal round is
    * HALF_UP on every engine — `round(double, 6)` implementations differ
    * near boundaries), then emitted as DOUBLE (DECIMAL-typed outputs
    * hash differently across engines; see [[graft.queries.CoreQueries]]). */
  def modelLocations(spark: SparkSession, model: GeoModel): DataFrame = {
    import spark.implicits._
    def deg6(c: org.apache.spark.sql.Column) =
      round(c.cast("decimal(28,10)"), 6).cast("double")
    model.qm.zipWithIndex
      .map { case (v, l) => (l.toLong, v(0), v(1), v(2)) }.toSeq
      .toDF("loc", "x", "y", "z")
      .select(col("loc"),
        deg6(degrees(atan2(col("z"), sqrt(col("x") * col("x") + col("y") * col("y")))))
          .as("lat"),
        deg6(degrees(atan2(col("y"), col("x")))).as("lon"))
  }

  /** A8 — count-based micro-batching (5 msgs per prediction,
    * TopicModelBolt.java:87). Per-message results are independent, so the
    * batch boundary only affects amortization (SURVEY A8); the batch id is
    * reproduced for parity: floor(global_rank / batchSize) in id order.
    * Global rank via range-partitioned sort + zipWithIndex — no
    * single-partition Window (see [[buildVocab]]). `idCol` MUST be unique
    * (true of every caller: doc_id / tweet id); duplicate ids would make
    * the post-sort tie order — and thus batch assignment —
    * nondeterministic. */
  def withCountBatches(docs: DataFrame, idCol: String, batchSize: Int = 5): DataFrame = {
    val spark = docs.sparkSession
    val sorted = docs.orderBy(col(idCol))
    val schema = org.apache.spark.sql.types.StructType(
      sorted.schema.fields :+
        org.apache.spark.sql.types.StructField("batch_id",
          org.apache.spark.sql.types.LongType, nullable = false))
    val rows = sorted.rdd.zipWithIndex().map { case (r, i) =>
      org.apache.spark.sql.Row.fromSeq(r.toSeq :+ i / batchSize)
    }
    spark.createDataFrame(rows, schema)
  }

  case class CountBatchAssign(doc_id: Long, batch_id: Long)
  private[operators] case class CountBatchState(nextBatchId: Long, buffer: List[Long])

  /** A8, streaming form — the bolt's actual count trigger
    * (TopicModelBolt.java:87,99-138): messages buffer until the count
    * reaches `batchSize`; the full batch then fires with the next batch
    * id and the buffer resets. A trailing partial buffer never fires —
    * exactly the bolt, where prediction happens only on the 5th message.
    * State (next batch id + buffer) is checkpointed across micro-batches
    * (W6), where the bolt lost its buffer on restart.
    *
    * Parity mode, NOT the scale path: the reference's trigger is one
    * global counter, so every id routes through a single state key — use
    * [[withCountBatches]] (distributed rank) for batch/backfill work.
    * Arrival order within a micro-batch is undefined under retries, so
    * processing order is fixed to id order (the same documented deviation
    * as [[graft.streaming.PunctuationWindow]]). */
  def countBatchesStreaming(ids: Dataset[Long],
      batchSize: Int = 5): Dataset[CountBatchAssign] = {
    import ids.sparkSession.implicits._
    ValueFold(ids.groupByKey(_ => "all")) {
      (_, it, prior: Option[CountBatchState]) =>
        val st = prior.getOrElse(CountBatchState(0L, Nil))
        val all = st.buffer ::: it.toList.sorted
        val nFull = all.size / batchSize
        val (fire, keep) = all.splitAt(nFull * batchSize)
        (Some(CountBatchState(st.nextBatchId + nFull, keep)),
          fire.iterator.zipWithIndex.map { case (id, i) =>
            CountBatchAssign(id, st.nextBatchId + i / batchSize)
          })
    }
  }
}
