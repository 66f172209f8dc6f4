package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.functions.VectorFunctions._

/** Approximate-nearest-neighbor search over an embedding column
  * (north-star extension, BASELINE.json).
  *
  * Two paths:
  *  - brute force: queries × corpus cross join with a broadcast query set —
  *    exact, O(Q·N), the correctness baseline;
  *  - LSH-bucketed: sign-bit bucket (IVF-style coarse quantizer) prunes
  *    the corpus per query with multi-probe, then exact re-rank. At 100 TB
  *    the bucket column is a partition key: each query probes a handful of
  *    partitions instead of the full corpus.
  *
  * Scoring uses the exact integer-quantized dot product
  * ([[graft.functions.VectorFunctions.dotExact]]) so ranking is
  * deterministic and engine-portable (doubles would differ in the last ulp
  * across summation orders); embeddings here are unit-norm so dot ≡ cosine
  * ranking-wise. `cosine` is emitted alongside for human consumption.
  */
object Similarity {

  /** Brute-force top-k: for each query vector, the k nearest corpus rows
    * by quantized dot product (desc), ties by corpus id. Self-pairs are
    * excluded. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    val c = corpus.select(col(idCol).as("corpus_id"),
      quantize(col(vecCol)).as("q_corpus"), col(vecCol).as("v_corpus"))
    val q = queries.select(col(idCol).as("query_id"),
      quantize(col(vecCol)).as("q_query"), col(vecCol).as("v_query"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("corpus_id") =!= col("query_id"))
      .withColumn("dot_q", dotExact(col("q_query"), col("q_corpus")))
    val w = Window.partitionBy("query_id").orderBy(col("dot_q").desc, col("corpus_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .withColumn("cosine", cosine(col("v_query"), col("v_corpus")))
      .select("query_id", "rank", "corpus_id", "dot_q", "cosine")
  }

  /** Offline centroid training for [[ivfTopK]]: Lloyd's k-means over the
    * quantized vectors with deterministic everything — init = the k
    * lowest-id vectors, assignment = argmin exact int64 squared L2 (ties
    * to the lowest centroid id), new centroids = integer mean (div) of
    * the assigned vectors, empty cells keep their previous centroid.
    * Each round is one broadcast join + one aggregation; every round
    * localCheckpoints (lineage-truncation discipline for iterative
    * DataFrame algorithms). Returns (cent_id, centroid Array[Long]) in
    * the quantized domain; determinism makes retraining reproducible
    * across cluster sizes. */
  def trainCentroids(corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int = 5): DataFrame = {
    val vecs = corpus
      .select(col(idCol).as("vid"), quantize(col(vecCol)).as("qv"))
      .localCheckpoint()
    var cents = vecs.orderBy(col("vid")).limit(k)
      .withColumn("cent_id", row_number().over(Window.orderBy(col("vid"))).cast("long") - 1)
      .select(col("cent_id"), col("qv").as("cv"))
      .localCheckpoint()
    def sqDist(a: Column, b: Column): Column = sqDistExact(a, b)
    var i = 0
    while (i < iters) {
      // packed argmin + qv as a grouping key: see ivfTopKQuantized —
      // keeps the n×k assignment a HashAggregate; idBits sized from k
      val idBits = bitsFor(k - 1L)
      val assigned = vecs.crossJoin(broadcast(cents))
        .groupBy(col("vid"), col("qv"))
        .agg(unpackId(min(packDistId(sqDist(col("qv"), col("cv")),
          col("cent_id"), idBits)), idBits).as("cent_id"))
      // element-wise mean: explode positions, average, regroup in order
      val means = assigned
        .select(col("cent_id"), posexplode(col("qv")).as(Seq("pos", "x")))
        .groupBy(col("cent_id"), col("pos"))
        .agg((sum(col("x")) / count(lit(1))).cast("long").as("m"))
        .withColumn("item", struct(col("pos"), col("m")))
        .groupBy(col("cent_id"))
        .agg(transform(array_sort(collect_list(col("item"))), s => s.getField("m")).as("cv"))
      cents = cents.select(col("cent_id"), col("cv").as("old_cv"))
        .join(means, Seq("cent_id"), "left")
        .select(col("cent_id"), coalesce(col("cv"), col("old_cv")).as("cv"))
        .localCheckpoint()
      i += 1
    }
    cents
  }

  /** IVF (inverted-file) ANN — the scale path beyond sign-bit LSH: a
    * centroid table partitions the corpus into cells (assignment =
    * argmin exact-quantized squared L2 against the broadcast centroids —
    * a packed-long min in a map-side hash aggregate); each query probes its
    * `nprobe` nearest cells and exact re-ranks only those cells'
    * vectors. At 100 TB the cell id is the corpus partition key: with C
    * cells a query touches nprobe/C of the data (vs 9/2^nBits for the
    * Hamming-1 LSH probe set), and C grows with the corpus while the
    * centroid table stays broadcastable. Centroid *training* (k-means) is
    * an offline job; any centroid relation works — tests and queries use
    * a deterministic corpus subsample. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String, k: Int, nprobe: Int = 2): DataFrame =
    ivfTopKQuantized(corpus, queries,
      centroids.select(col(idCol).as("cent_id"), quantize(col(vecCol)).as("q_cent")),
      idCol, vecCol, k, nprobe)

  /** IVF against an already-quantized centroid table — the shape
    * [[trainCentroids]] emits: `(cent_id, cv: Array[Long])`. */
  def ivfTopKTrained(corpus: DataFrame, queries: DataFrame, trained: DataFrame,
      idCol: String, vecCol: String, k: Int, nprobe: Int = 2): DataFrame =
    ivfTopKQuantized(corpus, queries,
      trained.select(col("cent_id"), col("cv").as("q_cent")),
      idCol, vecCol, k, nprobe)

  private def ivfTopKQuantized(corpus: DataFrame, queries: DataFrame,
      cents: DataFrame, idCol: String, vecCol: String, k: Int,
      nprobe: Int): DataFrame = {
    def sqDist(a: Column, b: Column): Column = sqDistExact(a, b)
    // Densify centroid ids to 0..C-1 (bounded window over the broadcast-
    // sized relation, like trainCentroids' seed): the cell id is a purely
    // internal join key, and dense ids make the packed argmin below safe
    // for ANY caller-supplied centroid id domain. Renumbering is
    // monotonic in cent_id, so tie-break order is unchanged.
    val dense = cents.select(
      (row_number().over(Window.orderBy(col("cent_id"))).cast("long") - 1)
        .as("cent_id"),
      col("q_cent"))
    // cell assignment: packed-long argmin (packDistId) in a
    // HashAggregate; idBits sized from the dense centroid count (one
    // tiny action on the broadcast-small relation). q_corpus rides as a
    // GROUPING key, not first(): an array agg buffer is not hash-mutable
    // and would force the n×C argmin into SortAggregate.
    val idBits = bitsFor(math.max(dense.count() - 1, 0L))
    val packed = packDistId(sqDist(col("q_corpus"), col("q_cent")),
      col("cent_id"), idBits)
    val cells = corpus.select(col(idCol).as("corpus_id"),
        quantize(col(vecCol)).as("q_corpus"))
      .crossJoin(broadcast(dense))
      .groupBy(col("corpus_id"), col("q_corpus"))
      .agg(unpackId(min(packed), idBits).as("cell"))
    // query probes: nprobe nearest centroids each (query set is small —
    // a rank window over Q x C rows)
    val qd = queries.select(col(idCol).as("query_id"),
        quantize(col(vecCol)).as("q_query"))
      .crossJoin(broadcast(dense))
      .withColumn("d", sqDist(col("q_query"), col("q_cent")))
    val pw = Window.partitionBy("query_id").orderBy(col("d").asc, col("cent_id").asc)
    val probes = qd.withColumn("pr", row_number().over(pw))
      .filter(col("pr") <= nprobe)
      .select(col("query_id"), col("q_query"), col("cent_id").as("cell"))
    val scored = cells.join(broadcast(probes), "cell")
      .filter(col("corpus_id") =!= col("query_id"))
      .withColumn("dot_q", dotExact(col("q_query"), col("q_corpus")))
    val w = Window.partitionBy("query_id").orderBy(col("dot_q").desc, col("corpus_id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select("query_id", "rank", "corpus_id", "dot_q")
  }

  /** LSH-bucketed ANN: corpus is bucketed by the sign pattern of the first
    * `nBits` components; each query probes its own bucket plus all buckets
    * at Hamming distance 1 (multi-probe), then exact re-ranks. Recall is
    * approximate by construction; the bucket join replaces the full cross
    * join. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, nBits: Int = 8): DataFrame = {
    val c = corpus.select(col(idCol).as("corpus_id"),
      quantize(col(vecCol)).as("q_corpus"),
      signBucket(col(vecCol), nBits).as("bucket"))
    // multi-probe: own bucket + flip each bit once
    val probes = (0 to nBits).map { i =>
      if (i == 0) signBucket(col(vecCol), nBits)
      else signBucket(col(vecCol), nBits).bitwiseXOR(lit(1L << (i - 1)))
    }
    val q = queries.select(col(idCol).as("query_id"),
      quantize(col(vecCol)).as("q_query"),
      explode(array(probes.map(_.cast("long")): _*)).as("bucket"))
    val scored = c.join(broadcast(q), "bucket")
      .filter(col("corpus_id") =!= col("query_id"))
      .withColumn("dot_q", dotExact(col("q_query"), col("q_corpus")))
      .select("query_id", "corpus_id", "dot_q").distinct()
    val w = Window.partitionBy("query_id").orderBy(col("dot_q").desc, col("corpus_id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Approximate k-NN GRAPH over the corpus — every vector gets its k
    * most-similar neighbors (semantic-dedup clustering, diversity
    * sampling, and graph-based retrieval indexes all start from this
    * relation). Candidates come from a sign-LSH multi-probe bucket join,
    * re-ranked by the exact int64-quantized dot product.
    *
    * Scale shape: unlike [[lshTopK]] (bounded query set → broadcast),
    * the graph makes EVERY vector a query, so the candidate join is a
    * bucket EQUI-JOIN: the probe side explodes nBits+1 Hamming-≤1
    * probes, only (id, qv, bucket) ever shuffles, and within-bucket
    * work is bounded by occupancy ≈ n(nBits+1) / 2^nBits — grow nBits
    * with the corpus exactly as [[graft.pipeline.Dedup.embeddingNearDups]]
    * documents. Recall is approximate by construction (a true neighbor
    * >1 sign-bit away in every probe is missed) — the standard LSH
    * trade, measured by [[recallReport]]. */
  def knnGraph(corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, nBits: Int = 8): DataFrame = {
    require(k >= 1, "knnGraph: k must be >= 1")
    val c = corpus.select(col(idCol).as("nbr_id"),
      quantize(col(vecCol)).as("q_nbr"),
      signBucket(col(vecCol), nBits).as("bucket"))
    val probes = (0 to nBits).map { i =>
      if (i == 0) signBucket(col(vecCol), nBits)
      else signBucket(col(vecCol), nBits).bitwiseXOR(lit(1L << (i - 1)))
    }
    val q = corpus.select(col(idCol).as("src_id"),
      quantize(col(vecCol)).as("q_src"),
      explode(array(probes.map(_.cast("long")): _*)).as("bucket"))
    val scored = c.join(q, "bucket")
      .filter(col("nbr_id") =!= col("src_id"))
      .withColumn("dot_q", dotExact(col("q_src"), col("q_nbr")))
      .select("src_id", "nbr_id", "dot_q").distinct()
    val w = Window.partitionBy("src_id")
      .orderBy(col("dot_q").desc, col("nbr_id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("src_id"), col("rank").cast("long").as("rank"),
        col("nbr_id"), col("dot_q"))
  }

  /** Embedding health check — the validation pass a pipeline runs before
    * ANN indexing: per-vector dimension and the exact int64-quantized
    * squared L2 norm, plus its deviation from a unit norm (1e12 in
    * quantized units). All arithmetic is quantize-then-integer-sum, so
    * the values are order-independent and engine-exact — a double-domain
    * norm would differ in the last ulp with summation order. Per-row
    * column expressions, no shuffle. */
  def embeddingStats(embs: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val unitSq = 1000000000000L // (1e6)^2: quantized squared norm of a unit vector
    embs.select(col(idCol),
      size(col(vecCol)).cast("long").as("dim"),
      dotExact(quantize(col(vecCol)), quantize(col(vecCol))).as("norm_sq_q"))
      .withColumn("norm_dev_q", col("norm_sq_q") - lit(unitSq))
  }

  /** Matryoshka truncation-energy report — the dimension-reduction
    * health check run before adopting truncated embeddings (MRL-style
    * retrieval serves the first d/2 or d/4 coordinates to cut index
    * cost; this measures what that truncation keeps). For a vector v
    * and its length-p prefix v̂ (zero-padded), cos(v, v̂) = ‖v̂‖/‖v‖,
    * so the retained energy needs no pairwise work — it is a per-row
    * ratio of the prefix and full quantized norms.
    *
    * Exactness: both norms are exact int64 sums over the quantized
    * coordinates (the q44 device); the single division and `sqrt` are
    * IEEE-correctly-rounded on identical operands in any engine, and
    * rounding happens once in the decimal domain. Pure per-row column
    * expressions — no shuffle, scan-speed at any corpus size. */
  def truncationEnergy(embs: DataFrame, idCol: String, vecCol: String): DataFrame = {
    def prefixNorm(frac: Int): Column = {
      val prefix = slice(col(vecCol), lit(1),
        floor(size(col(vecCol)) / frac).cast("int"))
      dotExact(quantize(prefix), quantize(prefix))
    }
    def energy(prefixSq: Column, fullSq: Column): Column =
      when(fullSq === 0L, lit(null).cast("double"))
        .otherwise(round(sqrt(prefixSq.cast("double") / fullSq.cast("double"))
          .cast("decimal(28,10)"), 6).cast("double"))
    val withNorms = embs.select(col(idCol),
      size(col(vecCol)).cast("long").as("dim"),
      dotExact(quantize(col(vecCol)), quantize(col(vecCol))).as("norm_sq_q"),
      prefixNorm(2).as("_h"), prefixNorm(4).as("_q"))
    withNorms.select(col(idCol), col("dim"), col("norm_sq_q"),
      energy(col("_h"), col("norm_sq_q")).as("energy_half"),
      energy(col("_q"), col("norm_sq_q")).as("energy_quarter"))
  }

  /** Int8 scalar-quantization (SQ8) error report — the compression
    * study run before serving an ANN index at a quarter of the float32
    * footprint (FAISS-style per-vector max-abs scaling to 127 levels).
    * All arithmetic stays in the exact integer domain: the quantized
    * coordinates, the max-abs scale, the truncating-division
    * encode/decode, and the squared-error sum are int64 end to end —
    * no float rounding anywhere, so the report is engine-exact. The
    * informational RMSE (quantized units) pays one IEEE-exact
    * division + sqrt per row. Native single-pass kernels
    * (native `maxabs_longs`, `sq8_sqerr_longs`)
    * keep the scan inside whole-stage codegen; per-row expressions,
    * no shuffle at any corpus size. */
  def sq8Report(embs: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val qv = quantize(col(vecCol))
    embs.select(col(idCol),
      size(col(vecCol)).cast("long").as("dim"),
      maxAbsExact(qv).as("scale_q"),
      sq8SqErrExact(qv).as("sq_err_q"))
      .withColumn("rmse_q",
        round(sqrt(col("sq_err_q").cast("double") / col("dim").cast("double"))
          .cast("decimal(28,10)"), 6).cast("double"))
  }

  /** Per-dimension embedding statistics — the anisotropy / dead-dimension
    * diagnostic run before trusting an embedding space (a dimension that
    * is constant, near-zero, or wildly off-scale distorts every cosine
    * downstream; PCA/whitening decisions start from exactly this table).
    *
    * Shape: one scan posexplodes vectors to (dim, q) pairs that collapse
    * immediately into a |dim|-keyed aggregate — map-side partials reduce
    * each partition to |dim| rows, so the exchange moves |dim|·partitions
    * rows regardless of corpus size. All aggregates are exact integers in
    * the quantized domain; the mean divides two exact int64s (< 2⁵³) in
    * one IEEE-exact op. */
  def dimensionStats(embs: DataFrame, idCol: String, vecCol: String): DataFrame =
    embs.select(posexplode(quantize(col(vecCol))).as(Seq("_p", "_q")))
      .groupBy((col("_p") + 1).cast("long").as("dim_idx"))
      .agg(count(lit(1)).as("n"),
        sum(col("_q")).as("sum_q"),
        min(col("_q")).as("min_q"),
        max(col("_q")).as("max_q"),
        sum(when(col("_q") === 0L, 1L).otherwise(0L)).as("n_zero"))
      .select(col("dim_idx"), col("n"), col("sum_q"),
        round((col("sum_q").cast("double") / col("n").cast("double"))
          .cast("decimal(28,10)"), 6).cast("double").as("mean_q"),
        col("min_q"), col("max_q"), col("n_zero"))

  /** Filtered vector search: pre-filter vs post-filter recall — THE
    * operational trade of every metadata-constrained ANN query ("top-k
    * nearest WHERE label = x"). Pre-filtering searches only the
    * predicate-matching subset (exact answer, but an index per
    * predicate value); post-filtering overfetches `overfetch` global
    * neighbors and keeps the matches (one index, loses whatever the
    * overfetch window didn't reach). This report measures that loss
    * per query: ground truth = exact top-k over the filtered corpus,
    * candidate = the filtered global top-`overfetch` re-cut to k by
    * global rank.
    *
    * Output (query_id, n_truth, n_post, n_hit, recall): n_truth ≤ k
    * when the predicate subset is small, n_post ≤ k is what
    * post-filtering actually returned, recall = n_hit/n_truth (NULL
    * when the subset is empty). Integer dot ranking throughout; one
    * rounded divide. At scale both arms are the brute pass's cost —
    * swap in [[ivfTopK]] arms for the indexed form; the report's
    * contract is unchanged. */
  def filteredAnnReport(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, labelCol: String, labelValue: Int,
      k: Int, overfetch: Int): DataFrame = {
    require(k >= 1 && overfetch >= k,
      "filteredAnnReport: need 1 <= k <= overfetch")
    val truth = bruteForceTopK(corpus.filter(col(labelCol) === labelValue),
        queries, idCol, vecCol, k)
      .select(col("query_id"), col("corpus_id"))
    val post = bruteForceTopK(corpus, queries, idCol, vecCol, overfetch)
      .join(broadcast(corpus.select(col(idCol).as("corpus_id"),
        col(labelCol).as("_lbl"))
        .filter(col("_lbl") === labelValue)), Seq("corpus_id"), "left_semi")
      .withColumn("_fr", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("rank"))))
      .filter(col("_fr") <= k)
      .select(col("query_id"), col("corpus_id"))
    val hits = truth.join(post.withColumn("_hit", lit(1L)),
        Seq("query_id", "corpus_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_truth"),
        sum(coalesce(col("_hit"), lit(0L))).as("n_hit"))
    val nPost = post.groupBy(col("query_id")).agg(count(lit(1)).as("n_post"))
    queries.select(col(idCol).as("query_id"))
      .join(hits, Seq("query_id"), "left")
      .join(nPost, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_truth"), lit(0L)).as("n_truth"),
        coalesce(col("n_post"), lit(0L)).as("n_post"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        when(coalesce(col("n_truth"), lit(0L)) === 0L,
          lit(null).cast("double"))
          .otherwise(round((coalesce(col("n_hit"), lit(0L)).cast("double") /
              col("n_truth").cast("double")).cast("decimal(28,10)"), 6)
            .cast("double")).as("recall"))
  }

  /** Maximal-marginal-relevance selection (Carbonell & Goldstein 1998):
    * pick `k` items balancing relevance to a probe against redundancy
    * with what's already picked — argmax of
    * `λ·rel(c) − (1−λ)·max_{s∈S} sim(c, s)` — the diversity-aware
    * selection behind dedup-conscious few-shot/exemplar curation, where
    * a pure relevance top-k returns the same document five times.
    *
    * Production shape (and the scale story): MMR reranks a CANDIDATE
    * WINDOW, never the corpus — stage 1 is one distributed
    * relevance pass (per-partition top-`nCandidates` + driver merge,
    * the TakeOrdered shape), stage 2 is the greedy quadratic loop over
    * the nCandidates-bounded window in driver math (the q153
    * PAV/maxBins precedent: corpus work distributed, bounded kernel
    * local, loud guard). The greedy argmax is inherently sequential —
    * k dependent rounds of a whole-relation argmax — so a DataFrame
    * formulation would pay k scheduler round-trips to scan 64 rows.
    *
    * Exact-integer scoring: relevance and similarity are quantized
    * int64 dots; with λ = lambdaNum/lambdaDen the score is
    * `lambdaNum·rel − (lambdaDen−lambdaNum)·maxSim` (the λ-scaled
    * argmax, denominators cancel), ties by id — deterministic for any
    * partitioning, no float anywhere. Output one row per pick:
    * (rank, id, rel_dot, max_sim_dot, score) with max_sim_dot the
    * redundancy actually charged at pick time (0 for the first). */
  def mmrSelect(corpus: DataFrame, probe: DataFrame, idCol: String,
      vecCol: String, k: Int, nCandidates: Int = 64,
      lambdaNum: Long = 7L, lambdaDen: Long = 10L): DataFrame = {
    require(k >= 1, "mmrSelect: k must be >= 1")
    require(nCandidates >= k, "mmrSelect: nCandidates must be >= k")
    require(nCandidates <= 4096,
      s"mmrSelect: nCandidates=$nCandidates exceeds the driver-window " +
        "bound 4096 — widen the candidate stage distributedly instead")
    require(lambdaNum >= 0 && lambdaNum <= lambdaDen && lambdaDen > 0,
      "mmrSelect: need 0 <= lambdaNum <= lambdaDen")
    val p = probe.select(col(idCol).as("pid"),
      quantize(col(vecCol)).as("pq"))
    // a multi-row probe would enroll every candidate once PER probe and
    // the greedy loop could then pick the same id twice — fail loudly
    require(p.limit(2).count() == 1L,
      "mmrSelect: probe must be exactly one row")
    val cands = corpus
      .select(col(idCol).as("cid"), quantize(col(vecCol)).as("qv"))
      .crossJoin(broadcast(p))
      .filter(col("cid") =!= col("pid"))
      .withColumn("rel", dotExact(col("qv"), col("pq")))
      .orderBy(col("rel").desc, col("cid").asc)
      .limit(nCandidates)
      .select(col("cid"), col("qv"), col("rel"))
      .collect() // bounded by the nCandidates guard above
    val pool = cands.map(r => (r.getLong(0),
      r.getSeq[Long](1).toArray, r.getLong(2))).toBuffer
    val lamS = lambdaNum
    val lamD = lambdaDen - lambdaNum
    def dot(a: Array[Long], b: Array[Long]): Long = {
      var s = 0L; var i = 0
      while (i < a.length && i < b.length) { s += a(i) * b(i); i += 1 }
      s
    }
    val maxSim = scala.collection.mutable.Map.empty[Long, Long]
      .withDefaultValue(0L)
    val picks = Vector.newBuilder[(Long, Long, Long, Long, Long)]
    var rank = 0L
    while (rank < math.min(k.toLong, cands.length.toLong)) {
      rank += 1
      val best = pool.minBy { case (id, _, rel) =>
        (-(lamS * rel - lamD * maxSim(id)), id)
      }
      val (bid, bv, brel) = best
      picks += ((rank, bid, brel, maxSim(bid),
        lamS * brel - lamD * maxSim(bid)))
      pool -= best
      pool.foreach { case (id, v, _) =>
        val s = dot(v, bv)
        if (s > maxSim(id)) maxSim(id) = s
      }
    }
    val spark = corpus.sparkSession
    import spark.implicits._
    picks.result().toDF("rank", idCol, "rel_dot", "max_sim_dot", "score")
  }

  /** Matryoshka (prefix-dimension) retrieval quality: recall@k of
    * brute-force top-k computed on each PREFIX of the embedding
    * (dims 8, 16, … — the Kusupati et al. 2022 nesting) against the
    * full-dimension top-k — the measurement behind every
    * truncate-the-embedding storage decision. [[truncationEnergy]]
    * answers "how much magnitude survives truncation"; this answers
    * the question that actually matters downstream: "does the NEIGHBOR
    * RANKING survive".
    *
    * One full-dim exact pass (materialized — every prefix arm reuses
    * it) plus one sliced pass per entry in `dims`; slicing happens
    * before quantization, so each arm is exactly [[bruteForceTopK]] on
    * the d-prefix in the same int64 parity domain. Per-arm cost is the
    * brute pass's corpus × |queries| — the diagnostic is meant to run
    * on a query SAMPLE, never as a serving path. Output one row per
    * (dims, query): (dims, query_id, n_hit, k, recall). */
  def matryoshkaRecall(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, dims: Seq[Int]): DataFrame = {
    require(dims.nonEmpty, "matryoshkaRecall: dims must be non-empty")
    require(dims.forall(_ >= 1), "matryoshkaRecall: dims must be >= 1")
    val full = bruteForceTopK(corpus, queries, idCol, vecCol, k)
      .select(col("query_id"), col("corpus_id"))
      .localCheckpoint(true)
    dims.map { d =>
      val pc = corpus.select(col(idCol),
        slice(col(vecCol), 1, d).as(vecCol))
      val pq = queries.select(col(idCol),
        slice(col(vecCol), 1, d).as(vecCol))
      recallReport(full, bruteForceTopK(pc, pq, idCol, vecCol, k), k)
        .select(lit(d.toLong).as("dims"), col("query_id"), col("n_hit"),
          col("k"), col("recall"))
    }.reduce(_ unionByName _)
  }

  /** Recall@k of an approximate top-k result against the exact one —
    * the index-health metric every deployed ANN system monitors (probe
    * counts, nBits, and nprobe are tuned against exactly this number).
    * Both inputs are (query_id, rank, corpus_id, ...) frames as produced
    * by [[bruteForceTopK]] / [[lshTopK]] / [[ivfTopK]].
    *
    * Shape: the exact side is the ground truth (k rows per query); one
    * left join on (query_id, corpus_id) — both sides are k·|queries|
    * rows, vanishing next to the corpus, so this runs wherever the topK
    * outputs land. The division is a single IEEE-exact op over integer
    * operands; rounding follows the decimal-domain house rule. */
  def recallReport(exact: DataFrame, approx: DataFrame, k: Int): DataFrame = {
    require(k >= 1, "recallReport: k must be >= 1")
    val hits = approx.select(col("query_id"), col("corpus_id"))
      .withColumn("_hit", lit(1L))
    exact.select(col("query_id"), col("corpus_id"))
      .join(hits, Seq("query_id", "corpus_id"), "left")
      .groupBy(col("query_id"))
      .agg(sum(coalesce(col("_hit"), lit(0L))).as("n_hit"))
      .select(col("query_id"), col("n_hit"), lit(k.toLong).as("k"),
        round((col("n_hit").cast("double") / lit(k.toDouble))
          .cast("decimal(28,10)"), 6).cast("double").as("recall"))
  }

  /** NDCG@k of an approximate ranking against the exact ranking — the
    * graded companion to [[recallReport]]: recall says how many exact
    * neighbors the index found; NDCG says whether it found the
    * IMPORTANT ones early (an index that returns exact-rank-1 at
    * position 10 and misses nothing still loses NDCG). Relevance of an
    * approx hit at exact rank r is `k+1−r` (top exact neighbor most
    * valuable), misses score 0; DCG discounts by `log₂(rank+1)`.
    *
    * Hash discipline: relevances are integers, every discount divides
    * identically-constructed IEEE doubles (`ln(rank+1)/ln(2)` — same
    * op order both engines), each term is cast DECIMAL(28,10) before
    * summing, and NDCG is one final IEEE divide through the
    * round-then-double device. */
  def ndcgReport(exact: DataFrame, approx: DataFrame, k: Int): DataFrame = {
    require(k >= 1, "ndcgReport: k must be >= 1")
    def discounted(rel: Column, rank: Column): Column =
      (rel.cast("double") /
        (log(rank.cast("double") + 1.0) / log(lit(2.0))))
        .cast("decimal(28,10)")
    val rel = approx.select(col("query_id"), col("rank"), col("corpus_id"))
      .join(exact.select(col("query_id"), col("corpus_id"),
        col("rank").as("_xrank")), Seq("query_id", "corpus_id"), "left")
      .select(col("query_id"), col("rank"),
        coalesce(lit((k + 1).toLong) - col("_xrank"), lit(0L)).as("rel"))
    val dcg = rel.groupBy(col("query_id"))
      .agg(sum(discounted(col("rel"), col("rank"))).as("_dcg"),
        sum(when(col("rel") > 0, 1L).otherwise(0L)).as("n_hit"))
    val idcg = exact.groupBy(col("query_id"))
      .agg(sum(discounted(lit((k + 1).toLong) - col("rank"), col("rank")))
        .as("_idcg"))
    dcg.join(idcg, Seq("query_id"))
      .select(col("query_id"), col("n_hit"),
        round((col("_dcg").cast("double") / col("_idcg").cast("double"))
          .cast("decimal(28,10)"), 6).cast("double").as("ndcg"))
  }

  /** Reciprocal-rank fusion (Cormack/Clarke/Buettcher 2009) — the
    * ensembling step of hybrid retrieval: N ranked arms (dense/lexical/
    * approximate retrievers, each a (query, item, rank) top-k relation)
    * fuse into one ranking by Σ 1/(K + rankᵢ), rank-based so
    * incomparable arm scores never matter.
    *
    * Integer-register parity device: each term is computed as
    * `scale div (K + rank)` in EXACT int64 (Spark `div` ≡ DuckDB `//`
    * for positive operands) so the fused score is an order-independent
    * integer sum — no float summation anywhere, hash-stable under any
    * partitioning. At scale=1e12 the truncation error per term is
    * ≤ 1e-12·(K+rank) of the true reciprocal — rank-order-equivalent to
    * the real-valued RRF for every feasible (K, topK).
    *
    * Scale shape: arms arrive already top-k-per-query (|Q|·k rows, the
    * retrievers did the corpus-scale work), so fusion is one
    * (query, item)-keyed aggregate plus one per-query window — cost is
    * bounded by queries × k × arms, corpus-size-independent.
    *
    * Precondition: each arm emits at most one row per (query, item)
    * (a ranked list — true of every retriever in this library). */
  def rrfFuse(arms: Seq[DataFrame], queryCol: String, itemCol: String,
      rankCol: String, k: Int = 60, topK: Int = 10,
      scale: Long = 1000000000000L): DataFrame = {
    require(arms.nonEmpty, "rrfFuse: at least one arm")
    require(k >= 1 && topK >= 1 && scale >= 1,
      "rrfFuse: k, topK and scale must be >= 1")
    val terms = arms.map(_.select(col(queryCol).as("query_id"),
      col(itemCol).as("corpus_id"),
      expr(s"${scale}L div (${k}L + CAST(`$rankCol` AS BIGINT))")
        .as("term")))
    val fused = terms.reduce(_.unionByName(_))
      .groupBy(col("query_id"), col("corpus_id"))
      .agg(sum(col("term")).as("rrf_q"), count(lit(1)).as("n_arms"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf_q").desc, col("corpus_id"))
    fused.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("rank"), col("corpus_id"),
        col("rrf_q"), col("n_arms"))
  }

  /** Mean reciprocal rank of a system arm against a relevance arm —
    * the first-hit metric completing the retrieval-evaluation set
    * (recall@k: q69, NDCG: q159, Kendall τ: q173): per query, the
    * reciprocal of the highest system rank whose item the relevance
    * arm also retrieved; queries with no hit contribute zero. The
    * reciprocal is the exact integer `scale div rank` (the q167 RRF
    * register), the sum is an order-independent int64 sum, and the
    * mean is ONE final IEEE divide by n_queries·scale, rounded in the
    * decimal domain. One row out; all shuffles are bounded by the
    * probe set, never the corpus. */
  def mrrReport(sys: DataFrame, rel: DataFrame, queryCol: String,
      itemCol: String, rankCol: String,
      scale: Long = 1000000000000L): DataFrame = {
    require(scale >= 1, "mrrReport: scale must be >= 1")
    val s = sys.select(col(queryCol).as("query_id"),
      col(itemCol).as("corpus_id"), col(rankCol).cast("long").as("rs"))
    val r = rel.select(col(queryCol).as("query_id"),
      col(itemCol).as("corpus_id"))
    val firsts = s.join(r, Seq("query_id", "corpus_id"), "left_semi")
      .groupBy(col("query_id"))
      .agg(min(col("rs")).as("first_rel"))
      .agg(count(lit(1)).as("n_hit_queries"),
        sum(expr(s"${scale}L div first_rel")).as("sum_rr"))
    val n = r.agg(countDistinct(col("query_id")).as("n_queries"))
    firsts.crossJoin(broadcast(n))
      .select(col("n_queries"), col("n_hit_queries"),
        coalesce(col("sum_rr"), lit(0L)).as("sum_rr"),
        round((coalesce(col("sum_rr"), lit(0L)).cast("double") /
            (col("n_queries") * lit(scale)).cast("double"))
            .cast("decimal(28,10)"), 6)
          .cast("double").as("mrr"))
  }

  /** Kendall rank correlation between two top-k retrieval arms — the
    * order-agreement companion to recall@k (set overlap, q69) and
    * NDCG (graded position discount, q159): over the items BOTH arms
    * retrieved for a query, how often do the two rankings order a pair
    * the same way? τ = (C − D) / P with C/D the concordant/discordant
    * pair counts and P = m(m−1)/2 — all exact integer registers
    * (within-arm ranks are distinct, so no tie terms), one rounded
    * IEEE divide.
    *
    * Scale shape: the common-item relation is ≤ k rows per query —
    * corpus-size-independent — and the pair self-join is bounded by
    * k(k−1)/2 per query, so cost scales with the probe set, never the
    * corpus. Queries with fewer than 2 common items have no pair order
    * to compare and are dropped. */
  def kendallTau(armA: DataFrame, armB: DataFrame, queryCol: String,
      itemCol: String, rankCol: String): DataFrame = {
    val a = armA.select(col(queryCol).as("query_id"),
      col(itemCol).as("corpus_id"), col(rankCol).cast("long").as("ra"))
    val b = armB.select(col(queryCol).as("query_id"),
      col(itemCol).as("corpus_id"), col(rankCol).cast("long").as("rb"))
    val common = a.join(b, Seq("query_id", "corpus_id"))
    val l = common.select(col("query_id"), col("corpus_id").as("ci"),
      col("ra").as("rai"), col("rb").as("rbi"))
    val r = common.select(col("query_id"), col("corpus_id").as("cj"),
      col("ra").as("raj"), col("rb").as("rbj"))
    val perQ = l.join(r, Seq("query_id"))
      .filter(col("ci") < col("cj"))
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(when((col("rai") - col("raj")) * (col("rbi") - col("rbj")) > 0,
          1L).otherwise(0L)).as("n_concordant"))
    val counts = common.groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_common"))
    counts.join(perQ, Seq("query_id"))
      .filter(col("n_common") >= 2)
      .select(col("query_id"), col("n_common"), col("n_concordant"),
        (col("n_pairs") - col("n_concordant")).as("n_discordant"),
        round(((col("n_concordant") * 2 - col("n_pairs")).cast("double") /
            col("n_pairs").cast("double")).cast("decimal(28,10)"), 6)
          .cast("double").as("tau"))
  }

  /** Hash-checkable k-means training report: run [[trainCentroids]],
    * then one final assignment pass, and emit per centroid its final
    * cell size and an md5 over the centroid's quantized components —
    * pinning the ENTIRE iterative trainer byte-exactly against an
    * oracle that unrolls the same Lloyd rounds in SQL (q36/q71 carried
    * spec-level pins only; this is the stronger driver-checked form).
    *
    * Engine-exactness of the mean: Spark's `(sum / count).cast(long)`
    * is a truncated IEEE double quotient. Both engines divide the SAME
    * exact operands (|sum| ≤ |cell|·1e6 stays far below 2^53), and a
    * correctly-rounded quotient of p/q can only round across an integer
    * boundary if the true quotient is within 2^-53·|p/q| of it — but a
    * NON-integer p/q is at least 1/q away from any integer, and
    * 1/q ≫ 2^-53·|p/q| for every feasible cell size, so trunc agrees
    * bit-exactly across engines. Same argument class as the q61
    * integer-rank percentile device. */
  /** Cell assignment against a trained centroid table (the
    * [[trainCentroids]] `(cent_id, cv)` shape): argmin exact-quantized
    * squared L2 through the packed-long min (HashAggregate — the IVF
    * assignment kernel), ties to the lowest cent_id. Returns
    * `(vid, cent_id)` — the relation [[kmeansReport]] sizes and the
    * cluster-balanced allocation joins on. */
  def assignCells(corpus: DataFrame, trained: DataFrame, idCol: String,
      vecCol: String): DataFrame = {
    val idBits = bitsFor(math.max(trained.count() - 1, 0L))
    corpus
      .select(col(idCol).as("vid"), quantize(col(vecCol)).as("qv"))
      .crossJoin(broadcast(trained))
      .groupBy(col("vid"), col("qv"))
      .agg(unpackId(min(packDistId(sqDistExact(col("qv"), col("cv")),
        col("cent_id"), idBits)), idBits).as("cent_id"))
      .select(col("vid"), col("cent_id"))
  }

  def kmeansReport(corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int): DataFrame =
    kmeansReportTrained(corpus,
      trainCentroids(corpus, idCol, vecCol, k, iters), idCol, vecCol)

  /** [[kmeansReport]] against an already-trained centroid table — the
    * form that rides a shared trained-centroid cache (q89/q204/q208
    * consume one training). */
  def kmeansReportTrained(corpus: DataFrame, trained: DataFrame,
      idCol: String, vecCol: String): DataFrame = {
    val sizes = assignCells(corpus, trained, idCol, vecCol)
      .groupBy(col("cent_id"))
      .agg(count(lit(1)).as("n_assigned"))
    trained.join(sizes, Seq("cent_id"), "left")
      .select(col("cent_id"),
        coalesce(col("n_assigned"), lit(0L)).as("n_assigned"),
        md5(concat_ws(",", col("cv").cast("array<string>")))
          .as("centroid_md5"))
  }

  /** Product-quantization ADC retrieval — the memory-bounded ANN scale
    * path past IVF (Jégou et al. 2011): each vector is stored as
    * `numSubspaces` codeword ids instead of `numSubspaces*subDim`
    * floats, and queries score candidates through a per-query lookup
    * table (ADC: approx dot = Σ over subspaces of dot(query-subvector,
    * assigned codeword)). The codebook relation stands in for offline
    * per-subspace k-means output exactly as q33's centroid subsample
    * does — a trained codebook drops in without touching the plan.
    *
    * Determinism/portability: everything runs in the exact int64
    * quantized domain (sub-slices of the 1e6-quantized vectors), codeword
    * assignment ties break to the lowest codeword id, codeword ids are
    * the row_number order of the codebook's own id column.
    *
    * Scale shape: the codebook (and the per-query lookup table —
    * |queries|·m·|codebook| longs) BROADCAST; the corpus is touched by
    * exactly two map-side passes (subspace split+assign, then
    * code→lookup join), each aggregating with map-side partials; the
    * (vec, subspace) assignment is a HashAggregate via the packed
    * argmin key ([[packDistId]] — a struct min would force
    * SortAggregate), and only (id, s, code) longs ever shuffle. Encode
    * cost n·m·|codebook| and ADC cost n·m·|queries| are the standard PQ
    * trade. idBits=16 caps codebooks at 65k codewords and subspace
    * distances at 2^47 (subDim ≤ 35 at 1e6 quantization) — packDistId
    * throws loudly, never corrupts the argmin, if either bound is hit. */
  def pqTopK(corpus: DataFrame, queries: DataFrame, codebook: DataFrame,
      idCol: String, vecCol: String, numSubspaces: Int, subDim: Int,
      k: Int): DataFrame = {
    val (enc, dt) = pqCodes(corpus, queries, codebook, idCol, vecCol,
      numSubspaces, subDim)
    val adc = enc
      .join(broadcast(dt),
        col("s") === col("_s") && col("code") === col("_cent"))
      .filter(col("corpus_id") =!= col("_qid"))
      .groupBy(col("_qid").as("query_id"), col("corpus_id"))
      .agg(sum(col("dq")).as("dot_pq"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("dot_pq").desc, col("corpus_id").asc)
    adc.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("corpus_id"), col("dot_pq"))
  }

  /** Shared PQ machinery behind [[pqTopK]] and [[ivfPqTopK]]: corpus
    * codes `enc(corpus_id, s, code)` and the per-query ADC lookup table
    * `dt(_qid, _s, _cent, dq)` — one definition so the flat and the
    * IVF-routed retrieval paths can never disagree on encoding. */
  private def pqCodes(corpus: DataFrame, queries: DataFrame,
      codebook: DataFrame, idCol: String, vecCol: String,
      numSubspaces: Int, subDim: Int): (DataFrame, DataFrame) = {
    require(numSubspaces >= 1 && subDim >= 1,
      "pqCodes: numSubspaces and subDim must be >= 1")
    val idBits = 16
    def split(df: DataFrame, idOut: String, subOut: String): DataFrame =
      df.select(col(idOut),
          explode(sequence(lit(0), lit(numSubspaces - 1))).as("s"), col("_q"))
        .select(col(idOut), col("s").cast("long").as("s"),
          slice(col("_q"), col("s") * lit(subDim) + lit(1), lit(subDim))
            .as(subOut))
    val cb = codebook
      .select(col(idCol).as("_cbid"), quantize(col(vecCol)).as("_q"))
      .withColumn("cent_id",
        (row_number().over(Window.orderBy(col("_cbid"))) - 1).cast("long"))
    val cwsub = split(cb.select(col("cent_id"), col("_q")), "cent_id", "cw")
    val enc = split(corpus.select(col(idCol).as("corpus_id"),
        quantize(col(vecCol)).as("_q")), "corpus_id", "sub")
      .join(broadcast(cwsub), "s")
      .groupBy(col("corpus_id"), col("s"))
      .agg(unpackId(min(packDistId(sqDistExact(col("sub"), col("cw")),
        col("cent_id"), idBits)), idBits).as("code"))
    val dt = split(queries.select(col(idCol).as("_qid"),
        quantize(col(vecCol)).as("_q")), "_qid", "qsub")
      .join(broadcast(cwsub), "s")
      .select(col("_qid"), col("s").as("_s"), col("cent_id").as("_cent"),
        dotExact(col("qsub"), col("cw")).as("dq"))
    (enc, dt)
  }

  /** Composed IVF-PQ retrieval — the index a 100-TB ANN stack actually
    * runs (q33 routes, q87 scores; this does both in one pass): the
    * query probes its `nprobe` nearest TRAINED cells, and ADC scoring
    * touches ONLY the probed cells' codes. `rows_scanned` (per query:
    * candidates that reached the ADC join) is emitted as a column so
    * the scan reduction vs flat PQ is part of the checked output, not
    * a claim.
    *
    * Scale shape: the corpus pays two id-keyed passes — PQ encode
    * ([[pqCodes]], broadcast codebook) and cell assignment
    * ([[assignCells]], broadcast centroids) — joined once on the id
    * (at scale, codes and cell ids live in the same bucketed store).
    * The probe set (|Q|·nprobe rows) BROADCASTS onto that relation, so
    * the cell-pruning filter runs BEFORE the ADC lookup join and only
    * ~nprobe/C of the corpus codes flow into scoring; the ADC table
    * broadcasts as in [[pqTopK]]. Only (id, s, code, cell) longs ever
    * shuffle. */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, trained: DataFrame,
      codebook: DataFrame, idCol: String, vecCol: String,
      numSubspaces: Int, subDim: Int, k: Int, nprobe: Int = 2): DataFrame = {
    require(k >= 1 && nprobe >= 1, "ivfPqTopK: k and nprobe must be >= 1")
    val (enc, dt) = pqCodes(corpus, queries, codebook, idCol, vecCol,
      numSubspaces, subDim)
    val cells = assignCells(corpus, trained, idCol, vecCol)
    // query probes: nprobe nearest trained centroids (|Q| × C rank)
    val qd = queries.select(col(idCol).as("_pqid"),
        quantize(col(vecCol)).as("_qq"))
      .crossJoin(broadcast(trained))
      .withColumn("_d", sqDistExact(col("_qq"), col("cv")))
    val pw = Window.partitionBy("_pqid")
      .orderBy(col("_d").asc, col("cent_id").asc)
    val probes = qd.withColumn("_pr", row_number().over(pw))
      .filter(col("_pr") <= nprobe)
      .select(col("_pqid"), col("cent_id"))
    // cell-pruned candidates: probes broadcast onto the (codes ⨝ cell)
    // relation BEFORE any ADC work — the whole point of the composition
    val cand = enc.join(cells.withColumnRenamed("vid", "corpus_id"),
        "corpus_id")
      .join(broadcast(probes), Seq("cent_id"))
      .filter(col("corpus_id") =!= col("_pqid"))
    val adc = cand.join(broadcast(dt),
        col("_pqid") === col("_qid") && col("s") === col("_s") &&
          col("code") === col("_cent"))
      .groupBy(col("_pqid").as("query_id"), col("corpus_id"))
      .agg(sum(col("dq")).as("dot_pq"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("dot_pq").desc, col("corpus_id").asc)
    adc
      .withColumn("rows_scanned",
        count(lit(1)).over(Window.partitionBy(col("query_id"))))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("corpus_id"), col("dot_pq"),
        col("rows_scanned"))
  }

  /** Residual IVF-PQ retrieval — the refinement production IVF-PQ
    * indexes actually ship (Jégou et al. 2011 §IV; the FAISS IndexIVFPQ
    * default): PQ encodes the RESIDUAL `r(x) = x − centroid(cell(x))`
    * instead of the raw vector. Residuals concentrate near the origin,
    * so the same codebook budget spends its codewords on a far smaller
    * ball — reconstruction error (and therefore ADC ranking error)
    * drops vs [[ivfPqTopK]] at identical index size.
    *
    * Inner-product ADC decomposes exactly:
    * `dot(q, x) = dot(q, c) + dot(q, r)` — so the score is the exact
    * int64 `dot(q, centroid)` (computed once per probe, |Q|·nprobe
    * values) plus the subspace LUT sum `Σ_s dot(q_s, cw_{code_s})`.
    * The LUT is CELL-INDEPENDENT (it contracts the raw query against
    * residual codewords), so one |Q|·m·|codebook| table broadcasts, same
    * as flat PQ — the residual trick costs no extra LUT volume for IP
    * scoring (an L2 formulation would need per-(query, cell) tables).
    *
    * Codebook: residuals of the caller's codebook rows under THEIR
    * assigned cells (the offline stand-in device of q87 — a trained
    * residual codebook drops in without touching the plan). Everything
    * stays in the exact quantized int64 domain; ties break to the
    * lowest codeword / corpus id.
    *
    * Scale shape: the corpus pays the [[assignCells]] pass (broadcast
    * centroids) and ONE residual projection (native `sub_longs`,
    * whole-stage codegen) feeding the subspace argmin HashAggregate —
    * codes and cell ids come out of the same relation, so unlike
    * [[ivfPqTopK]] there is no codes⋈cells id join at all. Probes and
    * the LUT broadcast; only (id, cell, s, code) longs ever shuffle.
    * `rows_scanned` is emitted per query as in [[ivfPqTopK]] so the
    * cell-pruning is part of the checked output. */
  def ivfPqResidualTopK(corpus: DataFrame, queries: DataFrame,
      trained: DataFrame, codebook: DataFrame, idCol: String, vecCol: String,
      numSubspaces: Int, subDim: Int, k: Int, nprobe: Int = 2): DataFrame =
    ivfPqResidualServe(
      ivfPqResidualIndex(corpus, trained, codebook, idCol, vecCol,
        numSubspaces, subDim),
      ivfProbes(queries, trained, idCol, vecCol, nprobe),
      queries, trained, codebook, idCol, vecCol, numSubspaces, subDim, k)

  /** The persistable residual index relation `(corpus_id, cent_id, s,
    * code)` — at rest this is a parquet layout PARTITIONED BY cent_id,
    * so probing nprobe cells is partition pruning, never a corpus scan
    * (q218 serves from exactly that artifact). Encode: nearest residual
    * codeword per subspace, packed argmin (HashAggregate with map-side
    * partials); codes and cell ids come out of ONE residual projection,
    * so there is no codes⋈cells id join at all. */
  def ivfPqResidualIndex(corpus: DataFrame, trained: DataFrame,
      codebook: DataFrame, idCol: String, vecCol: String,
      numSubspaces: Int, subDim: Int): DataFrame = {
    require(numSubspaces >= 1 && subDim >= 1,
      "ivfPqResidualIndex: numSubspaces and subDim must be >= 1")
    // residual codewords can span ±2·scale per component, so size the
    // packed-argmin id bits from the REAL codebook cardinality instead
    // of pqCodes' fixed 16 — maximal distance headroom, loud overflow
    val idBits = bitsFor(math.max(codebook.count() - 1, 0L))
    // corpus residuals: one broadcast-join pass carries the cell id AND
    // the residual out of the same projection
    val resid = residualArrays(corpus, trained, idCol, vecCol)
    val cwsub = subspaceSplit(
      residualCodewords(codebook, trained, idCol, vecCol),
      Seq("code"), "_rq", "cw", numSubspaces, subDim)
    subspaceSplit(resid.select(col("vid").as("corpus_id"), col("cent_id"),
        col("_rq")), Seq("corpus_id", "cent_id"), "_rq", "sub",
        numSubspaces, subDim)
      .join(broadcast(cwsub), "s")
      .groupBy(col("corpus_id"), col("cent_id"), col("s"))
      .agg(unpackId(min(packDistId(sqDistExact(col("sub"), col("cw")),
        col("code"), idBits)), idBits).as("code"))
  }

  /** Query→cell routing: the nprobe nearest trained cells per query,
    * carrying the exact first-order term `dot(q, centroid)` the
    * residual ADC score adds back. `(_pqid, cent_id, _dot_qc)`. */
  def ivfProbes(queries: DataFrame, trained: DataFrame, idCol: String,
      vecCol: String, nprobe: Int): DataFrame = {
    require(nprobe >= 1, "ivfProbes: nprobe must be >= 1")
    val qd = queries
      .select(col(idCol).as("_pqid"), quantize(col(vecCol)).as("_qq"))
      .crossJoin(broadcast(trained))
      .withColumn("_d", sqDistExact(col("_qq"), col("cv")))
      .withColumn("_dot_qc", dotExact(col("_qq"), col("cv")))
    val pw = Window.partitionBy("_pqid")
      .orderBy(col("_d").asc, col("cent_id").asc)
    qd.withColumn("_pr", row_number().over(pw))
      .filter(col("_pr") <= nprobe)
      .select(col("_pqid"), col("cent_id"), col("_dot_qc"))
  }

  /** Serve top-k from a residual index relation (freshly built or read
    * back from its cent_id-partitioned store) and a probe relation:
    * the cell-independent LUT broadcasts, probes broadcast onto the
    * index BEFORE any ADC work, `rows_scanned` is emitted per query.
    * [[ivfPqResidualTopK]] is exactly index→probes→this. */
  def ivfPqResidualServe(index: DataFrame, probes: DataFrame,
      queries: DataFrame, trained: DataFrame, codebook: DataFrame,
      idCol: String, vecCol: String, numSubspaces: Int, subDim: Int,
      k: Int): DataFrame = {
    require(k >= 1, "ivfPqResidualServe: k must be >= 1")
    val cwsub = subspaceSplit(
      residualCodewords(codebook, trained, idCol, vecCol),
      Seq("code"), "_rq", "cw", numSubspaces, subDim)
    // cell-independent residual LUT: dot(raw query subvector, codeword)
    val dt = subspaceSplit(queries.select(col(idCol).as("_qid"),
        quantize(col(vecCol)).as("_qq")), Seq("_qid"), "_qq", "qsub",
        numSubspaces, subDim)
      .join(broadcast(cwsub), "s")
      .select(col("_qid"), col("s").as("_s"), col("code").as("_code"),
        dotExact(col("qsub"), col("cw")).as("dq"))
    // cell-pruned candidates BEFORE any ADC work, as in ivfPqTopK
    val cand = index.join(broadcast(probes), Seq("cent_id"))
      .filter(col("corpus_id") =!= col("_pqid"))
    val adc = cand.join(broadcast(dt),
        col("_pqid") === col("_qid") && col("s") === col("_s") &&
          col("code") === col("_code"))
      .groupBy(col("_pqid").as("query_id"), col("corpus_id"))
      // _dot_qc is constant within the group (a candidate reaches a
      // query through exactly one cell — its own); min picks it exactly
      .agg((min(col("_dot_qc")) + sum(col("dq"))).as("dot_rpq"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("dot_rpq").desc, col("corpus_id").asc)
    adc
      .withColumn("rows_scanned",
        count(lit(1)).over(Window.partitionBy(col("query_id"))))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("corpus_id"),
        col("dot_rpq"), col("rows_scanned"))
  }

  /** Subspace split: one row per (id, subspace) with the `subDim`-wide
    * slice — Generate+Project, fuses in whole-stage codegen (never a
    * `transform` lambda; the q66/q34 interpreted-HOF trap). */
  private def subspaceSplit(df: DataFrame, idOuts: Seq[String], vec: String,
      subOut: String, numSubspaces: Int, subDim: Int): DataFrame =
    df.select(idOuts.map(col) :+
        explode(sequence(lit(0), lit(numSubspaces - 1))).as("s") :+
        col(vec) : _*)
      .select(idOuts.map(col) :+ col("s").cast("long").as("s") :+
        slice(col(vec), col("s") * lit(subDim) + lit(1), lit(subDim))
          .as(subOut) : _*)

  /** Residual projection `(vid, cent_id, _rq = qv − centroid(cell))`
    * over a corpus: one [[assignCells]] pass plus one broadcast join,
    * residual computed by the native `sub_longs`. */
  private def residualArrays(corpus: DataFrame, trained: DataFrame,
      idCol: String, vecCol: String): DataFrame =
    corpus
      .select(col(idCol).as("vid"), quantize(col(vecCol)).as("_qv"))
      .join(assignCells(corpus, trained, idCol, vecCol), "vid")
      .join(broadcast(trained), "cent_id")
      .select(col("vid"), col("cent_id"),
        subExact(col("_qv"), col("cv")).as("_rq"))

  /** Residual codewords of a codebook relation under its own cell
    * assignments; codeword ids are the row_number order of the codebook
    * id column (model-sized relation — a global window is fine). */
  private def residualCodewords(codebook: DataFrame, trained: DataFrame,
      idCol: String, vecCol: String): DataFrame =
    codebook
      .select(col(idCol).as("_cbid"), quantize(col(vecCol)).as("_cq"))
      .join(assignCells(codebook, trained, idCol, vecCol)
        .withColumnRenamed("vid", "_cbid"), "_cbid")
      .join(broadcast(trained), "cent_id")
      .select(col("_cbid"), subExact(col("_cq"), col("cv")).as("_rq"))
      .withColumn("code",
        (row_number().over(Window.orderBy(col("_cbid"))) - 1).cast("long"))

  /** Σ over (vector, subspace) of the argmin squared distance to the
    * codeword set — the total PQ reconstruction error, exactly the
    * quantity ADC scoring absorbs as ranking noise. One row
    * `(total_sq_err)`. */
  private def minEncodeError(vecsQ: DataFrame, cwsub: DataFrame,
      numSubspaces: Int, subDim: Int): DataFrame =
    subspaceSplit(vecsQ, Seq("vid"), "_vq", "sub", numSubspaces, subDim)
      .join(broadcast(cwsub), "s")
      .groupBy(col("vid"), col("s"))
      .agg(min(sqDistExact(col("sub"), col("cw"))).as("_d"))
      .agg(sum(col("_d")).as("total_sq_err"))

  /** Flat-PQ total reconstruction error (the q87/q208 encoding). */
  def pqEncodeError(corpus: DataFrame, codebook: DataFrame, idCol: String,
      vecCol: String, numSubspaces: Int, subDim: Int): DataFrame = {
    val cb = codebook
      .select(col(idCol).as("_cbid"), quantize(col(vecCol)).as("_rq"))
      .withColumn("code",
        (row_number().over(Window.orderBy(col("_cbid"))) - 1).cast("long"))
    val cwsub = subspaceSplit(cb, Seq("code"), "_rq", "cw",
      numSubspaces, subDim)
    minEncodeError(
      corpus.select(col(idCol).as("vid"), quantize(col(vecCol)).as("_vq")),
      cwsub, numSubspaces, subDim)
  }

  /** Residual-PQ total reconstruction error (the [[ivfPqResidualTopK]]
    * encoding): same codebook budget, residual quantization target. */
  def pqResidualEncodeError(corpus: DataFrame, trained: DataFrame,
      codebook: DataFrame, idCol: String, vecCol: String,
      numSubspaces: Int, subDim: Int): DataFrame = {
    val cwsub = subspaceSplit(
      residualCodewords(codebook, trained, idCol, vecCol),
      Seq("code"), "_rq", "cw", numSubspaces, subDim)
    minEncodeError(
      residualArrays(corpus, trained, idCol, vecCol)
        .select(col("vid"), col("_rq").as("_vq")),
      cwsub, numSubspaces, subDim)
  }

  /** Per-cell residual quantization error — the index-health breakdown
    * behind [[pqResidualEncodeError]]'s total: cells whose per-vector
    * error balloons need more codewords (or a retrain); empty/ skewed
    * cells show up in `n_vec`. One row per non-empty cell:
    * `(cent_id, n_vec, cell_sq_err)`. Same two map-side passes as the
    * encoder; the final aggregate is |cells|-bounded. */
  def pqResidualCellError(corpus: DataFrame, trained: DataFrame,
      codebook: DataFrame, idCol: String, vecCol: String,
      numSubspaces: Int, subDim: Int): DataFrame = {
    val cwsub = subspaceSplit(
      residualCodewords(codebook, trained, idCol, vecCol),
      Seq("code"), "_rq", "cw", numSubspaces, subDim)
    subspaceSplit(residualArrays(corpus, trained, idCol, vecCol)
        .select(col("vid"), col("cent_id"), col("_rq").as("_vq")),
        Seq("vid", "cent_id"), "_vq", "sub", numSubspaces, subDim)
      .join(broadcast(cwsub), "s")
      .groupBy(col("vid"), col("cent_id"), col("s"))
      .agg(min(sqDistExact(col("sub"), col("cw"))).as("_d"))
      .groupBy(col("cent_id"))
      .agg(countDistinct(col("vid")).as("n_vec"),
        sum(col("_d")).as("cell_sq_err"))
  }

  /** Two-stage serving refine: exact quantized-dot re-scoring of an ANN
    * candidate relation `(query_id, rank, corpus_id, <approxScoreCol>)`
    * — the standard coarse-retrieve → exact-rerank production path.
    * The candidate set (|Q|·k_cand rows) BROADCASTS onto the id-keyed
    * corpus join, so the refine stage touches corpus vectors for
    * candidates only (at rest, an id-bucketed store makes this a point
    * lookup, never a scan). Emits both scores plus the stage-1 rank as
    * `approx_rank`, so rank movement under refinement is part of the
    * checked output. */
  def exactRerank(candidates: DataFrame, corpus: DataFrame,
      queries: DataFrame, idCol: String, vecCol: String, k: Int,
      approxScoreCol: String = "dot_rpq"): DataFrame = {
    require(k >= 1, "exactRerank: k must be >= 1")
    val c = corpus.select(col(idCol).as("corpus_id"),
      quantize(col(vecCol)).as("_cq"))
    val q = queries.select(col(idCol).as("query_id"),
      quantize(col(vecCol)).as("_qq"))
    val cand = candidates.select(col("query_id"), col("corpus_id"),
      col(approxScoreCol), col("rank").as("approx_rank"))
    val scored = c.join(broadcast(cand), "corpus_id")
      .join(broadcast(q), "query_id")
      .withColumn("dot_q", dotExact(col("_qq"), col("_cq")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("dot_q").desc, col("corpus_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("corpus_id"), col("dot_q"),
        col(approxScoreCol), col("approx_rank"))
  }

  /** Late-interaction (ColBERT-style) MaxSim re-scoring of an ANN
    * candidate relation: document and query vectors are treated as
    * bags of `numVectors` sub-vectors (the multi-vector layout; here
    * the deterministic subspace split of the single embedding stands
    * in for per-token vectors exactly as the codebook subsample stands
    * in for trained PQ centroids), and
    * `score(q, d) = Σ_{qs} max_{ds} dot(q_qs, d_ds)` — the scorer that
    * credits cross-positioned matches a single pooled dot misses.
    *
    * Scale shape: candidates (|Q|·k_cand) BROADCAST onto the id-keyed
    * corpus join, so sub-vector scoring touches candidate rows only —
    * the two-stage serving shape of [[exactRerank]] with the
    * late-interaction scorer; the max-then-sum runs as two
    * HashAggregates over |Q|·k_cand·m² fixed-width rows. Exact int64
    * dots, ties to the lower corpus id; both the MaxSim rank and the
    * stage-1 rank are emitted. */
  def maxSimRerank(candidates: DataFrame, corpus: DataFrame,
      queries: DataFrame, idCol: String, vecCol: String, numVectors: Int,
      subDim: Int, k: Int): DataFrame = {
    require(numVectors >= 1 && subDim >= 1 && k >= 1,
      "maxSimRerank: numVectors, subDim, k must be >= 1")
    val cand = candidates.select(col("query_id"), col("corpus_id"),
      col("rank").as("approx_rank"))
    val c = corpus.select(col(idCol).as("corpus_id"),
        quantize(col(vecCol)).as("_vq"))
      .join(broadcast(cand), "corpus_id")
    val dsub = subspaceSplit(c, Seq("corpus_id", "query_id", "approx_rank"),
        "_vq", "dsub", numVectors, subDim)
      .withColumnRenamed("s", "_ds")
    val qsub = subspaceSplit(queries.select(col(idCol).as("query_id"),
        quantize(col(vecCol)).as("_qq")), Seq("query_id"), "_qq", "qsub",
        numVectors, subDim)
      .withColumnRenamed("s", "_qs")
    val scored = dsub.join(broadcast(qsub), "query_id")
      .groupBy(col("query_id"), col("corpus_id"), col("approx_rank"),
        col("_qs"))
      .agg(max(dotExact(col("qsub"), col("dsub"))).as("_m"))
      .groupBy(col("query_id"), col("corpus_id"), col("approx_rank"))
      .agg(sum(col("_m")).as("maxsim_q"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("maxsim_q").desc, col("corpus_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("corpus_id"),
        col("maxsim_q"), col("approx_rank"))
  }

  /** Norm-quantile outlier detection — the embedding-health FILTER that
    * follows [[embeddingStats]]' report: vectors whose exact quantized
    * squared norm falls outside the [p1, p99] percentile band are
    * flagged for exclusion before ANN indexing (zero/collapsed vectors
    * drag down every neighborhood; exploded norms dominate dot
    * products). Percentile bounds use the q61 integer-rank
    * percentile_disc device — engine-exact, unlike interpolating or
    * sketching percentile functions.
    *
    * Scale shape: the ranks come from [[Ranks.bucketedGlobalRank]] —
    * partitioned two-level ranking over the narrow (id, norm) relation,
    * no corpus-cardinality single-task sort (ScaleSpec pins the shape);
    * the outlier filter itself stays a map-side comparison against two
    * broadcast scalars. */
  def normOutliers(embs: DataFrame, idCol: String, vecCol: String,
      loPct: Int = 1, hiPct: Int = 99): DataFrame = {
    require(0 < loPct && loPct < hiPct && hiPct < 100,
      "normOutliers: need 0 < loPct < hiPct < 100")
    val norms = embs.select(col(idCol),
      dotExact(quantize(col(vecCol)), quantize(col(vecCol))).as("norm_sq_q"))
    val ranked = Ranks.bucketedGlobalRank(norms, "norm_sq_q", idCol)
      .localCheckpoint(true) // count + two bound probes + the filter
    val n = ranked.agg(count(lit(1)).as("_n"))
    def bound(pct: Int, name: String): DataFrame = ranked
      .crossJoin(broadcast(n))
      .filter(col("_rn") ===
        greatest(lit(1L), expr(s"(_n * $pct + 99) div 100")))
      .select(col("norm_sq_q").as(name))
    ranked.crossJoin(broadcast(bound(loPct, "lo_bound")))
      .crossJoin(broadcast(bound(hiPct, "hi_bound")))
      .filter(col("norm_sq_q") < col("lo_bound") ||
        col("norm_sq_q") > col("hi_bound"))
      .select(col(idCol), col("norm_sq_q"), col("lo_bound"), col("hi_bound"))
  }

  /** kNN label purity — the embedding-quality report over a
    * [[knnGraph]]: per source label, the fraction of graph edges whose
    * neighbor carries the SAME label. High purity means the embedding
    * space separates the labels (safe to use for semantic dedup /
    * clustering); a label whose purity collapses is poorly embedded.
    * The q69 device applied to the graph: derived entirely from an
    * upstream result, so the oracle reuses the graph's own SQL body
    * verbatim and cannot drift.
    *
    * Shape: the graph is k·n rows and the label relation (id, label) is
    * a projection of the corpus — two id-keyed joins (no vectors, no
    * text), then a |labels|-bounded aggregate with map-side partials. */
  def labelPurity(graph: DataFrame, labels: DataFrame, idCol: String,
      labelCol: String): DataFrame = {
    val src = labels.select(col(idCol).as("src_id"),
      col(labelCol).cast("long").as("_src_label"))
    val nbr = labels.select(col(idCol).as("nbr_id"),
      col(labelCol).cast("long").as("_nbr_label"))
    graph.join(src, "src_id").join(nbr, "nbr_id")
      .groupBy(col("_src_label").as("label"))
      .agg(count(lit(1)).as("n_edges"),
        sum(when(col("_src_label") === col("_nbr_label"), 1L).otherwise(0L))
          .as("n_same"))
      .select(col("label"), col("n_edges"), col("n_same"),
        round((col("n_same").cast("double") / col("n_edges").cast("double"))
          .cast("decimal(28,10)"), 6).cast("double").as("purity"))
  }

  /** Unnormalized in-walk centrality over a directed graph (the
    * representative-selection signal for the kNN similarity graph:
    * vectors many short walks END at sit in dense, well-connected
    * regions — the coreset/keep-best candidates; norm-outlier and
    * isolated vectors score 0). n_t(v) = Σ_{u→v} n_{t-1}(u) with
    * n_0 ≡ 1 — PURE INTEGER (no degree normalization, no damping), so
    * every count is order-independent and bit-stable across engines
    * and partitionings, where a float PageRank never hashes stably.
    *
    * Each step is one shuffle join (edges ⋈ previous counts on the
    * source) plus one map-side-combined aggregation on the
    * destination — t steps, t bounded small (default 3). Counts grow
    * ≤ ×maxDegree per step: with k-NN edges (k = 3) and 3 steps the
    * bound is 27 ≪ int64. At a 1000-executor scale both sides of the
    * join are (id, count) pairs — fixed width, never the vectors. */
  def walkCentrality(edges: DataFrame, srcCol: String, dstCol: String,
      nodes: DataFrame, idCol: String, steps: Int = 3): DataFrame = {
    require(steps >= 1 && steps <= 12,
      "walkCentrality: steps must be in [1, 12] (counts grow per step)")
    val e = edges.select(col(srcCol).as("_src"), col(dstCol).as("_dst"))
    var cur = nodes.select(col(idCol).as("_id"), lit(1L).as("_w"))
    val levels = (1 to steps).map { _ =>
      cur = e.join(cur, e("_src") === cur("_id"))
        .groupBy(col("_dst").as("_id")).agg(sum(col("_w")).as("_w"))
      cur
    }
    levels.zipWithIndex.foldLeft(nodes.select(col(idCol))) {
      case (acc, (lvl, i)) =>
        acc.join(lvl.select(col("_id"), col("_w").as(s"walks${i + 1}")),
            acc(idCol) === lvl("_id"), "left")
          .drop("_id")
    }.select(col(idCol) +: (1 to steps).map(i =>
      coalesce(col(s"walks$i"), lit(0L)).as(s"walks$i")): _*)
  }

  /** Deterministic cyclic Jacobi eigendecomposition of a small
    * symmetric matrix (the d×d covariance — driver-side by design:
    * Spark MLlib's PCA does exactly this shape, distributed covariance
    * then local eigen; here the solver is dependency-free and fully
    * deterministic: fixed cyclic (p,q) order, fixed sweep count, no
    * data-dependent pivoting). Returns (eigenvalues, eigenvectors as
    * COLUMNS) unsorted — callers order and fix signs. */
  def jacobiEigen(cIn: Array[Array[Double]],
      sweeps: Int = 30): (Array[Double], Array[Array[Double]]) = {
    val d = cIn.length
    require(d >= 1 && cIn.forall(_.length == d), "jacobiEigen: square input")
    val a = Array.tabulate(d, d)((i, j) => cIn(i)(j))
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    var s = 0
    while (s < sweeps) {
      var p = 0
      while (p < d - 1) {
        var q = p + 1
        while (q < d) {
          val apq = a(p)(q)
          if (math.abs(apq) > 1e-300) {
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * apq)
            val t =
              if (theta >= 0) 1.0 / (theta + math.sqrt(theta * theta + 1.0))
              else -1.0 / (-theta + math.sqrt(theta * theta + 1.0))
            val c = 1.0 / math.sqrt(t * t + 1.0)
            val sn = t * c
            var i = 0
            while (i < d) { // A := A·G (columns p, q)
              val aip = a(i)(p); val aiq = a(i)(q)
              a(i)(p) = c * aip - sn * aiq
              a(i)(q) = sn * aip + c * aiq
              i += 1
            }
            i = 0
            while (i < d) { // A := Gᵀ·A (rows p, q)
              val api = a(p)(i); val aqi = a(q)(i)
              a(p)(i) = c * api - sn * aqi
              a(q)(i) = sn * api + c * aqi
              i += 1
            }
            i = 0
            while (i < d) { // V := V·G
              val vip = v(i)(p); val viq = v(i)(q)
              v(i)(p) = c * vip - sn * viq
              v(i)(q) = sn * vip + c * viq
              i += 1
            }
          }
          q += 1
        }
        p += 1
      }
      s += 1
    }
    (Array.tabulate(d)(i => a(i)(i)), v)
  }

  /** PCA report — the full pipeline over an embedding column:
    * (1) distributed exact covariance ([[gramCovariance]]'s integer
    * sums, re-derived at full double precision from the unrounded
    * sums); (2) driver-side deterministic Jacobi on the d×d matrix
    * (bounded work, the MLlib shape); (3) a DISTRIBUTED verification
    * column: the corpus is projected onto each principal axis and the
    * projection variance computed with the decimal-sum discipline
    * (order-independent for any partitioning) — for a true eigenpair
    * it must equal the eigenvalue, so the report carries its own
    * proof. Eigenvector sign is fixed deterministically (largest-|·|
    * component positive, lowest index on ties). Iterative + driver
    * math → no SQL oracle (rows-only, the q36/q135 contract);
    * PcaSpec pins recovery of planted structure, orthonormality,
    * trace identity, the sf0.001 golden hash, and that proj_var ≈
    * eigenvalue on real data. */
  def pcaReport(emb: DataFrame, idCol: String, vecCol: String,
      k: Int): DataFrame = {
    val spark = emb.sparkSession
    import org.apache.spark.sql.functions.{round => sround}
    val g = gramCovariance(emb, idCol, vecCol)
      .select("i", "j", "n", "sum_i", "sum_j", "sum_ij")
      .collect()
    require(g.nonEmpty, "pcaReport: empty input")
    val n = g.head.getLong(2)
    val d = g.map(_.getLong(1)).max.toInt + 1
    require(k >= 1 && k <= d, s"pcaReport: k must be in [1, $d]")
    val c = Array.ofDim[Double](d, d)
    g.foreach { r =>
      val (i, j) = (r.getLong(0).toInt, r.getLong(1).toInt)
      // full-precision covariance in ORIGINAL units from the exact sums
      val cov = ((r.getLong(5).toDouble / n) -
        (r.getLong(3).toDouble / n) * (r.getLong(4).toDouble / n)) / 1.0e12
      c(i)(j) = cov; c(j)(i) = cov
    }
    val (evals, evecs) = jacobiEigen(c)
    val order = (0 until d).sortBy(i => (-evals(i), i)).take(k)
    val top = order.map { col0 =>
      val v = Array.tabulate(d)(i => evecs(i)(col0))
      val m = v.indices.maxBy(i => (math.abs(v(i)), -i))
      if (v(m) < 0) v.map(x => -x) else v
    }.toArray
    val lambda = order.map(evals).toArray
    val trace = (0 until d).map(i => c(i)(i)).sum
    val bcV = spark.sparkContext.broadcast(top)
    val projUdf = udf((e: Seq[Float]) => {
      val vs = bcV.value
      vs.map { v =>
        var s = 0.0; var i = 0
        while (i < v.length) { s += v(i) * e(i).toDouble; i += 1 }
        s
      }.toSeq
    })
    // distributed verification: decimal-truncated sums are exact and
    // order-independent, so proj_var is partitioning-stable
    val projected = emb.select(posexplode(projUdf(col(vecCol)))
      .as(Seq("comp", "p")))
    val verify = projected.groupBy(col("comp"))
      .agg(count(lit(1)).as("np"),
        sum(col("p").cast("decimal(28,10)")).as("sp"),
        sum((col("p") * col("p")).cast("decimal(28,10)")).as("spp"))
      .select(col("comp"),
        ((col("spp").cast("double") / col("np")) -
          (col("sp").cast("double") / col("np")) *
            (col("sp").cast("double") / col("np"))).as("proj_var"))
    import spark.implicits._
    val cum = lambda.scanLeft(0.0)(_ + _).tail
    val driverRows = lambda.zipWithIndex.map { case (l, r) =>
      (r, r.toLong + 1, l, cum(r) / trace)
    }.toSeq.toDF("comp", "rank", "eigenvalue", "explained_cum")
    driverRows.join(broadcast(verify), Seq("comp"))
      .select(col("rank"),
        sround(col("eigenvalue").cast("decimal(28,10)"), 6)
          .cast("double").as("eigenvalue"),
        sround(col("explained_cum").cast("decimal(28,10)"), 6)
          .cast("double").as("explained_cum"),
        sround(col("proj_var").cast("decimal(28,10)"), 6)
          .cast("double").as("proj_var"))
  }

  /** PCA whitening model: mean vector + the k whitening rows
    * W = Λ^(−1/2)·Vᵀ, so y = W·(x − μ) has identity covariance over
    * the training corpus. Driver-sized (k·d + d doubles). */
  final case class WhitenModel(mean: Array[Double], w: Array[Array[Double]])

  /** Fit a whitening model from the exact covariance — driver math on
    * the [[gramCovariance]] sums + [[jacobiEigen]], deterministic
    * end-to-end (fixed sweep order, fixed sign convention, eigenvalue
    * floor `epsilon` guards near-null axes). */
  def fitWhitening(emb: DataFrame, idCol: String, vecCol: String, k: Int,
      epsilon: Double = 1e-12): WhitenModel = {
    val g = gramCovariance(emb, idCol, vecCol)
      .select("i", "j", "n", "sum_i", "sum_j", "sum_ij").collect()
    require(g.nonEmpty, "fitWhitening: empty input")
    val n = g.head.getLong(2)
    val d = g.map(_.getLong(1)).max.toInt + 1
    require(k >= 1 && k <= d, s"fitWhitening: k must be in [1, $d]")
    val c = Array.ofDim[Double](d, d)
    val mean = new Array[Double](d)
    g.foreach { r =>
      val (i, j) = (r.getLong(0).toInt, r.getLong(1).toInt)
      val cov = ((r.getLong(5).toDouble / n) -
        (r.getLong(3).toDouble / n) * (r.getLong(4).toDouble / n)) / 1.0e12
      c(i)(j) = cov; c(j)(i) = cov
      if (i == j) mean(i) = r.getLong(3).toDouble / n / 1.0e6
    }
    val (evals, evecs) = jacobiEigen(c)
    val order = (0 until d).sortBy(i => (-evals(i), i)).take(k)
    val w = order.map { col0 =>
      val v = Array.tabulate(d)(i => evecs(i)(col0))
      val m = v.indices.maxBy(i => (math.abs(v(i)), -i))
      val sgn = if (v(m) < 0) -1.0 else 1.0
      val scale = 1.0 / math.sqrt(math.max(evals(col0), epsilon))
      v.map(x => x * sgn * scale)
    }.toArray
    WhitenModel(mean, w)
  }

  /** Apply a whitening model: one broadcast, one per-row kernel, no
    * shuffle — appends `outCol` as the k-dim whitened vector. Note the
    * whitened values come from QUANTIZED-domain training statistics
    * applied to raw floats, so covariance of the output is identity up
    * to quantization error (PcaSpec closes the loop by running
    * [[gramCovariance]] over the whitened output). */
  def whiten(emb: DataFrame, vecCol: String, model: WhitenModel,
      outCol: String = "whitened"): DataFrame = {
    val bc = emb.sparkSession.sparkContext.broadcast(model)
    val u = udf((e: Seq[Float]) => {
      val m = bc.value
      val cent = Array.tabulate(m.mean.length)(i => e(i).toDouble - m.mean(i))
      m.w.map { row =>
        var s = 0.0; var i = 0
        while (i < row.length) { s += row(i) * cent(i); i += 1 }
        s
      }.toSeq
    })
    emb.withColumn(outCol, u(col(vecCol)))
  }

  /** Distributed EXACT Gram/covariance accumulation — the first phase
    * of PCA / whitening / decorrelation over an embedding column, and
    * the one dense-linear-algebra primitive a 100 TB embedding pipeline
    * cannot express as a per-row map: Σ x·xᵀ over the corpus.
    *
    * Scale shape: each partition accumulates the UPPER-TRIANGLE Gram of
    * its rows into a d(d+1)/2 long array inside `mapPartitions` —
    * bounded state, one corpus pass, no per-pair rows ever materialize
    * (the relational explode-self-join form shuffles n·d² rows; this
    * shuffles #partitions · d(d+1)/2 partial rows, ~66k at d=64 and 32
    * partitions, for ANY corpus size). Partials merge by integer sum —
    * order-independent, so the matrix is bit-stable for any
    * partitioning, and the quantized-int64 domain
    * ([[graft.functions.VectorFunctions.quantize]]) makes it
    * oracle-exact cross-engine.
    *
    * Overflow is GUARDED, not assumed: a Gram entry is bounded by
    * n·maxAbs², checked against Long.MaxValue/4 up front (1-row
    * aggregates) — past that scale, shrink the quantization scale or
    * shard the accumulation; silent wraparound never ships.
    *
    * Output: one row per (i ≤ j) with the exact integer sums and the
    * covariance in the mirrored single-IEEE-op form the oracle
    * reproduces bit-for-bit. */
  def gramCovariance(emb: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val spark = emb.sparkSession
    val q = emb.select(quantize(col(vecCol)).as("qv"))
      .localCheckpoint(true) // one quantize pass feeds guard + both sums
    val guard = q.select(count(lit(1)).as("n"),
      max(maxAbsExact(col("qv"))).as("ma")).head()
    val n = guard.getLong(0)
    require(n > 0, "gramCovariance: empty input")
    val ma = guard.getLong(1)
    // maxSafeAbs = floor(sqrt(Long.MaxValue/4)): checked FIRST so the
    // guard's own ma*ma cannot wrap
    val maxSafeAbs = 1518500249L
    require(ma <= maxSafeAbs &&
        (ma <= 0 || n <= (Long.MaxValue / 4) / (ma * ma)),
      s"gramCovariance: n=$n rows at maxAbs=$ma risks int64 overflow " +
        "(bound n*maxAbs^2) — lower the quantization scale or shard")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("i",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("j",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("s",
        org.apache.spark.sql.types.LongType, nullable = false)))
    val partials = q.mapPartitions { rows =>
      var acc: Array[Long] = null
      var d = 0
      rows.foreach { r =>
        val v = r.getSeq[Long](0)
        if (acc == null) { d = v.length; acc = new Array[Long](d * (d + 1) / 2) }
        var idx = 0
        var i = 0
        while (i < d) {
          val vi = v(i)
          var j = i
          while (j < d) { acc(idx) += vi * v(j); j += 1; idx += 1 }
          i += 1
        }
      }
      if (acc == null) Iterator.empty
      else {
        val out = Vector.newBuilder[org.apache.spark.sql.Row]
        var idx = 0
        var i = 0
        while (i < d) {
          var j = i
          while (j < d) {
            out += org.apache.spark.sql.Row(i, j, acc(idx)); j += 1; idx += 1
          }
          i += 1
        }
        out.result().iterator
      }
    }(org.apache.spark.sql.Encoders.row(schema))
    val gram = partials.groupBy(col("i"), col("j"))
      .agg(sum(col("s")).as("sum_ij"))
    val dimSums = q.select(posexplode(col("qv")).as(Seq("pos", "x")))
      .groupBy(col("pos")).agg(sum(col("x")).as("sum_d"))
      .localCheckpoint(true) // d-bounded; probed for both sides
    val nC = lit(n)
    gram
      .join(broadcast(dimSums.select(col("pos").as("i"),
        col("sum_d").as("sum_i"))), Seq("i"))
      .join(broadcast(dimSums.select(col("pos").as("j"),
        col("sum_d").as("sum_j"))), Seq("j"))
      .select(col("i").cast("long").as("i"), col("j").cast("long").as("j"),
        nC.as("n"), col("sum_i"), col("sum_j"), col("sum_ij"),
        // covariance reported in ORIGINAL embedding units (/ scale² =
        // 1e12): the quantized-unit value is ~1e10 and DuckDB's
        // double→DECIMAL(28,10) cast is lossy above ~2^53/1e10 (the
        // conversion multiplies in double), which produced a measured
        // last-ulp mismatch; at ~1e-2 magnitude the decimal round is exact
        round((((col("sum_ij").cast("double") / nC) -
          (col("sum_i").cast("double") / nC) *
            (col("sum_j").cast("double") / nC)) / lit(1.0e12))
          .cast("decimal(28,10)"), 6).cast("double").as("cov"))
  }
}
