package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.plans.Fixpoint
import graft.telemetry.Events

/** Training-data deduplication operators (north-star extensions,
  * BASELINE.json): exact, MinHash+LSH, SimHash, and n-gram Jaccard.
  *
  * Scale notes (100 TB):
  *  - exact dedup is one hash-groupBy — the md5 key shuffles instead of
  *    the full text payload.
  *  - MinHash/LSH shuffles only (doc_id, band_key) pairs; candidate
  *    verification joins back on the (much smaller) candidate set.
  *  - all hashing uses md5, so signatures are engine-portable; the
  *    data path needs no UDF (whole-stage codegen throughout).
  */
object Dedup {

  /** Exact dedup: group identical texts by md5; keep the smallest id as
    * the canonical representative. */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(md5(col(textCol)).as("text_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Streaming exact dedup: keep the FIRST arrival of each text hash,
    * drop replays within the watermark. `dropDuplicatesWithinWatermark`
    * keys state by the md5 (the text payload never enters the state
    * store) and expires entries once the event-time watermark passes —
    * bounded state, unlike an unwindowed dropDuplicates whose state
    * grows with the corpus forever. Works on batch frames too (plain
    * hash-distinct, watermark ignored), so one definition serves both
    * backfill and the live stream. */
  def exactStreaming(docs: DataFrame, idCol: String, textCol: String,
      tsCol: String, watermark: String = "10 minutes"): DataFrame = {
    // all input columns ride along (dedup state still holds only the
    // hash + event time, not the payload)
    val hashed = docs
      .withColumn("text_hash", md5(col(textCol)))
      .withWatermark(tsCol, watermark)
    if (docs.isStreaming) hashed.dropDuplicatesWithinWatermark("text_hash")
    else {
      // deterministic batch twin of "first arrival wins": keep the
      // min-(ts, id) row per hash — dropDuplicates would keep whichever
      // row a partition saw first, varying across runs/repartitionings
      val others = hashed.columns.filter(_ != "text_hash")
      hashed.groupBy(col("text_hash"))
        .agg(min_by(struct(others.map(col).toIndexedSeq: _*),
          struct(col(tsCol), col(idCol))).as("_r"))
        .select(col("_r.*"), col("text_hash"))
    }
  }

  /** Canonical text form: lowercase, punctuation → space, whitespace
    * squeezed, trimmed — the usual normalization before exact dedup so
    * trivially-reformatted duplicates collapse. */
  def canonicalText(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    trim(regexp_replace(
      regexp_replace(lower(c), "[^a-z0-9 \\t\\n\\f\\r]", " "), "[ \\t\\n\\f\\r]+", " "))

  /** Exact dedup over the canonical form (catches case/punctuation/
    * whitespace variants that byte-exact dedup misses); same one-shuffle
    * shape as [[exact]]. */
  def exactCanonical(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(md5(canonicalText(col(textCol))).as("canon_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Sorted-neighborhood blocking (Hernández & Stolfo 1995) — the third
    * classic candidate-generation strategy beside hash-bucketed LSH and
    * content-defined chunking: sort the corpus by a normalization key
    * (here [[canonicalText]], so trivially-reformatted variants land
    * adjacent), slide a `window`-wide frame down the sorted order, and
    * verify only pairs inside the frame. Candidate volume is exactly
    * O(n·window) by construction — no skew blow-up is possible, which
    * is SNM's selling point over blocking keys with hot buckets — at
    * the cost of missing duplicates the sort key separates (why
    * production stacks run SNM as one pass of a multi-pass blocker
    * next to LSH, exactly how it sits in this library).
    *
    * Scale shape: the corpus-cardinality sort goes through
    * [[graft.pipeline.Ranks.bucketedGlobalRank]] (never a single-task
    * Window.orderBy). The device buckets on a NUMERIC proxy — the
    * first-8-chars base-128 encoding `Σ ascii(key[i])·128^(8−i)`,
    * weakly monotone in the key because canonical text is pure ASCII —
    * and breaks ties inside a bucket by the (full key, id) struct, so
    * ranks equal the exact (key, id) sort for any partitioning.
    * Neighbor pairs come from an EQUI-join on rank+delta (delta
    * exploded 1..window), never a range join; verification is the
    * shared exact-Jaccard arm. */
  def sortedNeighborhood(docs: DataFrame, idCol: String, textCol: String,
      window: Int = 4, threshold: Double = 0.5, shingleN: Int = 3,
      shingled: Option[DataFrame] = None): DataFrame =
    jaccard(snmPairs(docs, idCol, Seq(canonicalText(col(textCol))), window),
        shingled.getOrElse(shingleSets(docs, idCol, textCol, shingleN)))
      .filter(col("jaccard") >= threshold)

  /** N sorted-neighborhood passes in ONE rank job: each pass sorts by
    * its `keyExprs(p)` (any pure-ASCII string expression of the
    * document) and emits the unordered id pairs within `window`
    * positions of that pass's order. Shared by [[sortedNeighborhood]]
    * (single canonical-key pass) and [[sortedNeighborhoodMultiPass]].
    *
    * The passes UNION into one keyed relation and rank through ONE
    * [[Ranks.bucketedGlobalRank]] call (r20; guide §1.2/§2.4 — the
    * per-pass form paid a rank stats job + a ranked localCheckpoint
    * PER pass): the combined sort value `_kp = pass·2^56 + _kn` is
    * exact in a long (`_kn < 128^8 = 2^56`), so the union rank orders
    * (pass, key-prefix, key, id) — contiguous within a pass — and the
    * neighbor join keys on (pass, rank+delta), which reproduces each
    * pass's rank-distance pairs exactly (cross-pass rank adjacency
    * never joins: the pass tag is in the key). The bucket map is the
    * STATIC `pass·16384 + (_kn >> 42)` (= first char · 128 + second
    * char — weakly monotone in `_kp` by construction since
    * `_kn >> 42 ≤ 16383`, ≤ 16384·N values; the first cut shifted by
    * 46, i.e. ~52 effective first-letter buckets per pass, and the
    * within-bucket window sort of a letter-frequency-skewed corpus
    * measured q200 4.8 → 13.0 s — two chars give ~26² effective
    * buckets and restore the parallelism), so the rank device's 1-row
    * min/max stats action disappears entirely: constructing an SNM
    * query launches exactly one Spark job (the shared ranked
    * checkpoint), whatever the pass count. Within a pass a pair can only arise at one rank distance
    * (ranks are unique per doc), so the output is duplicate-free per
    * pass; the same pair found by TWO passes appears once per pass —
    * multi-pass callers dedupe before the Jaccard verify, exactly as
    * the old union-of-passes form did. */
  private def snmPairs(docs: DataFrame, idCol: String,
      keyExprs: Seq[org.apache.spark.sql.Column], window: Int): DataFrame = {
    require(window >= 1 && window <= 64,
      "sortedNeighborhood: window must be in [1, 64]")
    require(keyExprs.nonEmpty && keyExprs.size <= 8,
      "sortedNeighborhood: 1 to 8 passes")
    val prefix = (1 to 8).map(i =>
        ascii(substring(col("_key"), i, 1)).cast("long") *
          lit(1L << (7 * (8 - i))))
      .reduce(_ + _)
    val passes = keyExprs.zipWithIndex.map { case (ke, p) =>
      docs.select(col(idCol).as("doc_id"), ke.as("_key"),
        lit(p).as("_pass"))
    }.reduce(_ unionByName _)
    // Two explicit selects, NOT a withColumn chain (r20, measured 9.3 vs
    // 2.5 s at sf0.1): chained withColumns re-reference the `_kn`/`_key`
    // aliases and project collapse inlines the expensive canonical-key
    // expression once per reference; here `_kn` is named once and every
    // derived column reads the named attribute.
    // A null key has a null prefix; coalescing it to 0 puts the key in
    // its pass's first bucket (a null bucket would rank ahead of every
    // pass's buckets, away from its pass's neighbours), where the `_kt`
    // tie-break orders it first, nulls first like asc_nulls_first.
    val keyed = passes
      .select(col("doc_id"), col("_pass"), col("_key"),
        coalesce(prefix, lit(0L)).as("_kn"))
      .select(col("doc_id"), col("_pass"),
        (col("_pass").cast("long") * lit(1L << 56) + col("_kn")).as("_kp"),
        struct(col("_key"), col("doc_id")).as("_kt"),
        (col("_pass").cast("long") * 16384L +
          shiftright(col("_kn"), 42)).cast("int").as("_pb"))
    val ranked = Ranks.bucketedGlobalRank(keyed, "_kp", "_kt",
        rankCol = "rn", bucketCol = Some("_pb"))
      .select(col("_pass"), col("doc_id"), col("rn"))
      .localCheckpoint() // both sides of the neighbor join read it
    ranked.select(col("_pass"), col("doc_id").as("id_a"), col("rn"),
        explode(sequence(lit(1), lit(window))).as("_d"))
      .withColumn("rn_b", col("rn") + col("_d"))
      .join(ranked.select(col("_pass"), col("doc_id").as("id_b"),
        col("rn").as("rn_b")), Seq("_pass", "rn_b"))
      .select(least(col("id_a"), col("id_b")).as("doc_a"),
        greatest(col("id_a"), col("id_b")).as("doc_b"))
  }

  /** MULTI-PASS sorted-neighborhood — the production form (Hernández &
    * Stolfo run SNM with several independent keys and union the
    * candidates, because any single sort key separates some true
    * duplicates beyond the window). Pass 1 sorts by [[canonicalText]]
    * (prefix-variant duplicates land adjacent); pass 2 sorts by the
    * REVERSED canonical text (suffix-variant duplicates land adjacent —
    * exactly the pairs a differing first word pushes arbitrarily far
    * apart in pass 1). Candidates union + distinct before ONE shared
    * exact-Jaccard verify, so a pair caught by both passes verifies
    * once. Still O(n·window) per pass by construction — the skew-proof
    * property is preserved, the miss set shrinks multiplicatively. */
  def sortedNeighborhoodMultiPass(docs: DataFrame, idCol: String,
      textCol: String, window: Int = 4, threshold: Double = 0.5,
      shingleN: Int = 3, shingled: Option[DataFrame] = None): DataFrame =
    jaccard(
        snmPairs(docs, idCol, Seq(canonicalText(col(textCol)),
          reverse(canonicalText(col(textCol)))), window).distinct(),
        shingled.getOrElse(shingleSets(docs, idCol, textCol, shingleN)))
      .filter(col("jaccard") >= threshold)

  /** Distinct word n-gram shingle set per document. */
  def shingleSets(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      array_distinct(TextFunctions.shingles(TextFunctions.tokenize(col(textCol)), n))
        .as("shingles"))

  /** MinHash signature: `numHashes` independent permutations simulated by
    * salted md5; signature component i = min md5("<i>:"+shingle).
    * Relational form — explode shingles once, then `numHashes` codegen'd
    * min aggregates in one pass (array lambdas execute interpreted; see
    * [[simhashBuckets]]). Every non-`shingles` column is a grouping key
    * and passes through (so callers can carry e.g. a source/partition
    * tag alongside doc_id without a join back). */
  def minhashSignatures(shingled: DataFrame, numHashes: Int): DataFrame = {
    val keyCols = shingled.columns.filterNot(_ == "shingles").map(col)
    val ex = shingled.select(keyCols :+ explode(col("shingles")).as("sh"): _*)
    val aggs = (0 until numHashes).map { i =>
      min(md5(concat(lit(s"$i:"), col("sh")))).as(s"sig_$i")
    }
    ex.groupBy(keyCols: _*).agg(aggs.head, aggs.tail: _*)
  }

  /** LSH banding: group `rowsPerBand` signature components per band; docs
    * sharing any band key are candidate pairs. Returns the passthrough
    * key columns plus (band, band_key). */
  def lshBands(signatures: DataFrame, numHashes: Int, rowsPerBand: Int): DataFrame = {
    val bands = (0 until numHashes / rowsPerBand).map { b =>
      val cols = (b * rowsPerBand until (b + 1) * rowsPerBand).map(i => col(s"sig_$i"))
      struct(lit(b).as("band"), concat_ws("|", cols: _*).as("band_key"))
    }
    val passCols = signatures.columns.filterNot(_.startsWith("sig_")).map(col)
    signatures.select(passCols :+ explode(array(bands: _*)).as("bk"): _*)
      .select(passCols :+ col("bk.band").as("band") :+
        col("bk.band_key").as("band_key"): _*)
  }

  /** Candidate pairs from LSH buckets (a < b, distinct across bands).
    *
    * `maxBucket` is the band-key occupancy guard: within-bucket work is
    * quadratic in occupancy, so ONE degenerate key (boilerplate text
    * hashing half the corpus into a single band bucket) lands
    * O(n²) pair generation on one task. Keys over the cap are EXCLUDED
    * from candidate generation — and loudly: the exclusion count and
    * worst occupancies go out as a `guard` event in the caller's query
    * scope and on stderr (no silent caps). Boilerplate-heavy
    * keys are better handled by exact/chunk dedup; raising `nBits` /
    * band width is the recall-preserving mitigation. Default = no cap
    * (test-scale behavior unchanged). */
  def lshCandidates(banded: DataFrame, maxBucket: Int = Int.MaxValue): DataFrame = {
    val src = capOccupancy(banded, Seq("band", "band_key"), maxBucket,
      "lshCandidates")
    val l = src.select(col("band"), col("band_key"), col("doc_id").as("doc_a"))
    val r = src.select(col("band").as("band_r"), col("band_key").as("band_key_r"),
      col("doc_id").as("doc_b"))
    l.join(r, col("band") === col("band_r") && col("band_key") === col("band_key_r") &&
        col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
  }

  /** The shared occupancy guard: drop rows whose `keyCols` group exceeds
    * `maxBucket` rows, reporting the dropped keys as a `guard` event
    * (recover those docs via exact/chunk dedup or a wider key, nBits /
    * rowsPerBand). The report aggregate shuffles the same compact
    * key projection the candidate join shuffles anyway; the eager count
    * runs only when a cap is actually set. (package-visible: the
    * perceptual-fingerprint bucket join applies the same discipline —
    * [[Multimodal.dhashNearDups]].) */
  private[pipeline] def capOccupancy(df: DataFrame, keyCols: Seq[String],
      maxBucket: Int, who: String): DataFrame = {
    if (maxBucket == Int.MaxValue) df
    else {
      require(maxBucket >= 1, s"$who: maxBucket must be >= 1")
      val over = df.groupBy(keyCols.map(col): _*)
        .agg(count(lit(1)).as("occupancy"))
        .filter(col("occupancy") > maxBucket)
        .localCheckpoint(true)
      Events.guard(who, over, maxBucket, "occupancy")(_.getLong(keyCols.length))
      df.join(broadcast(over.select(keyCols.map(col): _*)), keyCols, "left_anti")
    }
  }

  /** Cross-side LSH candidate pairs: equi-join two band frames (each
    * the [[lshBands]] shape) on (band, band_key). Unlike
    * [[lshCandidates]] there is no a < b constraint — the pair is
    * ordered by side, so overlapping id namespaces are safe. Shared by
    * [[minhashNearDupsAgainst]] and the q48 query (which serves both
    * sides from one cached per-session band relation). */
  def lshCandidatesAcross(bandsLeft: DataFrame, bandsRight: DataFrame): DataFrame = {
    val bl = bandsLeft.select(col("band"), col("band_key"), col("doc_id").as("doc_a"))
    val br = bandsRight.select(col("band").as("band_r"),
      col("band_key").as("band_key_r"), col("doc_id").as("doc_b"))
    bl.join(br,
        col("band") === col("band_r") && col("band_key") === col("band_key_r"))
      .select("doc_a", "doc_b").distinct()
  }

  /** Exact Jaccard for a pair relation whose sides come from TWO shingle
    * frames (doc_a ids resolve only against `shingledA`, doc_b only
    * against `shingledB` — overlapping id namespaces stay separate) —
    * shared / (|A| + |B| - shared), via an explode + join (no arrays
    * cross the shuffle; scales linearly in total shingle count).
    *
    * PRECONDITION (r19 single-consumption shape; ADVICE r19): `pairs`
    * rows must be DISTINCT. The groupBy collapses duplicate pair rows
    * while the explode-join match count still sees every copy, so a
    * duplicated input pair yields ONE output row with `shared` (and
    * jaccard) inflated by the duplication factor — not merely deduped.
    * Every in-repo caller satisfies this by construction (LSH
    * candidates end in `.distinct()`, SNM ranks are unique per doc,
    * n-gram all-pairs aggregates to unique pairs); external callers
    * must `.distinct()` first. DedupSpec pins the duplicate-input
    * behavior so this contract stays visible. */
  def jaccardAcross(pairs: DataFrame, shingledA: DataFrame,
      shingledB: DataFrame): DataFrame = {
    // `pairs` is consumed ONCE (r19): the old shape joined pairs into
    // the shared-count aggregate AND left-joined pairs against it,
    // planting the whole candidate subtree twice in the plan. Two LEFT
    // explode-joins + one groupBy keep every pair (zero-overlap pairs
    // count 0 matches) at a single consumption. Precondition (held by
    // every caller — LSH candidates are distinct, SNM ranks are unique
    // per doc): pair rows are distinct, so the groupBy preserves
    // cardinality; shingle arrays are array_distinct upstream, so each
    // a-shingle matches at most one b-row.
    val toksA = shingledA.select(col("doc_id").as("doc_a"),
      explode(col("shingles")).as("sh_a"))
    val toksB = shingledB.select(col("doc_id").as("doc_b"),
        explode(col("shingles")).as("sh_a"))
      .withColumn("_m", lit(1))
    val keyCols = pairs.columns.toSeq
    pairs
      .join(toksA, Seq("doc_a"), "left")
      .join(toksB, Seq("doc_b", "sh_a"), "left")
      .groupBy(keyCols.map(col): _*)
      .agg(count(col("_m")).as("shared"))
      .join(shingledA.select(col("doc_id").as("doc_a"), size(col("shingles")).as("size_a")), Seq("doc_a"))
      .join(shingledB.select(col("doc_id").as("doc_b"), size(col("shingles")).as("size_b")), Seq("doc_b"))
      .withColumn("jaccard",
        col("shared").cast("double") /
          (col("size_a") + col("size_b") - col("shared")).cast("double"))
  }

  /** One-frame [[jaccardAcross]]: both pair sides resolve in `shingled`. */
  def jaccard(pairs: DataFrame, shingled: DataFrame): DataFrame =
    jaccardAcross(pairs, shingled, shingled)

  /** Edit-distance verification of LSH candidate pairs — the
    * character-level refinement arm of fuzzy dedup (shingle Jaccard is
    * blind to small in-word edits that edit distance sees, and vice
    * versa for reorderings). A pair is a duplicate when its Levenshtein
    * distance is within `maxDist` AND within `maxPct`% of the longer
    * text — the relative rule as an exact integer cross-multiplication
    * (`100·lev ≤ pct·max(len)`), never a rounded-ratio compare.
    *
    * Scale shape: Levenshtein is O(len²) per pair, so it runs ONLY on
    * the LSH candidate relation (near-dup-rate cardinality), never
    * corpus²; the text payload joins onto candidates by id — two
    * hash joins whose build side AQE broadcasts when small. The
    * banded threshold form `levenshtein(a, b, maxDist)` is the
    * O(maxDist·len) early-exit path — distances beyond the cap report
    * as −1 (not duplicates by construction, cap your pct budget
    * accordingly). Texts are projected to their ASCII printable
    * subsequence first: Spark measures UTF-16 units where other
    * engines measure codepoints or bytes, and on the ASCII plane every
    * convention coincides, making the distance engine-portable (the
    * q104 explicit-class discipline applied to string metrics). */
  def editVerify(cands: DataFrame, docs: DataFrame, idCol: String,
      textCol: String, maxDist: Int = 64, maxPct: Int = 20): DataFrame = {
    require(maxDist >= 0 && maxPct >= 0, "editVerify: thresholds must be >= 0")
    val tx = docs.select(col(idCol),
      regexp_replace(col(textCol), "[^ -~]", "").as("t"))
    val a = tx.select(col(idCol).as("doc_a"), col("t").as("ta"))
    val b = tx.select(col(idCol).as("doc_b"), col("t").as("tb"))
    cands.select(col("doc_a"), col("doc_b"))
      .join(a, "doc_a").join(b, "doc_b")
      .select(col("doc_a"), col("doc_b"),
        expr(s"levenshtein(ta, tb, $maxDist)").cast("long").as("lev"),
        length(col("ta")).cast("long").as("len_a"),
        length(col("tb")).cast("long").as("len_b"))
      .withColumn("is_dup",
        when(col("lev") >= 0L &&
          col("lev") * 100L <= lit(maxPct.toLong) * greatest(col("len_a"), col("len_b")),
          1L).otherwise(0L))
  }

  /** Full MinHash+LSH near-dup pipeline: shingle → sign → band → bucket
    * join → exact-Jaccard verification at `threshold`. */
  def minhashNearDups(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 8, rowsPerBand: Int = 2,
      threshold: Double = 0.5, maxBucket: Int = Int.MaxValue): DataFrame = {
    // cached: signatures, both sides of the verify join, and the size
    // lookup all scan the shingle sets — uncached, the tokenize+shingle
    // pipeline would replay once per consumer. The cache's lifecycle is
    // bounded HERE: the verified pairs (tiny next to the shingle sets)
    // are materialized eagerly via localCheckpoint, then the shingles
    // unpersist — a long-lived session accumulates no per-call cache
    // entries (callers before this fix leaked one cached relation per
    // invocation; cf. the per-batch clearCache in roleAnalysisStream).
    val sh = shingleSets(docs, idCol, textCol, shingleN).cache()
    try {
      val cands = lshCandidates(
        lshBands(minhashSignatures(sh, numHashes), numHashes, rowsPerBand),
        maxBucket)
      jaccard(cands, sh).filter(col("jaccard") >= threshold)
        .localCheckpoint(true)
    } finally sh.unpersist(false)
  }

  /** Cross-corpus MinHash+LSH near-dup join — fuzzy decontamination
    * ([[decontaminate]]'s exact-gram check misses paraphrased/reordered
    * overlap) and cross-snapshot dedup: candidates come from matching
    * LSH band keys BETWEEN the two sets, then exact Jaccard verifies at
    * `threshold`. Same banded scale shape as [[minhashNearDups]] — only
    * (doc_id, band_key) pairs shuffle for candidates, and verification
    * touches candidates only — but the two sides keep separate shingle
    * frames throughout, so overlapping id namespaces are safe (ids are
    * only ever compared within their own side).
    *
    * Output: (doc_a from left, doc_b from right, shared, size_a, size_b,
    * jaccard) — no a < b constraint, the pair is ordered by side. */
  def minhashNearDupsAgainst(left: DataFrame, leftId: String, leftText: String,
      right: DataFrame, rightId: String, rightText: String,
      shingleN: Int = 3, numHashes: Int = 8, rowsPerBand: Int = 2,
      threshold: Double = 0.5): DataFrame = {
    val shL = shingleSets(left, leftId, leftText, shingleN).cache()
    val shR = shingleSets(right, rightId, rightText, shingleN).cache()
    try {
      val cands = lshCandidatesAcross(
        lshBands(minhashSignatures(shL, numHashes), numHashes, rowsPerBand),
        lshBands(minhashSignatures(shR, numHashes), numHashes, rowsPerBand))
      jaccardAcross(cands, shL, shR)
        .filter(col("jaccard") >= threshold)
        .localCheckpoint(true)
    } finally { shL.unpersist(false); shR.unpersist(false) }
  }

  /** All-pairs n-gram Jaccard near-dup (quadratic verification baseline —
    * the correctness oracle for the LSH path; don't run at scale). */
  def ngramJaccardAllPairs(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, threshold: Double = 0.5): DataFrame = {
    val sh = shingleSets(docs, idCol, textCol, shingleN)
    val toks = sh.select(col("doc_id"), explode(col("shingles")).as("sh"))
    val pairs = toks.as("a").join(toks.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b")).distinct()
    jaccard(pairs, sh).filter(col("jaccard") >= threshold)
  }

  /** Dedup-aware loss weights over a [[nearDupClusters]] labeling —
    * the "count-duplicates-once-but-weight-them" alternative to silent
    * dropping (duplicate-count reweighting: the kept representative
    * carries its cluster's size as a training weight, so the corpus
    * distribution is preserved while near-dup redundancy is removed).
    * Dropped members get weight 0; singleton representatives weight 1.
    *
    * Shape: one cluster-keyed aggregate (cluster-bounded relation) and
    * one cluster-keyed join back — rides the already-materialized
    * cluster labels, so the expensive label propagation is amortized
    * across the q37 family. */
  def clusterWeights(clusters: DataFrame): DataFrame = {
    val sz = clusters.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("_sz"))
    clusters.join(sz, Seq("cluster_id"))
      .select(col("doc_id"), col("cluster_id"),
        when(col("keep"), col("_sz")).otherwise(lit(0L)).as("weight"))
  }

  /** Connected components over a near-dup pair relation → dedup
    * clusters: each document is labeled with the smallest doc id
    * reachable through near-dup edges, and one representative
    * (`keep = doc_id == cluster_id`) survives per cluster — what a
    * production dedup actually ships, one step past pair detection.
    *
    * Min-label propagation with a pointer-jump per round: each round
    * joins the current labels across the (symmetrized) edge set, keeps
    * the minimum, then resolves label := label[label] — the jump
    * composes resolved depth, so rounds = O(log component diameter)
    * (a plain propagation loop pays O(diameter); q207's packed
    * cross-modal graph measured 50+ rounds / 22.5 s before the jump).
    * Every round is checkpointed (an uncheckpointed loop's plan tree
    * grows exponentially). Throws if `maxIters` rounds don't converge
    * rather than emitting wrong clusters.
    *
    * Round-19 loop shape (before: two materialized jobs per round over
    * a corpus-cardinality label table):
    *  - the loop runs over edge-INCIDENT vertices only — a singleton
    *    document's label can never change (no neighbor) and never
    *    influences anyone (no edge points at it), so the overwhelming
    *    majority of a real corpus sits out of every round and is
    *    re-attached by one final left join (guide §2.3: shuffle
    *    dup-graph-cardinality bytes per round, not corpus-cardinality);
    *  - the symmetrized edge relation is semi-joined to the doc-id
    *    universe (an edge endpoint outside `docs` contributed nothing
    *    in the unrestricted formulation either — it had no label row)
    *    and checkpointed once (not pre-partitioned: under adaptive
    *    execution a checkpoint's partitioning reads as unknown, so each
    *    round's join shuffles the edges on `dst` anyway);
    *  - the edge step and the pointer jump materialize as ONE
    *    checkpointed job per round instead of two — the jump self-join
    *    rides the same materialization, and the step's shuffles are
    *    shared between the self-join's two sides by exchange reuse.
    *
    * The loop runs on the [[graft.plans.Fixpoint]] driver, whose tick
    * counts label changes while the round materializes — one job per
    * round, no separate probe join/count over the labels. Ticking only
    * the edge step stays sound with the fused jump: if the step moved
    * no label, the labels were already the component-min fixpoint and
    * the jump is the identity. */
  def nearDupClusters(docs: DataFrame, pairs: DataFrame, idCol: String,
      maxIters: Int = 30): DataFrame = {
    val docIds = docs.select(col(idCol).as("doc_id"))
    // Loop-invariant edge relation: symmetrized, restricted to endpoints
    // in the doc-id universe, materialized once.
    // Endpoints cast to the doc-id type so the loop's label column (and
    // the output schema) match the pre-r19 docs-derived formulation
    // exactly, whatever the pair relation's physical id type.
    val idType = docs.schema(docs.schema.fieldIndex(idCol)).dataType
    val edges = pairs.select(col("doc_a").cast(idType).as("src"),
        col("doc_b").cast(idType).as("dst"))
      .unionByName(pairs.select(col("doc_b").cast(idType).as("src"),
        col("doc_a").cast(idType).as("dst")))
      .join(docIds.withColumnRenamed("doc_id", "src"), Seq("src"), "left_semi")
      .join(docIds.withColumnRenamed("doc_id", "dst"), Seq("dst"), "left_semi")
      .localCheckpoint()
    // Labels over edge-incident vertices only (src covers both endpoint
    // roles — the edge set is symmetrized above). Singletons rejoin at
    // the end; their labels are constitutively their own ids.
    val seed = Fixpoint.checkpoint(edges.select(col("src").as("doc_id")).distinct()
      .select(col("doc_id"), col("doc_id").as("label")))
    // ONE step+jump per materialized round. Measured alternatives
    // (r19): a second jump in the same job left round counts
    // unchanged (convergence is bounded by min-label travel along
    // graph EDGES, not pointer depth — the packed cross-modal graph
    // stayed at 26 rounds), and a second edge STEP per job halved
    // long-chain round counts (26→14, 7→4) but doubled the per-round
    // edge-join work, which made the big-union graphs (q214's five
    // modality pair sets, 4→3 rounds only) measurably SLOWER — the
    // e-join count is E·hops either way, and shallow graphs don't
    // amortize the extra hop. One hop per job is the balanced point.
    val labels = Fixpoint.iterate("nearDupClusters", seed, maxIters) { (l, tick) =>
      // One min-label edge step...
      val stepped = l.join(
        edges.join(l.withColumnRenamed("doc_id", "dst"), "dst")
          .groupBy(col("src").as("doc_id"))
          .agg(min(col("label")).as("nbr_label")),
        Seq("doc_id"), "left")
      val lbl = least(col("label"), coalesce(col("nbr_label"), col("label")))
      // ...then one pointer jump (label := label[label]), resolving one
      // level of the label TREE. Labels only decrease and label[x] <= x,
      // so the jump is a pure accelerator — at the fixpoint it is the
      // identity. Only the jump's left input ticks, so the step's
      // shuffles stay shared between both sides by exchange reuse.
      stepped.filter(tick(col("nbr_label") < col("label")))
        .select(col("doc_id"), lbl.as("label"))
        .join(stepped.select(col("doc_id").as("_j"), lbl.as("_jv")),
          col("label") === col("_j"), "left")
        .select(col("doc_id"), coalesce(col("_jv"), col("label")).as("label"))
    }
    // Reattach the singletons: docs outside the edge set keep themselves.
    docIds
      .join(labels.withColumnRenamed("label", "_lbl"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("_lbl"), col("doc_id")).as("cluster_id"),
        (col("doc_id") === coalesce(col("_lbl"), col("doc_id"))).as("keep"))
  }

  /** Cluster-representative selection ("keep best", the RefinedWeb /
    * FineWeb shipping form of near-dup dedup): instead of keeping the
    * lowest-id member of each near-dup cluster, keep the member that a
    * quality relation ranks highest — so deduplication removes the WORST
    * copies, not arbitrary ones.
    *
    * `clusters` is [[nearDupClusters]] output (`idCol`, cluster_id, …);
    * `quality` carries (`idCol`, quality, n_chars). The representative is
    * the argmax under the total order (quality DESC, n_chars DESC, id
    * ASC) — deterministic across partitionings and engines because the
    * id tiebreak is unique.
    *
    * Scale shape: one join on the doc id (both sides already id-keyed)
    * and one window over cluster_id. Cluster cardinality ≈ corpus
    * cardinality (near-dup clusters are overwhelmingly singletons), and
    * per-cluster row counts are true duplicate multiplicities, so the
    * window partition sizes are bounded by the worst duplicate family —
    * the same skew profile the dedup join itself already has. Only ids
    * and two small numerics shuffle; text never enters the plan. */
  def keepBestPerCluster(clusters: DataFrame, quality: DataFrame,
      idCol: String): DataFrame = {
    val ranked = clusters.select(col(idCol), col("cluster_id"))
      .join(quality.select(col(idCol), col("quality"), col("n_chars")), idCol)
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(col("quality").desc, col("n_chars").desc, col(idCol))
    ranked.withColumn("keep_best", row_number().over(w) === 1)
  }

  /** Embedding-cosine near-dups: pairs (a < b) whose unit-norm embedding
    * dot product — exact, integer-quantized
    * ([[graft.functions.VectorFunctions.dotExact]]) — meets `minDotQ`,
    * found via a sign-LSH bucket self-join (same coarse quantizer as
    * [[Similarity.lshTopK]]). At `scale` 1e6, dot_q ≈ cosine × 1e12.
    *
    * Scale shape: candidates come from a self-equi-join on the sign
    * bucket — only (id, qv, bucket) shuffles, never the raw text/doc.
    * Within-bucket work is quadratic in bucket occupancy, so `nBits`
    * must grow with the corpus (occupancy ≈ n / 2^nBits; 16–24 bits at
    * 100 TB, optionally with Hamming-1 probes to recover split pairs) —
    * and `maxBucket` enforces the bound at runtime: a degenerate
    * direction (zero vectors, a collapsed embedder) that floods one
    * bucket gets excluded LOUDLY (`guard` event, the
    * [[lshCandidates]] guard) instead of landing a quadratic mega-task.
    * Recall is approximate by construction — a near-dup pair straddling
    * a sign boundary in every probed bit is missed; exactly the standard
    * LSH recall trade documented for [[minhashNearDups]]. */
  def embeddingNearDups(corpus: DataFrame, idCol: String, vecCol: String,
      minDotQ: Long, nBits: Int = 8, maxBucket: Int = Int.MaxValue): DataFrame =
    bucketPairs(corpus, idCol, vecCol, nBits, maxBucket, "embeddingNearDups")
      .filter(col("dot_q") >= minDotQ)
      .select(col("vec_a"), col("vec_b"), col("dot_q"))

  /** Hard-negative mining for contrastive-training data — the pair
    * selection that makes embedding training work: per anchor, same-
    * bucket candidates whose exact quantized dot lands in the MID band
    * `[loDotQ, hiDotQ)` — similar enough to be informative, distant
    * enough not to be an unlabeled positive (the near-dup band above
    * `hiDotQ` is exactly what [[embeddingNearDups]] removes). Same
    * sign-LSH candidate generation and exact-dot verify as the dedup
    * form — one operator family serves both ends of the similarity
    * spectrum.
    *
    * Scale note: sign-LSH concentrates HIGH-similarity pairs in shared
    * buckets, so the mid band is sampled, not exhaustive — exactly the
    * industry practice (in-batch/ANN-candidate negatives, not all
    * pairs). Raise nBits for tighter candidate sets; the occupancy
    * guard applies unchanged. */
  def hardNegatives(corpus: DataFrame, idCol: String, vecCol: String,
      loDotQ: Long, hiDotQ: Long, nBits: Int = 8,
      maxBucket: Int = Int.MaxValue): DataFrame = {
    require(loDotQ < hiDotQ, "hardNegatives: need loDotQ < hiDotQ")
    bucketPairs(corpus, idCol, vecCol, nBits, maxBucket, "hardNegatives")
      .filter(col("dot_q") >= loDotQ && col("dot_q") < hiDotQ)
      .select(col("vec_a"), col("vec_b"), col("dot_q"))
  }

  /** Shared sign-LSH bucket self-join: (vec_a < vec_b, dot_q) candidate
    * pairs — the body behind [[embeddingNearDups]] and
    * [[hardNegatives]], one definition so the two bands can never
    * disagree on candidate generation. */
  private def bucketPairs(corpus: DataFrame, idCol: String, vecCol: String,
      nBits: Int, maxBucket: Int, who: String): DataFrame = {
    import graft.functions.VectorFunctions.{dotExact, quantize, signBucket}
    val v0 = corpus.select(col(idCol).as("vid"),
      quantize(col(vecCol)).as("qv"),
      signBucket(col(vecCol), nBits).as("bucket"))
    val v = capOccupancy(v0, Seq("bucket"), maxBucket, who)
    val a = v.select(col("vid").as("vec_a"), col("qv").as("qa"), col("bucket"))
    val b = v.select(col("vid").as("vec_b"), col("qv").as("qb"), col("bucket"))
    a.join(b, Seq("bucket"))
      .filter(col("vec_a") < col("vec_b"))
      .withColumn("dot_q", dotExact(col("qa"), col("qb")))
  }

  /** Hamming-1 multi-probe embedding near-dups — the recall-recovery
    * mitigation [[embeddingNearDups]] documents, made real: a pair
    * whose vectors straddle exactly ONE sign boundary lands in buckets
    * at Hamming distance 1 and the plain bucket equi-join never sees
    * it. Here one side additionally probes its nBits single-bit-flip
    * neighbor buckets (home + nBits keys per vector), so every pair at
    * bucket distance ≤ 1 reaches the exact-dot verify; `bucket_dist`
    * (0 or 1) reports which pairs the probes recovered. Pairs
    * differing in ≥ 2 sign bits remain the residual recall trade.
    *
    * Scale shape: still a bucket EQUI-join — only the (nBits+1)-way
    * probe explosion of (id, qv, bucket) shuffles, never raw vectors
    * at corpus width; per-bucket work grows by the probe factor, which
    * is why the occupancy guard applies here too. Each qualifying pair
    * matches exactly one probe key (one bit differs → one flip), so no
    * dedup pass is needed. */
  def embeddingNearDupsProbed(corpus: DataFrame, idCol: String,
      vecCol: String, minDotQ: Long, nBits: Int = 8,
      maxBucket: Int = Int.MaxValue): DataFrame = {
    import graft.functions.VectorFunctions.{dotExact, quantize, signBucket}
    val v0 = corpus.select(col(idCol).as("vid"),
      quantize(col(vecCol)).as("qv"),
      signBucket(col(vecCol), nBits).as("bucket"))
    val v = capOccupancy(v0, Seq("bucket"), maxBucket,
      "embeddingNearDupsProbed")
    val flips = array((lit(0L) +:
      (0 until nBits).map(i => lit(1L << i))): _*)
    val probes = v.select(col("vid").as("vec_a"), col("qv").as("qa"),
        col("bucket").as("_home"), explode(flips).as("_flip"))
      .select(col("vec_a"), col("qa"), col("_home"),
        expr("_home ^ _flip").as("bucket"))
    val home = v.select(col("vid").as("vec_b"), col("qv").as("qb"),
      col("bucket"))
    probes.join(home, Seq("bucket"))
      .filter(col("vec_a") < col("vec_b"))
      .withColumn("dot_q", dotExact(col("qa"), col("qb")))
      .filter(col("dot_q") >= minDotQ)
      .select(col("vec_a"), col("vec_b"), col("dot_q"),
        expr("bit_count(_home ^ bucket)").cast("long").as("bucket_dist"))
  }

  /** Cross-set embedding near-dup join — SEMANTIC decontamination,
    * completing the trio: [[decontaminate]] catches verbatim n-gram
    * overlap, [[minhashNearDupsAgainst]] catches lexical paraphrase
    * (shared shingles), and this catches eval contamination that
    * survives both — rewordings sharing no shingles but mapping to
    * nearby embeddings. Candidates come from a cross-set sign-LSH
    * bucket equi-join (each vector lives in exactly ONE bucket, so no
    * distinct is needed), verified by the exact int64-quantized dot at
    * `minDotQ`. The pair is ordered by side with no a < b constraint,
    * so overlapping id namespaces are safe ([[lshCandidatesAcross]]'s
    * contract).
    *
    * Scale shape: the eval side is bounded → BROADCAST; the corpus side
    * never shuffles at all (map-side broadcast hash join on the bucket,
    * then per-row dot + filter). Recall is the standard sign-LSH trade
    * documented at [[embeddingNearDups]] — grow `nBits` with corpus
    * size, probe Hamming-1 neighbors to recover split pairs. */
  def embeddingNearDupsAgainst(left: DataFrame, leftId: String,
      leftVec: String, right: DataFrame, rightId: String, rightVec: String,
      minDotQ: Long, nBits: Int = 8): DataFrame = {
    import graft.functions.VectorFunctions.{dotExact, quantize, signBucket}
    val a = left.select(col(leftId).as("vec_a"),
      quantize(col(leftVec)).as("qa"),
      signBucket(col(leftVec), nBits).as("bucket"))
    val b = right.select(col(rightId).as("vec_b"),
      quantize(col(rightVec)).as("qb"),
      signBucket(col(rightVec), nBits).as("bucket"))
    a.join(broadcast(b), Seq("bucket"))
      .withColumn("dot_q", dotExact(col("qa"), col("qb")))
      .filter(col("dot_q") >= minDotQ)
      .select(col("vec_a"), col("vec_b"), col("dot_q"))
  }

  /** Semantic dedup (SemDeDup-style, arXiv:2303.09540): cluster the
    * embeddings around a centroid table, then prune rows that sit inside
    * another cluster-mate's similarity ball — the embedding analog of
    * MinHash near-dup removal, catching paraphrases that share no
    * shingles. Deterministic everything: assignment = argmin exact
    * quantized squared L2 (ties to the lowest centroid id, the
    * [[Similarity]] IVF device), and a row is removed when ANY lower-id
    * cluster-mate has quantized dot ≥ `minDotQ` (independent-witness
    * rule — one relational join, no sequential greedy iteration; the
    * kept set can differ from greedy SemDeDup when a dropped row is the
    * only witness against a later one, a documented deviation that keeps
    * the operator a single shuffle instead of a loop).
    *
    * Scale shape: the centroid table broadcasts (C grows with the
    * corpus, stays ≪ n); assignment is a map-side min-of-struct — no
    * shuffle; the candidate join is an equi-join on cluster_id, so the
    * quadratic term is bounded by cluster occupancy exactly like
    * [[embeddingNearDups]]'s bucket occupancy. Only (id, qv, cluster)
    * ever shuffles. Centroids come from [[Similarity.trainCentroids]]
    * offline at scale; tests/queries use a deterministic subsample.
    * Constraint (from the packed-long argmin below): quantized squared
    * distances must fit 63 − idBits bits, where idBits covers the
    * centroid id domain — amply true for unit-norm embeddings (violations
    * fail loudly, never silently). */
  def semanticDedup(corpus: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, centIdCol: String, centVecCol: String,
      minDotQ: Long): DataFrame = {
    import graft.functions.VectorFunctions._
    // Densify centroid ids to 0..C-1 (bounded window over the broadcast-
    // sized relation — the ivfTopKQuantized device) so the packed argmin
    // is safe for ANY caller-supplied id domain: a negative id would
    // otherwise corrupt the pack silently, and an empty table would NPE.
    // Renumbering is monotonic in the original id, so the
    // ties-to-lowest-id break is unchanged; the original id maps back
    // after the argmin via a broadcast join on the same tiny relation.
    val cents = centroids.select(col(centIdCol).cast("long").as("orig_id"),
        quantize(col(centVecCol)).as("cv"))
      .select(
        (row_number().over(Window.orderBy(col("orig_id"))).cast("long") - 1)
          .as("dense_id"),
        col("orig_id"), col("cv"))
    // Packed-long argmin in a HashAggregate (see
    // [[graft.functions.VectorFunctions.packDistId]]): idBits sized from
    // the dense centroid count (one tiny action on the broadcast-small
    // relation) so distance headroom is maximal. qv rides as a
    // GROUPING key (functionally dependent on vid), not a first()
    // aggregate: an array-typed agg buffer is not hash-mutable and would
    // force the whole n×C argmin into SortAggregate; group keys may be
    // arrays, so the buffer stays one long.
    val idBits = bitsFor(math.max(cents.count() - 1, 0L))
    val packed = packDistId(sqDistExact(col("qv"), col("cv")),
      col("dense_id"), idBits)
    val assigned = corpus
      .select(col(idCol).as("vid"), quantize(col(vecCol)).as("qv"))
      .crossJoin(broadcast(cents.select(col("dense_id"), col("cv"))))
      .groupBy(col("vid"), col("qv"))
      .agg(unpackId(min(packed), idBits).as("dense_id"))
      .join(broadcast(cents.select(col("dense_id"),
        col("orig_id").as("cluster_id"))), "dense_id")
      .select(col("vid"), col("qv"), col("cluster_id"))
      // materialize once: assignment feeds both join sides and the final
      // projection — unchecked, the scan+cross+argmin lineage executes
      // three times (the store-signatures-once production shape)
      .localCheckpoint()
    val a = assigned.select(col("cluster_id"), col("vid").as("a_id"),
      col("qv").as("qa"))
    val b = assigned.select(col("cluster_id"), col("vid").as("b_id"),
      col("qv").as("qb"))
    val dups = a.join(b, Seq("cluster_id"))
      .filter(col("a_id") < col("b_id"))
      .filter(dotExact(col("qa"), col("qb")) >= minDotQ)
      .select(col("b_id").as("vid")).distinct()
    assigned.select(col("vid"), col("cluster_id"))
      .join(dups.withColumn("dup", lit(1L)), Seq("vid"), "left")
      .select(col("vid").as(idCol), col("cluster_id"),
        when(col("dup").isNotNull, 0L).otherwise(1L).as("kept"))
  }

  /** SimHash dedup: `nBits`-bit fingerprint per doc (default 60 — real
    * near-dup width; identical fingerprints are near-dup buckets, and
    * Hamming-close fingerprints can be banded like MinHash).
    *
    * Relational formulation: explode distinct tokens, hash each ONCE,
    * then one hash aggregate with `nBits` codegen'd conditional vote
    * sums. (Array higher-order functions — transform/aggregate — run
    * interpreted, not codegen: the lambda-based variant evaluated ~8M
    * interpreted expressions at sf0.1 and cost 3x as much. Explode +
    * groupBy keeps the whole pipeline inside whole-stage codegen with
    * map-side partial aggregation.) Bit semantics identical to
    * [[TextFunctions.simhashBits]]: bit b votes +1 when hex char b of
    * md5(token)++md5("1:"+token) has odd parity. */
  def simhashBuckets(docs: DataFrame, idCol: String, textCol: String,
      nBits: Int = 60): DataFrame = {
    require(nBits >= 1 && nBits <= 60, "sign-safe long supports up to 60 bits")
    // Each token's nBits parity bits are packed into ONE long before the
    // aggregate: translate folds each hex char to its parity ('1' iff
    // odd), conv(..., 2, 10) reads the first nBits parity chars as a
    // binary number (char 1 = most significant). The 60 per-bit votes are
    // then pure shift/mask integer ops — no per-vote string work at all
    // (the earlier per-vote substring-isin formulation did 60 string
    // probes per token row inside the aggregate).
    val hashed = docs
      .select(col(idCol).as("doc_id"),
        explode(array_distinct(TextFunctions.tokenize(col(textCol)))).as("tok"))
      .select(col("doc_id"),
        conv(substring(
          translate(concat(md5(col("tok")), md5(concat(lit("1:"), col("tok")))),
            "0123456789abcdef", "0101010101010101"), 1, nBits),
          2, 10).cast("long").as("bits"))
    // parity char b+1 (bit b of the fingerprint) sits at position
    // nBits-1-b of the packed long (conv is big-endian)
    def bit(b: Int) = shiftright(col("bits"), nBits - 1 - b).bitwiseAND(lit(1L))
    val votes = hashed.groupBy(col("doc_id")).agg(
      sum(bit(0) * 2L - 1L).as("v0"),
      (1 until nBits).map { b => sum(bit(b) * 2L - 1L).as(s"v$b") }: _*)
    votes.select(col("doc_id"),
      (0 until nBits).map { b =>
        when(col(s"v$b") > 0, lit(1L << b)).otherwise(lit(0L))
      }.reduce(_ + _).as("simhash"))
  }

  /** Decontamination against an evaluation set (the GPT-3 appendix-C /
    * PaLM pipeline step): a corpus document is contaminated when it
    * shares any n-token gram with any eval document — exact token-gram
    * collision, the standard test-set-overlap check run before training.
    *
    * Scale shape: the eval side is bounded (benchmarks are small next to
    * a 100 TB corpus), so its distinct gram fingerprints BROADCAST —
    * 8 bytes per gram via the md5-derived 64-bit fingerprint instead of
    * the gram text. The corpus side explodes grams, map-side hash-joins
    * the broadcast, and aggregates per doc_id; corpus text never
    * shuffles, and uncontaminated docs (the vast majority) die at the
    * join probe without producing a row. */
  def decontaminate(corpus: DataFrame, corpusIdCol: String, corpusTextCol: String,
      evalSet: DataFrame, evalIdCol: String, evalTextCol: String,
      n: Int = 8): DataFrame = {
    require(n >= 1, "decontaminate: n must be >= 1")
    val cg = gramFingerprints(corpus, corpusIdCol, corpusTextCol, corpusIdCol, n)
    val eg = gramFingerprints(evalSet, evalIdCol, evalTextCol, "_eval_id", n).distinct()
    decontaminateVerify(corpus, corpusIdCol, cg, broadcast(eg))
  }

  /** Eval-side contamination triage — the flip of [[decontaminate]]:
    * per EVAL document, how many corpus documents share any n-token
    * gram and how many distinct grams leak. Decontamination answers
    * "which corpus docs do I drop"; this answers "which benchmark items
    * are already compromised and must leave the eval set" — both reads
    * are run before any training/eval pair is trusted.
    *
    * Same scale shape as [[decontaminate]] — the bounded eval gram set
    * broadcasts, corpus grams probe it map-side — but the rollup keys
    * on the eval id, so the output is eval-sized. */
  def contaminationByEval(corpus: DataFrame, corpusIdCol: String,
      corpusTextCol: String, evalSet: DataFrame, evalIdCol: String,
      evalTextCol: String, n: Int = 8): DataFrame = {
    require(n >= 1, "contaminationByEval: n must be >= 1")
    val cg = gramFingerprints(corpus, corpusIdCol, corpusTextCol,
      "_corpus_id", n)
    val eg = gramFingerprints(evalSet, evalIdCol, evalTextCol,
      evalIdCol, n).distinct()
    val hits = cg.join(broadcast(eg), "gram_fp")
      .groupBy(col(evalIdCol))
      .agg(countDistinct(col("gram_fp")).as("n_shared_grams"),
        countDistinct(col("_corpus_id")).as("n_corpus_docs"))
    evalSet.select(col(evalIdCol))
      .join(hits, Seq(evalIdCol), "left")
      .select(col(evalIdCol),
        coalesce(col("n_shared_grams"), lit(0L)).as("n_shared_grams"),
        coalesce(col("n_corpus_docs"), lit(0L)).as("n_corpus_docs"),
        coalesce(col("n_shared_grams") > 0, lit(false)).as("compromised"))
  }

  /** Token-n-gram 64-bit fingerprints, one row per (id, gram). */
  private def gramFingerprints(df: DataFrame, idCol: String, textCol: String,
      outId: String, n: Int): DataFrame = {
    val t = TextFunctions.tokenize(col(textCol))
    // positions explode + slice/join/md5 in the fused projection — the
    // transform-lambda form built the fingerprint array interpreted
    // (same trap as the q34 gram builder); sequence(1, 0) descends, so
    // short docs are guarded to an empty position array
    df.select(col(idCol).as(outId), t.as("_t"))
      .select(col(outId), col("_t"), explode(
        when(size(col("_t")) >= n, sequence(lit(1), size(col("_t")) - (n - 1)))
          .otherwise(array().cast("array<int>"))).as("_i"))
      .select(col(outId), TextFunctions.fingerprint(
        array_join(slice(col("_t"), col("_i"), lit(n)), " ")).as("gram_fp"))
  }

  /** Shared verify + rollup tail: corpus grams × eval grams → per-doc
    * contamination counts, zero-filled for clean docs. */
  private def decontaminateVerify(corpus: DataFrame, corpusIdCol: String,
      corpusGrams: DataFrame, evalGrams: DataFrame): DataFrame = {
    val hits = corpusGrams.join(evalGrams, "gram_fp")
      .groupBy(col(corpusIdCol))
      .agg(countDistinct(col("gram_fp")).as("n_shared_grams"),
        countDistinct(col("_eval_id")).as("n_eval_docs"))
    corpus.select(col(corpusIdCol))
      .join(hits, Seq(corpusIdCol), "left")
      .select(col(corpusIdCol),
        coalesce(col("n_shared_grams"), lit(0L)).as("n_shared_grams"),
        coalesce(col("n_eval_docs"), lit(0L)).as("n_eval_docs"),
        coalesce(col("n_shared_grams") > 0, lit(false)).as("contaminated"))
  }

  /** [[decontaminate]] with a Bloom-filter pre-filter — the shape for
    * eval suites too large to broadcast as an exact gram set (a few GB
    * of held-out data is ~10⁸ grams = ~800 MB exact vs ~120 MB of Bloom
    * bits at 1% fpp). The corpus side probes the broadcast sketch
    * map-side and drops effectively every gram before ANY join
    * machinery; survivors (true hits + the fpp tail) then run the exact
    * verify join, so false positives are eliminated and the result is
    * IDENTICAL to [[decontaminate]] — the sketch buys scale, never
    * accuracy (the q43/q59 driver oracle is literally the same SQL).
    *
    * The membership probe is a scalar UDF over the broadcast sketch —
    * justified: Spark's BloomFilterMightContain expression is internal
    * to runtime row-group filtering and not constructible from the
    * public API, and the probe sits behind a codegen'd explode, costing
    * one virtual call per gram. The verify join is left unhinted: the
    * surviving gram set is tiny, so AQE broadcasts it (or shuffles a
    * near-empty relation when the eval side genuinely can't broadcast —
    * exactly the fallback wanted at scale). */
  def decontaminateBloom(corpus: DataFrame, corpusIdCol: String,
      corpusTextCol: String, evalSet: DataFrame, evalIdCol: String,
      evalTextCol: String, n: Int = 8, fpp: Double = 0.01): DataFrame = {
    require(n >= 1, "decontaminateBloom: n must be >= 1")
    val spark = corpus.sparkSession
    val eg = gramFingerprints(evalSet, evalIdCol, evalTextCol, "_eval_id", n)
      .distinct().localCheckpoint() // bounded side; built once, used twice
    val nGrams = math.max(eg.count(), 1000L)
    val bloom = eg.stat.bloomFilter("gram_fp", nGrams, fpp)
    val bloomBc = spark.sparkContext.broadcast(bloom)
    val mightContain = udf((fp: Long) => bloomBc.value.mightContainLong(fp))
    val cg = gramFingerprints(corpus, corpusIdCol, corpusTextCol, corpusIdCol, n)
      .filter(mightContain(col("gram_fp")))
    decontaminateVerify(corpus, corpusIdCol, cg, eg)
  }

  /** Cross-document n-gram novelty — the duplicate-n-gram fraction of
    * the Dolma/RefinedWeb quality suite: how much of a document's
    * distinct n-gram set also appears in OTHER documents. Complements
    * [[graft.pipeline.TextMetrics.repetitionStats]] (intra-document
    * repetition) and `sharedSubstringStats` (winnow-SAMPLED substrings);
    * this is the exhaustive exact-gram form.
    *
    * Scale shape: only (id, 8-byte gram fingerprint) pairs ever shuffle
    * — text explodes to fingerprints map-side. One gram-keyed aggregate
    * builds the corpus gram table (count = owning docs, since the pairs
    * are per-doc distinct); shared grams join back fingerprint-keyed.
    * Gram-table cardinality grows with corpus size, but per-key rows are
    * true duplication multiplicity — the identical profile q54 carries.
    *
    * `novelty_frac = 1 − shared/total`; a doc too short for any n-gram
    * is fully novel by convention. */
  def gramNovelty(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 8): DataFrame = {
    val fps = gramFingerprints(docs, idCol, textCol, idCol, n).distinct()
    val sharedFps = fps.groupBy(col("gram_fp"))
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= 2).select(col("gram_fp"))
    val shared = fps.join(sharedFps, "gram_fp")
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_shared_grams"))
    val totals = fps.groupBy(col(idCol)).agg(count(lit(1)).as("n_grams"))
    docs.select(col(idCol))
      .join(totals, Seq(idCol), "left")
      .join(shared, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_shared_grams"), lit(0L)).as("n_shared_grams"),
        when(coalesce(col("n_grams"), lit(0L)) > 0,
          round((lit(1.0) -
            coalesce(col("n_shared_grams"), lit(0L)).cast("double") /
              col("n_grams").cast("double")).cast("decimal(28,10)"), 6)
            .cast("double"))
          .otherwise(lit(1.0)).as("novelty_frac"))
  }

  /** Incremental-ingest dedup — the daily-batch production shape: a NEW
    * batch of documents is checked against the EXISTING corpus and each
    * new document gets a verdict: `dup_exact` (byte-identical text
    * already in the corpus), `dup_near` (a verified near-dup pair
    * crosses the batch/corpus boundary), or `new`. Exact beats near.
    * `nearPairs` is the verified (doc_a, doc_b) near-dup relation — in
    * production served from the signature store exactly as the shared
    * MinHash cache serves it here, so the expensive detection is
    * amortized across every ingest.
    *
    * Scale shape: the exact arm is a hash-keyed left-semi join — only
    * 16-byte md5 keys shuffle, text never moves, and the build side is
    * the deduplicated corpus hash set. The near arm is two projections
    * of the (near-dup-rate-sized) pair relation, restricted to
    * boundary-crossing pairs by id-keyed semi joins. The verdict is two
    * id-keyed left joins on the batch-sized relation only.
    *
    * `bloomFpp > 0` turns on the q59 sketch trade for the exact arm:
    * the BATCH side is the bounded one (a daily ingest), so its md5 set
    * builds a broadcast Bloom filter and the corpus hash relation
    * filters MAP-SIDE before the semi-join — per ingest only
    * ~fpp·|corpus| + |true dups| corpus hashes shuffle instead of every
    * corpus hash. False positives survive only into the exact semi-join,
    * so the verdicts are IDENTICAL at any fpp (the spec pins fpp ≈ 1). */
  def incrementalDedup(newDocs: DataFrame, oldDocs: DataFrame,
      nearPairs: DataFrame, idCol: String, textCol: String,
      bloomFpp: Double = 0.0): DataFrame = {
    val nh = newDocs.select(col(idCol), md5(col(textCol)).as("_h"))
    val ohRaw = oldDocs.select(md5(col(textCol)).as("_h"))
    // the Bloom probe runs BEFORE distinct so pruned corpus hashes never
    // enter the dedup shuffle at all
    val oh = (if (bloomFpp <= 0.0) ohRaw else {
      val spark = newDocs.sparkSession
      val nhc = nh.localCheckpoint(true) // bounded side; built once, probed once
      val bloom = nhc.stat.bloomFilter("_h", math.max(nhc.count(), 1000L),
        bloomFpp)
      val bloomBc = spark.sparkContext.broadcast(bloom)
      val mightContain = udf((h: String) => h != null && bloomBc.value.mightContain(h))
      ohRaw.filter(mightContain(col("_h")))
    }).distinct()
    val exact = nh.join(oh, Seq("_h"), "left_semi")
      .select(col(idCol)).withColumn("_e", lit(1L))
    val sym = nearPairs.select(col("doc_a").as(idCol), col("doc_b").as("_oid"))
      .unionByName(
        nearPairs.select(col("doc_b").as(idCol), col("doc_a").as("_oid")))
    val near = sym
      .join(newDocs.select(col(idCol)), Seq(idCol), "left_semi")
      .join(oldDocs.select(col(idCol).as("_oid")), Seq("_oid"), "left_semi")
      .select(col(idCol)).distinct().withColumn("_n", lit(1L))
    newDocs.select(col(idCol))
      .join(exact, Seq(idCol), "left")
      .join(near, Seq(idCol), "left")
      .select(col(idCol),
        when(col("_e").isNotNull, lit("dup_exact"))
          .when(col("_n").isNotNull, lit("dup_near"))
          .otherwise(lit("new")).as("verdict"))
  }

  /** Per-stage near-dup clusters for SEVERAL modalities in ONE
    * label-propagation loop: each (stage, doc) key is packed into a
    * single long — `stageIdx << 40 | doc_id` — so the union of all
    * stage pair sets propagates together and the driver pays ONE
    * convergence loop (rounds = the max component diameter across
    * stages) instead of one loop per modality. Min-label propagation
    * respects the packing because stage blocks occupy disjoint id
    * ranges: the min over a component never crosses a stage boundary,
    * and unpacking (`& (2^40−1)`) recovers the per-stage min-doc-id
    * canonical exactly.
    *
    * Ids must lie in [0, 2^40) — violations raise loudly inside the
    * packing expression (never a silent wrong cluster). Output:
    * (stage, doc_id, cluster_id), one row per (stage, doc). */
  def crossModalClusters(docs: DataFrame, idCol: String,
      stagePairs: Seq[(String, DataFrame)], maxIters: Int = 64): DataFrame = {
    require(stagePairs.nonEmpty && stagePairs.size <= 16,
      "crossModalClusters: 1..16 stages")
    val OFF = 1L << 40
    def packed(c: org.apache.spark.sql.Column, i: Int) =
      when(c >= 0L && c < OFF, c + lit(i.toLong * OFF))
        .otherwise(raise_error(format_string(
          s"crossModalClusters: id out of [0, 2^40): %s", c.cast("string"))))
    val ids = docs.select(col(idCol).cast("long").as("_id"))
    val docsPacked = stagePairs.indices.map(i =>
        ids.select(packed(col("_id"), i).as("k")))
      .reduce(_ unionByName _)
    val pairsPacked = stagePairs.zipWithIndex.map { case ((_, p), i) =>
        p.select(packed(col("doc_a").cast("long"), i).as("doc_a"),
          packed(col("doc_b").cast("long"), i).as("doc_b"))
      }.reduce(_ unionByName _)
    val labels = nearDupClusters(docsPacked, pairsPacked, "k", maxIters)
    val stageNames = array(stagePairs.map(s => lit(s._1)): _*)
    labels.select(
      element_at(stageNames, shiftright(col("doc_id"), 40).cast("int") + 1)
        .as("stage"),
      col("doc_id").bitwiseAND(OFF - 1).as("doc_id"),
      col("cluster_id").bitwiseAND(OFF - 1).as("cluster_id"))
  }

  /** Cross-modal canonical keep-list — the artifact a production dedup
    * pipeline actually emits: per document, the canonical elected by
    * EVERY modality's near-dup clustering (text, semantic, image,
    * audio, video, …), a single keep verdict (kept only when every
    * stage elects the document itself), the FIRST stage that dropped
    * it (pipeline-order attribution, the q67 curate-verdict pattern —
    * per-stage attrition is a trivial rollup of `reason`), and that
    * stage's canonical id.
    *
    * `tagged` is a (doc_id, stage, cluster_id) relation —
    * [[crossModalClusters]] output unioned with any independently-
    * computed stage labelings; `stageOrder` fixes both the column
    * order and the drop-attribution precedence. A (stage, doc) absent
    * from `tagged` keeps the document at that stage (its canonical
    * defaults to itself).
    *
    * Scale shape: ONE groupBy(doc_id) pivots all stage labels out of
    * the union (never a join per stage), then one id-keyed left join
    * back to the corpus spine. Only ids and small longs shuffle. */
  def crossModalKeepList(docs: DataFrame, idCol: String,
      tagged: DataFrame, stageOrder: Seq[String]): DataFrame = {
    require(stageOrder.nonEmpty, "crossModalKeepList: need stages")
    val aggs = stageOrder.map(s =>
      max(when(col("stage") === s, col("cluster_id"))).as(s"c_$s"))
    val pivoted = tagged.groupBy(col("doc_id"))
      .agg(aggs.head, aggs.tail: _*)
    val spine = docs.select(col(idCol).cast("long").as("doc_id"))
      .join(pivoted, Seq("doc_id"), "left")
    val filled = stageOrder.foldLeft(spine) { (acc, s) =>
      acc.withColumn(s"c_$s", coalesce(col(s"c_$s"), col("doc_id")))
    }
    val reason = stageOrder.reverse.foldLeft(lit("kept")) { (tail, s) =>
      when(col(s"c_$s") =!= col("doc_id"), lit(s)).otherwise(tail)
    }
    val canonical = stageOrder.reverse.foldLeft(col("doc_id")) { (tail, s) =>
      when(col(s"c_$s") =!= col("doc_id"), col(s"c_$s")).otherwise(tail)
    }
    filled.select(col("doc_id") +: stageOrder.map(s => col(s"c_$s")) :+
      (reason === "kept").as("keep") :+ reason.as("reason") :+
      canonical.as("canonical_id"): _*)
  }
}
