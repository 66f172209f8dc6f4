package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, LongType, StringType, StructField, StructType}

import graft.functions.TextFunctions
import graft.telemetry.Events

/** Text-analysis operators for training-data pipelines (north-star
  * extensions): language ID, quality scoring, token counting, document
  * fingerprinting. All pure Catalyst column expressions — per-row map
  * work with no shuffle, so these run at scan speed on any corpus size.
  */
object TextMetrics {

  /** Token statistics: whitespace tokens plus a BPE-ish subword estimate
    * (runs of letters / digits / single punctuation as separate tokens). */
  def tokenStats(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = TextFunctions.tokenize(col(textCol))
    docs.select(
      col(idCol),
      size(toks).as("n_tokens"),
      size(array_distinct(toks)).as("n_distinct_tokens"),
      size(split(col(textCol), "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 \\t\\n\\f\\r]")).as("n_subword_splits"),
      length(col(textCol)).as("n_chars"))
  }

  /** Quality score: length, punctuation ratio, stopword ratio, mean token
    * length — the standard cheap heuristics for corpus filtering. */
  /** The quality signals as named expressions over `textCol` — shared by
    * the select-form [[qualityScore]] and the append-form
    * [[withQuality]] (streaming paths annotate rows in place; a
    * doc_id-keyed join back would cross-pair rows when ids repeat
    * within a batch). */
  def qualityColumns(textCol: String): Seq[(String, Column)] = {
    val toks = TextFunctions.tokenize(col(textCol))
    val nChars = length(col(textCol))
    val punct = nChars - length(regexp_replace(col(textCol), "[^a-zA-Z0-9 \\t\\n\\f\\r]", ""))
    val punctRatio = punct.cast("double") / nChars.cast("double")
    val meanTokenLen =
      (nChars - size(toks) + 1).cast("double") / size(toks).cast("double")
    Seq(
      "n_chars" -> nChars,
      "punct_ratio" -> punctRatio,
      "stopword_ratio" -> TextFunctions.stopwordRatio(col(textCol)),
      "mean_token_len" -> meanTokenLen,
      "quality" -> when(nChars >= 50 && punctRatio < 0.2 &&
        meanTokenLen >= 3 && meanTokenLen <= 12, 1.0).otherwise(0.0))
  }

  def qualityScore(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol) +:
      qualityColumns(textCol).map { case (n, c) => c.as(n) }: _*)

  /** [[qualityScore]] appended to the input rows — no join, no shuffle. */
  def withQuality(docs: DataFrame, textCol: String): DataFrame =
    qualityColumns(textCol).foldLeft(docs) { case (d, (n, c)) => d.withColumn(n, c) }

  /** Wide per-document quality-signal extraction (RedPajama-V2-style:
    * ship the raw signals as a table and let each downstream filter pick
    * thresholds, instead of baking one quality bit at ingest). All
    * signals are per-row column expressions over one scan — no
    * shuffle, no lambda-HOF builders in the hot path (array_distinct
    * and the regexp family are codegen'd) — so the pass stays
    * scan-speed at any corpus size and applies unchanged to a
    * readStream frame. Ratios round once in the decimal domain. */
  def signalColumns(textCol: String): Seq[(String, Column)] = {
    val t = TextFunctions.tokenize(col(textCol))
    val nChars = length(col(textCol))
    val nTok = size(t)
    val nLines = size(split(col(textCol), "\n"))
    def charFrac(keepClassInverse: String): Column =
      when(nChars > 0,
        dec6(length(regexp_replace(col(textCol), keepClassInverse, ""))
          .cast("double") / nChars.cast("double"))).otherwise(lit(0.0))
    Seq(
      "n_chars" -> nChars.cast("long"),
      "n_lines" -> nLines.cast("long"),
      "n_sents" -> regexp_count(col(textCol), lit("[.!?]")).cast("long"),
      "n_tokens" -> nTok.cast("long"),
      "n_types" -> size(array_distinct(t)).cast("long"),
      "ttr" -> when(nTok > 0, dec6(size(array_distinct(t)).cast("double") /
        nTok.cast("double"))).otherwise(lit(0.0)),
      "frac_alpha" -> charFrac("[^A-Za-z]"),
      "frac_digit" -> charFrac("[^0-9]"),
      "frac_upper" -> charFrac("[^A-Z]"),
      "tokens_per_line" -> when(nLines > 0, dec6(nTok.cast("double") /
        nLines.cast("double"))).otherwise(lit(0.0)))
  }

  /** The signal table: `idCol` plus every [[signalColumns]] signal. */
  def qualitySignals(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol) +:
      signalColumns(textCol).map { case (n, c) => c.as(n) }: _*)

  /** The Gopher/MassiveText document-filter rule set (Rae et al. 2021,
    * "Scaling Language Models: ... Gopher", table A1) — the published
    * heuristic battery most later corpora (RefinedWeb, FineWeb) start
    * from. Seven rules, emitted as 0/1 BIGINT flags plus the conjunctive
    * verdict, so downstream consumers can audit WHICH rule fired (the
    * same ship-the-signals philosophy as [[qualitySignals]]).
    *
    * Thresholds follow the paper: 50 ≤ words ≤ 100 000; mean word
    * length in [3, 10]; symbol-to-word ratio (# or …) ≤ 0.1; ≤ 90% of
    * lines may start with a bullet; < 30% may end with an ellipsis;
    * ≥ 80% of words contain an alphabetic character; ≥ 2 distinct
    * English stop words appear. The line rules use `(?m)` anchors —
    * within the regex subset Java and RE2 interpret identically.
    *
    * Intentional variants vs the paper's table A1, chosen for
    * engine-stability and mirrored exactly in the oracle: the
    * symbol/ellipsis patterns match ASCII `...` only (not U+2026 `…`),
    * and the ellipsis rule keeps `frac < 0.3` (strict) where the paper
    * removes `> 30%` (i.e. keeps ≤ 0.3) — boundary docs at exactly 30%
    * are the only divergence, and both engines agree on it.
    *
    * One scan, per-row expressions; every ratio compares IEEE-identical
    * doubles so the verdict is engine-stable. The word-alpha rule runs
    * the native `count_rlike` expression (pattern compiled once at plan
    * time, primitive loop, whole-stage codegen) — the former
    * `size(filter(t, _.rlike(...)))` HOF evaluated an interpreted
    * boxed lambda per token; the rest is codegen'd regexp. */
  def gopherRules(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = TextFunctions.tokenize(col(textCol))
    val nWords = size(t)
    val nLines = size(split(col(textCol), "\n"))
    // Explicit whitespace class, NOT \s: Java \s includes \x0B
    // (vertical tab) while RE2 \s does not — the oracle mirrors this
    // exact class so both engines strip identical bytes.
    val meanLen = length(regexp_replace(col(textCol), "[ \\t\\n\\f\\r]", ""))
      .cast("double") / nWords.cast("double")
    val symbolRatio = regexp_count(col(textCol), lit("#|\\.\\.\\."))
      .cast("double") / nWords.cast("double")
    val bulletFrac = regexp_count(col(textCol), lit("(?m)^[-*]"))
      .cast("double") / nLines.cast("double")
    val ellipsisFrac = regexp_count(col(textCol), lit("(?m)\\.\\.\\.$"))
      .cast("double") / nLines.cast("double")
    val alphaFrac = call_function("count_rlike", t, lit("[a-z]"))
      .cast("double") / nWords.cast("double")
    val stopHits = Seq("the", "be", "to", "of", "and", "that", "have", "with")
      .map(w => when(array_contains(t, w), 1L).otherwise(0L))
      .reduce(_ + _)
    def flag(c: Column): Column = when(c, 1L).otherwise(0L)
    val rules = Seq(
      "r_word_count" -> flag(nWords >= 50 && nWords <= 100000),
      "r_mean_word_len" -> flag(meanLen >= 3.0 && meanLen <= 10.0),
      "r_symbol_ratio" -> flag(symbolRatio <= 0.1),
      "r_bullet_lines" -> flag(bulletFrac <= 0.9),
      "r_ellipsis_lines" -> flag(ellipsisFrac < 0.3),
      "r_alpha_words" -> flag(alphaFrac >= 0.8),
      "r_stopwords" -> flag(stopHits >= 2L))
    docs.select(col(idCol) +: nWords.cast("long").as("n_words") +:
      rules.map { case (n, c) => c.as(n) } :+
      rules.map(_._2).reduce(_ * _).as("pass"): _*)
  }

  /** Pairwise Jensen-Shannon divergence between per-group unigram token
    * distributions — the corpus-diversity diagnostic behind mixture
    * design (two sources with near-zero JSD are vocabulary mirrors;
    * upweighting both buys no diversity — the same read that drives
    * q78's near-dup overlap report, but at the distribution level).
    *
    * Only SHARED tokens need the join: a token present in one group
    * only has m = p/2, so its KL term is p·ln 2 — linear in p — and the
    * whole one-sided remainder collapses to
    * `½·ln2·((N₁−S₁)/N₁ + (N₂−S₂)/N₂)` where S is the shared-token
    * mass, all exact integers from the same aggregate.
    *
    * Exactness: per-token terms are IEEE-identical doubles (integer
    * ratios, ln) summed as DECIMAL; the ½ factor multiplies INSIDE the
    * double term before the decimal cast, so no engine-specific decimal
    * scale rules apply.
    *
    * Shape: one corpus scan collapses to the (group, token, count)
    * relation (vocabulary-sized, materialized once); the token-keyed
    * self-join emits only co-occurring (token, pair) rows; group totals
    * broadcast; the final aggregate keys on |groups|² pairs with
    * map-side partials. */
  def sourceDivergence(docs: DataFrame, groupCol: String,
      textCol: String): DataFrame = {
    val tf = docs
      .select(col(groupCol).as("_g"),
        explode(TextFunctions.tokenize(col(textCol))).as("token"))
      .groupBy(col("_g"), col("token")).agg(count(lit(1)).as("c"))
      .localCheckpoint(true) // model + both join sides: scan once
    val tot = tf.groupBy(col("_g")).agg(sum(col("c")).as("n"))
    val a = tf.select(col("_g").as("ga"), col("token"), col("c").as("ca"))
    val b = tf.select(col("_g").as("gb"), col("token"), col("c").as("cb"))
    val shared = a.join(b, Seq("token")).filter(col("ga") < col("gb"))
      .join(broadcast(tot.select(col("_g").as("ga"), col("n").as("na"))), "ga")
      .join(broadcast(tot.select(col("_g").as("gb"), col("n").as("nb"))), "gb")
    val p = col("ca").cast("double") / col("na").cast("double")
    val q = col("cb").cast("double") / col("nb").cast("double")
    val term = (lit(0.5) * (p * log(lit(2.0) * p / (p + q)) +
      q * log(lit(2.0) * q / (p + q)))).cast("decimal(18,10)")
    shared
      .groupBy(col("ga").as("source_a"), col("gb").as("source_b"),
        col("na"), col("nb"))
      .agg(count(lit(1)).as("n_shared"),
        sum(col("ca")).as("_sa"), sum(col("cb")).as("_sb"),
        sum(term).as("_sum"))
      .select(col("source_a"), col("source_b"), col("n_shared"),
        round(col("_sum") +
          (lit(0.5) * log(lit(2.0)) *
            ((col("na") - col("_sa")).cast("double") / col("na").cast("double") +
             (col("nb") - col("_sb")).cast("double") / col("nb").cast("double")))
            .cast("decimal(18,10)"), 6)
          .cast("double").as("jsd"))
  }

  /** Deterministic language ID via stopword-profile hit ratios. The
    * reference's cybozu langdetect is seed-nondeterministic (SURVEY.md M1)
    * — replaced by an order-fixed argmax over per-language stopword
    * profiles; ties resolve by profile order. */
  val langProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "of", "to", "in", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un", "une"),
    "es" -> Seq("el", "los", "las", "es", "un", "una", "y"))

  /** The stopword-profile language decision as one expression — shared
    * by [[detectLanguage]] (select form) and [[withLanguage]] (append
    * form, for streaming annotation without a join). */
  def languageColumn(textCol: String): Column = {
    val toks = TextFunctions.tokenize(col(textCol))
    val hits = langProfiles.map { case (lang, words) =>
      (lang, size(filter(toks, t => array_contains(lit(words.toArray), t))))
    }
    // first profile with the max hit count; 'und' (undetermined) if none hit
    val maxHits = greatest(hits.map(_._2): _*)
    // foldRight means earlier profiles overwrite later ones on ties
    hits.foldRight(lit("und")) { case ((lang, h), acc) =>
      when(h === maxHits && maxHits > 0, lang).otherwise(acc)
    }
  }

  def detectLanguage(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol), languageColumn(textCol).as("detected_lang"))

  /** [[detectLanguage]] appended to the input rows — no join, no shuffle. */
  def withLanguage(docs: DataFrame, textCol: String): DataFrame =
    docs.withColumn("detected_lang", languageColumn(textCol))

  /** Character-trigram language profiles for [[langIdNgram]] — integer
    * weights (exact sums). Common trigrams per language; overlaps between
    * languages are realistic and resolved by total weight. Any
    * (lang, ngram, weight) relation can replace this fixture (e.g. one
    * trained offline from per-language corpora). */
  val trigramProfiles: Seq[(String, String, Long)] = Seq(
    ("en", "the", 30L), ("en", " th", 20L), ("en", "he ", 20L),
    ("en", "ing", 15L), ("en", "and", 15L), ("en", "ion", 10L),
    ("en", " of", 12L), ("en", "of ", 10L), ("en", " to", 10L),
    ("en", "is ", 10L), ("en", " is", 8L), ("en", "er ", 8L),
    ("de", "der", 20L), ("de", "und", 20L), ("de", "ein", 15L),
    ("de", "sch", 15L), ("de", "ich", 15L), ("de", "die", 15L),
    ("de", "en ", 15L), ("de", "ch ", 10L), ("de", " de", 10L),
    ("de", "nd ", 10L),
    ("fr", "le ", 15L), ("fr", " le", 12L), ("fr", "que", 15L),
    ("fr", " qu", 10L), ("fr", " de", 15L), ("fr", "es ", 10L),
    ("fr", "ent", 10L), ("fr", "eur", 8L), ("fr", "ais", 8L),
    ("es", "de ", 12L), ("es", " de", 12L), ("es", "os ", 15L),
    ("es", "la ", 15L), ("es", " la", 12L), ("es", "que", 12L),
    ("es", "ado", 10L), ("es", "ar ", 10L), ("es", "el ", 12L),
    ("es", "cio", 8L))

  /** M1 (n-gram profile variant) — the reference's cybozu langdetect is a
    * character-n-gram naive Bayes over per-language profile files
    * (TweetIndexBolt.java:96-125), seed-nondeterministic; this is its
    * deterministic relational form: text → character trigrams → broadcast
    * join against a (lang, ngram, weight) profile relation →
    * per-(doc, lang) weight sum → argmax (ties by lang asc, no hits →
    * 'und'). The profile broadcasts; scoring is a map-side join plus one
    * aggregation keyed by doc — scan-speed at any corpus size. */
  def langIdNgram(docs: DataFrame, idCol: String, textCol: String,
      profiles: DataFrame): DataFrame = {
    // The profile relation is a bounded side input (collected at
    // plan-build time, the same prepare()-time contract as
    // nbRelevancePerRow), so profile matching is a PER-ROW KERNEL: one
    // `count_substrs` scan counts every profile gram's overlapping
    // occurrences (char-substring matching equals the 3-codepoint
    // position-window semantics exactly when each gram's char length
    // is its codepoint length — enforced below), per-language scores
    // are dot products over that fixed-width count array, and the
    // argmax folds into the same projection. ZERO shuffles — the
    // original explode-every-position → InSet → broadcast-join →
    // double-aggregate pipeline ([[langIdNgramExploded]], kept as the
    // parity twin) paid one row per CHARACTER plus two aggregates for
    // the identical function (measured 2.5 s → this form at sf0.1;
    // LangIdKernelSpec pins the two equal).
    val profileRows = collectProfiles(profiles)
    docs.select(col(idCol),
        langIdCounts(lower(col(textCol)), profileRows).as("_cnt"))
      .select(col(idCol), langIdBestFromCounts(col("_cnt"), profileRows)
        .as("_b"))
      .select(col(idCol),
        when(-col("_b.negScore") > 0, col("_b.lang"))
          .otherwise(lit("und")).as("detected_lang"),
        greatest(-col("_b.negScore"), lit(0L)).as("score"))
  }

  /** Collect + validate a profile relation (a bounded side input, the
    * prepare()-time contract). */
  private def collectProfiles(
      profiles: DataFrame): Seq[(String, String, Long)] = {
    val rows = profiles.select("lang", "ngram", "weight")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .toSeq
    rows.foreach { case (_, g, _) =>
      require(g.codePointCount(0, g.length) == g.length,
        s"langIdNgram: profile gram '$g' contains supplementary " +
          "codepoints — char matching would diverge from the " +
          "3-codepoint window semantics")
      // the TRIGRAM contract: the window form only ever compares
      // 3-codepoint windows, so a non-3-gram would silently never
      // match there while substring counting would count it
      require(g.length == 3,
        s"langIdNgram: profile gram '$g' must be exactly 3 characters")
    }
    rows
  }

  /** The `count_substrs` kernel call over the profile's distinct gram
    * table — bind the result as a NAMED COLUMN in one projection and
    * feed [[langIdBestFromCounts]] in the next, so the kernel runs
    * once per row (referencing it inline would re-run it per
    * (lang, gram) term; a transform-lambda let-binding would drop the
    * whole argmax out of codegen — the documented interpreted-HOF
    * trap). */
  private def langIdCounts(loweredText: Column,
      profileRows: Seq[(String, String, Long)]): Column =
    call_function("count_substrs", loweredText,
      lit(profileRows.map(_._2).distinct.sorted.toArray))

  /** The per-row language argmax over a bound [[langIdCounts]] column:
    * struct(negScore, lang) of the winning language (highest score,
    * ties to the smaller lang; a zero top score means no profile gram
    * matched). Plain column expressions — composes into a caller's
    * existing projection, which is how [[scriptRoutedLangId]] routes
    * only Latin-dominant rows through the kernel. */
  private def langIdBestFromCounts(cnt: Column,
      profileRows: Seq[(String, String, Long)]): Column = {
    val gramIdx = profileRows.map(_._2).distinct.sorted.zipWithIndex.toMap
    val langs = profileRows.map(_._1).distinct.sorted
    def scoreOf(l: String): Column =
      profileRows.filter(_._1 == l).map { case (_, g, w) =>
        element_at(cnt, gramIdx(g) + 1) * lit(w)
      }.reduce(_ + _)
    array_min(array(langs.map(l =>
      struct((-scoreOf(l)).as("negScore"), lit(l).as("lang"))): _*))
  }

  /** The original relational form of [[langIdNgram]] — explode one row
    * per character position, InSet pre-filter, broadcast profile join,
    * per-(doc, lang) sum, argmax aggregate. Kept as the INDEPENDENT
    * parity twin for the kernel form (LangIdKernelSpec pins them
    * equal); also the shape to fall back to if a profile relation ever
    * stops being a plan-time-bounded side input. */
  private[pipeline] def langIdNgramExploded(docs: DataFrame, idCol: String,
      textCol: String, profiles: DataFrame): DataFrame = {
    val lowered = lower(col(textCol))
    // sequence(1, n) with n < 1 DESCENDS in Spark — guard short texts
    val grams = docs
      .select(col(idCol), lowered.as("_t"))
      .select(col(idCol), col("_t"),
        explode(when(length(col("_t")) >= 3, sequence(lit(1), length(col("_t")) - 2))
          .otherwise(array().cast("array<int>"))).as("_p"))
      .select(col(idCol), col("_t").substr(col("_p"), lit(3)).as("ngram"))
    val profileGrams = profiles.select("ngram").distinct()
      .collect().map(_.getString(0)).toSeq
    val byLang = grams.filter(col("ngram").isInCollection(profileGrams))
      .join(broadcast(profiles), "ngram")
      .groupBy(col(idCol), col("lang"))
      .agg(sum(col("weight")).as("score"))
    val top = byLang.groupBy(col(idCol))
      .agg(min(struct((-col("score")).as("negScore"), col("lang"))).as("m"))
      .select(col(idCol), col("m.lang").as("lang"), (-col("m.negScore")).as("score"))
    docs.select(col(idCol)).join(top, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("lang"), lit("und")).as("detected_lang"),
        coalesce(col("score"), lit(0L)).as("score"))
  }

  /** Document fingerprint: md5 plus a 15-hex-digit numeric fingerprint
    * (engine-portable); the rolling-hash variant lives in
    * [[winnowFingerprints]]. */
  def fingerprints(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol),
      md5(col(textCol)).as("md5"),
      TextFunctions.fingerprint(col(textCol)).as("fingerprint64"))

  /** Repetition quality signals (Gopher-style, Rae et al. 2021 §A1.1):
    * the fraction of characters inside the most frequent word 2-gram,
    * the fraction of characters covered by word 3-grams occurring more
    * than once, and the duplicate-word fraction. Overlapping occurrences
    * are counted and both char fractions capped at 1 — a documented
    * deviation from Gopher's de-overlapped attribution. The standard cheap repetition filters for corpus cleaning,
    * complementing [[qualityScore]]'s length/punctuation heuristics.
    *
    * Scale shape: BOTH gram sizes ride ONE tagged explode → a single
    * shuffle keyed (doc, n, gram) with map-side partial counting → per-doc
    * aggregates joined back to the per-row word stats. Gram text shuffles
    * once; the join is doc-keyed and AQE-broadcastable. */
  def repetitionStats(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = TextFunctions.tokenize(col(textCol))
    val base = docs.select(col(idCol), length(col(textCol)).as("n_chars"), toks.as("t"))
    // Measured trade (sf0.1, min-of-5 focused runs): replacing the gram
    // text key with a 64-bit md5 fingerprint + length saved shuffle
    // bytes but cost 27% wall (2.40 s → 3.04 s) — md5-per-gram CPU
    // dominates, and map-side partial aggregation already collapses
    // per-doc duplicate grams before the wire (a doc lives in one scan
    // partition, so partials are final). The text key stays.
    def gramsOf(n: Int): Column =
      when(size(col("t")) >= n, // sequence(1, 0) DESCENDS — guard short docs
        transform(sequence(lit(1), size(col("t")) - (n - 1)),
          i => struct(lit(n).as("n"), array_join(slice(col("t"), i, lit(n)), " ").as("g"))))
        .otherwise(array().cast("array<struct<n:int,g:string>>"))
    val counts = base
      .select(col(idCol), explode(concat(gramsOf(2), gramsOf(3))).as("ng"))
      .groupBy(col(idCol), col("ng.n").as("n"), col("ng.g").as("g"))
      .agg(count(lit(1)).as("cnt"))
    val aggs = counts.groupBy(col(idCol)).agg(
      max(when(col("n") === 2, col("cnt") * length(col("g")))).as("top2"),
      sum(when(col("n") === 3 && col("cnt") > 1, col("cnt") * length(col("g"))))
        .as("dup3"))
    base
      .select(col(idCol), col("n_chars"),
        size(col("t")).cast("long").as("n_words"),
        size(array_distinct(col("t"))).cast("long").as("n_distinct_words"))
      .join(aggs, Seq(idCol), "left")
      .select(col(idCol), col("n_words"),
        when(col("n_words") > 0, lit(1.0) -
          col("n_distinct_words").cast("double") / col("n_words").cast("double"))
          .otherwise(lit(0.0)).as("dup_word_frac"),
        least(lit(1.0), coalesce(col("top2").cast("double") / col("n_chars").cast("double"),
          lit(0.0))).as("top_bigram_frac"),
        least(lit(1.0), coalesce(col("dup3").cast("double") / col("n_chars").cast("double"),
          lit(0.0))).as("dup_trigram_frac"))
  }

  /** Deterministic hash-based corpus sampling for training-data mixes:
    * keep a document iff `fingerprint(salt:id) mod 100 < rate_pct` for
    * its group's configured percentage. Unlike seeded `sample()` /
    * `sampleBy` (RNG per partition — resplitting the input changes the
    * selection), the decision is a pure function of (salt, id): stable
    * under repartitioning, retries, and engine choice, which is what
    * makes a training mix REPRODUCIBLE. The rates side is a tiny
    * broadcast join; the filter is map-side — scan-speed.
    *
    * `rates` maps group → percentage (0-100); groups absent from the map
    * are dropped (rate 0). */
  /** Deterministic train/validation/test split assignment: the split
    * label is a pure function of (salt, id) — stable under
    * repartitioning, retries, engine choice and corpus growth (a
    * document keeps its split when new data arrives, the property that
    * prevents silent eval-set leakage across dataset versions).
    * `splits` maps label → percentage; must sum to 100. Buckets are
    * assigned by cumulative range in the given order. */
  def assignSplits(docs: DataFrame, idCol: String,
      splits: Seq[(String, Int)], salt: String = "split"): DataFrame = {
    require(splits.nonEmpty && splits.map(_._2).sum == 100 &&
      splits.forall(_._2 > 0), "assignSplits: positive percentages summing to 100")
    val bucket = pmod(TextFunctions.fingerprint(
      concat(lit(salt), lit(":"), col(idCol).cast("string"))), lit(100L))
    val cum = splits.scanLeft(0)(_ + _._2).tail // cumulative upper bounds
    val label = splits.zip(cum).foldRight(lit(splits.last._1)) {
      case (((name, _), upper), acc) => when(bucket < upper, name).otherwise(acc)
    }
    docs.withColumn("split", label)
  }

  /** Split-balance QA report — the bias check run after
    * [[assignSplits]] before anyone trains on the result: per
    * (group, split) document and token mass, the observed share
    * against the configured percentage, and an exact-integer deviation
    * numerator `|100·n_cell − pct·n_group|` so "which cell drifted
    * most" is decided without float rounding (hash-gate assignment is
    * uniform over ids, not stratified per group, so small groups CAN
    * drift — this report is how that's caught).
    *
    * Shape: one scan → the (group, split) cell aggregate (map-side
    * partials, ≤ |groups|·|splits| rows, materialized once for the
    * totals derivation and the probe); group totals broadcast back.
    * Cells with zero documents are absent on both engines. */
  def splitBalance(docs: DataFrame, idCol: String, groupCol: String,
      textCol: String, splits: Seq[(String, Int)],
      salt: String = "split"): DataFrame = {
    val cell = assignSplits(docs, idCol, splits, salt)
      .select(col(groupCol), col("split"),
        size(TextFunctions.tokenize(col(textCol))).cast("long").as("_nt"))
      .groupBy(col(groupCol), col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("_nt")).as("n_tokens"))
      .localCheckpoint(true)
    val tot = cell.groupBy(col(groupCol)).agg(sum(col("n_docs")).as("_ng"))
    val expected = splits.foldRight(lit(null).cast("long")) {
      case ((name, pct), acc) =>
        when(col("split") === name, pct.toLong).otherwise(acc)
    }
    cell.join(broadcast(tot), groupCol :: Nil)
      .select(col(groupCol), col("split"), col("n_docs"), col("n_tokens"),
        expected.as("expected_pct"),
        dec6(lit(100.0) * col("n_docs").cast("double") /
          col("_ng").cast("double")).as("share_pct"),
        abs(col("n_docs") * 100L - expected * col("_ng")).as("dev_num"))
  }

  /** The sampleMix keep decision as one expression: true iff the doc's
    * deterministic (salt, id) bucket falls under `ratePct`. Null
    * `ratePct` (group absent from the rates map) yields null → callers
    * filtering on it drop the row, matching the rate-0 semantics. */
  def mixKeeps(id: Column, ratePct: Column, salt: String): Column =
    pmod(TextFunctions.fingerprint(
      concat(lit(salt), lit(":"), id.cast("string"))), lit(100L)) < ratePct

  def sampleMix(docs: DataFrame, idCol: String, groupCol: String,
      rates: Map[String, Int], salt: String = "mix"): DataFrame = {
    require(rates.values.forall(p => p >= 0 && p <= 100),
      "sampleMix: rates are percentages in [0, 100]")
    val spark = docs.sparkSession
    import spark.implicits._
    val ratesDf = rates.toSeq.toDF(groupCol, "_rate_pct")
    docs.join(broadcast(ratesDf), groupCol)
      .filter(mixKeeps(col(idCol), col("_rate_pct"), salt))
      .drop("_rate_pct")
  }

  /** Weighted epoch upsampling — [[sampleMix]]'s complement for mix
    * weights ABOVE one: a group configured at e.g. 250% contributes
    * every document twice plus a deterministic half of them a third
    * time (`copies = w div 100`, plus one more iff
    * `fingerprint(salt:id) mod 100 < w mod 100` — the same pure-
    * function-of-(salt, id) device as sampleMix, so the epoch
    * assignment is stable under repartitioning, retries, and engine
    * choice). Subsampling falls out of the same arithmetic (w < 100 →
    * 0 or 1 copies); groups absent from the map contribute nothing.
    * The default salt deliberately differs from [[sampleMix]]'s: with a
    * shared salt the two hash gates would be fully correlated when the
    * operators compose (every sampleMix survivor would also win the
    * fractional extra copy, skewing the effective mix).
    *
    * Scale shape: tiny broadcast weights join, map-side bucket filter,
    * one `explode(sequence)` per surviving row — no shuffle; output
    * rows carry an `epoch` index so downstream shuffling/packing can
    * interleave repeats instead of clustering them. `sequence(1, 0)`
    * DESCENDS in Spark, so rows with zero copies are filtered before
    * the explode, never given a descending range. */
  def upsampleMix(docs: DataFrame, idCol: String, groupCol: String,
      weightsPct: Map[String, Int], salt: String = "upsample"): DataFrame = {
    require(weightsPct.values.forall(_ >= 0),
      "upsampleMix: weights are non-negative percentages")
    val spark = docs.sparkSession
    import spark.implicits._
    val w = weightsPct.toSeq.toDF(groupCol, "_w_pct")
    docs.join(broadcast(w), groupCol)
      .withColumn("_bucket",
        pmod(TextFunctions.fingerprint(
          concat(lit(salt), lit(":"), col(idCol).cast("string"))), lit(100L)))
      .withColumn("_n",
        expr("_w_pct div 100") +
          when(col("_bucket") < col("_w_pct") % 100, 1L).otherwise(0L))
      .filter(col("_n") >= 1)
      .withColumn("epoch", explode(sequence(lit(1L), col("_n"))))
      .drop("_bucket", "_w_pct", "_n")
  }

  /** Temperature-rebalanced group sampling report — the multilingual
    * mixing device (XLM-R-style: sample groups proportional to
    * `n_g^α`, flattening the size distribution so low-resource
    * languages are not drowned out). α is fixed at 0.5 because that
    * exponent is computable as `sqrt`, which is IEEE-correctly-rounded
    * and therefore bit-identical across engines (the q55 device);
    * `pow` is NOT cross-engine exact and never enters a hashed output.
    *
    * The keep rate normalizes so the smallest group is kept whole:
    * `rate_g = floor(100 · sqrt(n_min / n_g))` — under-α-proportional
    * groups then land at their temperature share relative to it. The
    * keep decision is [[mixKeeps]]' pure (salt, id) hash gate, so the
    * selection is reproducible under repartitioning and engine choice.
    *
    * Scale shape: ONE corpus scan collapses (group, hash-bucket) to a
    * ≤|groups|·100-row histogram with map-side partials; group counts,
    * the 1-row min, the rates, and the kept-count rollup all derive
    * from that histogram — the corpus is never rescanned and nothing
    * corpus-sized shuffles. Output: one row per group with its size,
    * keep rate, and surviving document count. */
  def temperatureMixReport(docs: DataFrame, idCol: String,
      groupCol: String, salt: String = "tmix"): DataFrame = {
    val hist = docs
      .select(col(groupCol),
        pmod(TextFunctions.fingerprint(
          concat(lit(salt), lit(":"), col(idCol).cast("string"))), lit(100L))
          .as("_h"))
      .groupBy(col(groupCol), col("_h")).agg(count(lit(1)).as("_c"))
      // consumed twice (rate derivation + kept-count probe): materialize
      // the ≤|groups|·100-row histogram so the corpus scan runs once
      .localCheckpoint(true)
    val counts = hist.groupBy(col(groupCol)).agg(sum(col("_c")).as("n_docs"))
    val minc = counts.agg(min(col("n_docs")).as("_minn"))
    val rates = counts.crossJoin(broadcast(minc))
      .select(col(groupCol), col("n_docs"),
        // double-first division: long/long would truncate; the double
        // quotient, sqrt, and ×100 are all IEEE-exact cross-engine
        floor(lit(100.0) * sqrt(col("_minn").cast("double") /
          col("n_docs").cast("double"))).cast("long").as("rate_pct"))
    hist.join(broadcast(rates), groupCol)
      .groupBy(col(groupCol), col("n_docs"), col("rate_pct"))
      .agg(sum(when(col("_h") < col("rate_pct"), col("_c")).otherwise(0L))
        .as("n_kept"))
  }

  /** Deterministic global corpus shuffle — the reshard-before-packing
    * step that decorrelates training order from ingest order: every
    * document gets a shard (`fingerprint(salt:id) mod nShards`) and a
    * position within its shard (rank by the same hash; ties — 60-bit
    * hash collisions — break by id). A pure function of (salt, id):
    * re-running, repartitioning, or switching engines reproduces the
    * identical order, unlike `orderBy(rand(seed))`.
    *
    * Scale shape: ONE exchange keyed by shard, per-shard sort for the
    * rank (spills; nothing driver-side) — exactly the cost any global
    * shuffle pays; nShards sizes the output files for the training
    * loader. */
  def shuffleShards(docs: DataFrame, idCol: String, nShards: Int,
      salt: String = "shuffle"): DataFrame = {
    require(nShards >= 1, "shuffleShards: nShards must be >= 1")
    docs
      .withColumn("_k", TextFunctions.fingerprint(
        concat(lit(salt), lit(":"), col(idCol).cast("string"))))
      .withColumn("shard", pmod(col("_k"), lit(nShards.toLong)))
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("shard")).orderBy(col("_k"), col(idCol)))
        .cast("long"))
      .drop("_k")
  }

  /** Shard-balance report over [[shuffleShards]] — the QA read before a
    * training run trusts its shard layout: per shard, document and
    * token totals plus skew ratios normalized so 1.0 means perfectly
    * even (`docs_skew` = n_docs·nShards / total). Hash sharding
    * balances document COUNTS by construction; token totals can still
    * skew when long documents cluster, and a shard whose tokens_skew
    * strays far from 1 starves or hot-spots its training worker.
    *
    * Shape: one scan to (id, token-count), the same shard hash device
    * as the layout itself (one definition — the report can never
    * disagree with the writer), a |shards|-bounded aggregate with
    * map-side partials, and a 1-row broadcast total. */
  def shardSkew(docs: DataFrame, idCol: String, textCol: String,
      nShards: Int, salt: String = "shuffle"): DataFrame = {
    val sharded = shuffleShards(
      docs.select(col(idCol),
        size(TextFunctions.tokenize(col(textCol))).cast("long").as("_nt")),
      idCol, nShards, salt)
    val per = sharded.groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("_nt")).as("n_tokens"))
    val tot = per.agg(sum(col("n_docs")).as("_td"),
      sum(col("n_tokens")).as("_tt"))
    per.crossJoin(broadcast(tot))
      .select(col("shard"), col("n_docs"), col("n_tokens"),
        dec6((col("n_docs") * nShards).cast("double") /
          col("_td").cast("double")).as("docs_skew"),
        dec6((col("n_tokens") * nShards).cast("double") /
          col("_tt").cast("double")).as("tokens_skew"))
  }

  /** Curriculum ordering — deterministic quality-tiered training order
    * (curriculum learning: feed higher-quality documents first, shuffle
    * WITHIN each tier): tier = the [[qualityScore]] rule, shard + pos =
    * the [[shuffleShards]] hash device partitioned by (tier, shard).
    * The physical read order is (tier DESC, shard, pos) — reproducible
    * across engines, repartitionings and reruns, with no global sort:
    * rank windows are per (tier, shard), so parallelism is
    * tiers × shards and each window holds ~n/(tiers·shards) narrow
    * rows. */
  def curriculumOrder(docs: DataFrame, idCol: String, textCol: String,
      nShards: Int, salt: String = "curriculum"): DataFrame = {
    require(nShards >= 1, "curriculumOrder: nShards must be >= 1")
    qualityScore(docs, idCol, textCol)
      .select(col(idCol), col("quality").cast("long").as("tier"))
      .withColumn("_k", TextFunctions.fingerprint(
        concat(lit(salt), lit(":"), col(idCol).cast("string"))))
      .withColumn("shard", pmod(col("_k"), lit(nShards.toLong)))
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("tier"), col("shard"))
          .orderBy(col("_k"), col(idCol))).cast("long"))
      .select(col(idCol), col("tier"), col("shard"), col("pos"))
  }

  /** Fixed-token-budget document chunking — the context-window prep step
    * of a training pipeline: each document's token array splits into
    * ceil(n/maxTokens) contiguous chunks of at most maxTokens tokens.
    * One explode per chunk (not per token), then a slice/join projection;
    * per-row map work, no shuffle, scan-speed on any corpus. */
  def chunk(docs: DataFrame, idCol: String, textCol: String,
      maxTokens: Int = 32): DataFrame = {
    require(maxTokens >= 1, "chunk: maxTokens must be >= 1")
    val t = TextFunctions.tokenize(col(textCol))
    docs.select(col(idCol), t.as("_t"))
      .select(col(idCol), col("_t"),
        explode(when(size(col("_t")) >= 1, // Spark "/" is fractional — floor for the int div
          sequence(lit(0), floor((size(col("_t")) - 1) / maxTokens).cast("int")))
          .otherwise(array().cast("array<int>"))).as("_c"))
      .select(col(idCol),
        col("_c").cast("long").as("chunk_id"),
        size(slice(col("_t"), col("_c") * maxTokens + 1, lit(maxTokens)))
          .cast("long").as("n_tokens"),
        md5(array_join(slice(col("_t"), col("_c") * maxTokens + 1, lit(maxTokens)), " "))
          .as("chunk_md5"))
  }

  /** Overlapping sliding-window chunking — the retrieval/RAG indexing
    * twin of [[chunk]]: windows of `window` tokens starting every
    * `stride` tokens (stride < window ⇒ consecutive chunks share
    * `window − stride` tokens of context, the standard passage-indexing
    * shape). Chunk count is the pure integer form
    * `max(ceil((n − window)/stride), 0) + 1`, so the last window is
    * emitted even when partial and a short document yields exactly one
    * chunk. Same scale shape as [[chunk]]: one explode per CHUNK (not
    * token), slice/join projections fused by codegen, no shuffle. */
  def slidingChunks(docs: DataFrame, idCol: String, textCol: String,
      window: Int = 32, stride: Int = 24): DataFrame = {
    require(window >= 1 && stride >= 1 && stride <= window,
      "slidingChunks: need 1 <= stride <= window")
    val t = TextFunctions.tokenize(col(textCol))
    val n = size(col("_t"))
    // ceil((n - window)/stride) = floor((n - window + stride - 1)/stride);
    // Column "/" is double division, so floor() supplies the floor-div
    // semantics (exact at these magnitudes), then clamp negatives to 0
    val lastId = greatest(
      floor((n - window + stride - 1).cast("double") / stride).cast("long"),
      lit(0L))
    docs.select(col(idCol), t.as("_t"))
      .select(col(idCol), col("_t"),
        explode(when(n >= 1, sequence(lit(0L), lastId))
          .otherwise(array().cast("array<long>"))).as("_c"))
      .select(col(idCol),
        col("_c").as("chunk_id"),
        (col("_c") * stride + 1).cast("long").as("start_tok"),
        size(slice(col("_t"), (col("_c") * stride + 1).cast("int"), lit(window)))
          .cast("long").as("n_tokens"),
        md5(array_join(slice(col("_t"), (col("_c") * stride + 1).cast("int"),
          lit(window)), " ")).as("chunk_md5"))
  }

  /** Per-source vocabulary profile — the lexical-health companion to
    * [[zipfFitFromTf]]: token/type totals, hapax legomena (tokens seen
    * exactly once — a high hapax fraction flags OCR noise or genuinely
    * diverse text; near-zero flags templated content), and the
    * type-token ratio. One scan collapses to the (source, token,
    * count) relation (|sources|·vocabulary-bounded, map-side partials);
    * the rollup is |sources|-sized; ratios are exact-integer divisions
    * dec6'd once. */
  def vocabGrowth(docs: DataFrame, groupCol: String,
      textCol: String): DataFrame =
    docs.select(col(groupCol),
        explode(TextFunctions.tokenize(col(textCol))).as("token"))
      .groupBy(col(groupCol), col("token")).agg(count(lit(1)).as("c"))
      .groupBy(col(groupCol))
      .agg(sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(when(col("c") === 1L, 1L).otherwise(0L)).as("n_hapax"))
      .select(col(groupCol), col("n_tokens"), col("n_types"),
        col("n_hapax"),
        dec6(col("n_types").cast("double") / col("n_tokens").cast("double"))
          .as("ttr"),
        dec6(col("n_hapax").cast("double") / col("n_types").cast("double"))
          .as("hapax_frac"))

  /** Filter-agreement report — Cohen's kappa between two binary
    * document raters (here: the cheap [[qualityScore]] rule vs the
    * [[gopherRules]] battery), the statistic that tells a curation
    * team whether two filters measure the SAME thing (high kappa — one
    * is redundant) or complementary signal (low kappa — compose them).
    * Raw agreement p_o alone misleads when both raters accept almost
    * everything; kappa subtracts chance agreement p_e from the
    * marginals.
    *
    * Exactness: the 2×2 cells are exact integers from one conditional
    * aggregate; p_o, p_e, kappa are IEEE double expressions over those
    * integers written identically in the oracle (kappa computed from
    * the UNROUNDED p_o/p_e; the emitted columns round once); a
    * degenerate p_e = 1 yields null, mirrored. Shape: two scans joined
    * on the id, one 1-row aggregate. */
  def raterAgreement(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val a = qualityScore(docs, idCol, textCol)
      .select(col(idCol), col("quality").cast("long").as("_a"))
    val b = gopherRules(docs, idCol, textCol)
      .select(col(idCol), col("pass").as("_b"))
    val cells = a.join(b, Seq(idCol)).agg(
      sum(when(col("_a") === 0 && col("_b") === 0, 1L).otherwise(0L)).as("n00"),
      sum(when(col("_a") === 0 && col("_b") === 1, 1L).otherwise(0L)).as("n01"),
      sum(when(col("_a") === 1 && col("_b") === 0, 1L).otherwise(0L)).as("n10"),
      sum(when(col("_a") === 1 && col("_b") === 1, 1L).otherwise(0L)).as("n11"),
      count(lit(1)).as("_n"))
    val po = (col("n00") + col("n11")).cast("double") / col("_n").cast("double")
    val peNum = (col("n10") + col("n11")) * (col("n01") + col("n11")) +
      (col("n00") + col("n01")) * (col("n00") + col("n10"))
    val pe = peNum.cast("double") / (col("_n") * col("_n")).cast("double")
    cells.select(col("n00"), col("n01"), col("n10"), col("n11"),
      dec6(po).as("po"), dec6(pe).as("pe"),
      when(peNum === col("_n") * col("_n"), lit(null).cast("double"))
        .otherwise(dec6((po - pe) / (lit(1.0) - pe))).as("kappa"))
  }

  /** Padding-waste report — the measurement behind length-sorted
    * batching (inference servers and packed training both pay
    * `batch·max(len) − Σlen` padding per batch): documents batched in
    * LENGTH order vs deterministic-random order, per strategy the
    * batches opened, real tokens, padded slots, and the wasted-slot
    * fraction. The gap between the two rows IS the case for sorted
    * bucketing.
    *
    * Shape: both global orderings rank via [[Ranks.bucketedGlobalRank]]
    * (no single-task sort); batch membership is integer arithmetic on
    * the rank; per-batch and per-strategy aggregates are map-side
    * partial'd. Everything is exact integers until the one dec6'd
    * final ratio. */
  def paddingWaste(docs: DataFrame, idCol: String, textCol: String,
      batchSize: Int, salt: String = "batch"): DataFrame = {
    require(batchSize >= 1, "paddingWaste: batchSize must be >= 1")
    val base = docs.select(col(idCol),
      size(TextFunctions.tokenize(col(textCol))).cast("long").as("v"),
      TextFunctions.fingerprint(
        concat(lit(salt), lit(":"), col(idCol).cast("string"))).as("_h"))
      .localCheckpoint(true) // both strategy rankings read it
    def strategy(name: String, valueCol: String): DataFrame =
      Ranks.bucketedGlobalRank(base, valueCol, idCol, "_rn")
        .withColumn("_batch", expr(s"(_rn - 1) div $batchSize"))
        .groupBy(col("_batch"))
        .agg(count(lit(1)).as("_cnt"), max(col("v")).as("_mx"),
          sum(col("v")).as("_sum"))
        .agg(count(lit(1)).as("n_batches"),
          sum(col("_sum")).as("total_tokens"),
          sum(col("_cnt") * col("_mx") - col("_sum")).as("padded_tokens"))
        .select(lit(name).as("strategy"), col("n_batches"),
          col("total_tokens"), col("padded_tokens"),
          dec6(col("padded_tokens").cast("double") /
            (col("padded_tokens") + col("total_tokens")).cast("double"))
            .as("pad_frac"))
    strategy("length_sorted", "v")
      .unionByName(strategy("hash_random", "_h"))
  }

  /** Per-document script profile — the pre-langid routing signal a
    * multilingual pipeline reads first (script detection is cheap and
    * decisive where trigram langid needs training data per language):
    * character fractions per writing system over EXPLICIT code-point
    * ranges — identical byte-for-byte in Java and RE2, unlike the
    * `\p{script=...}` names the two engines spell differently. One
    * scan, codegen'd regexp_replace counting, ratios dec6'd. */
  def scriptProfile(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val nChars = length(col(textCol))
    // LITERAL range-endpoint characters (Scala \uXXXX lexing) — the
    // classes the oracle's RE2 side spells as [^…] inverse strips;
    // counts here come from ONE count_ranges codepoint walk instead
    // of five strip-diff regexp_replace passes (identical counts)
    val spec = Seq("A-Za-z", "Ѐ-ӿ", "一-鿿", "؀-ۿ", "0-9").mkString(";")
    val names = Seq("latin_frac", "cyrillic_frac", "cjk_frac",
      "arabic_frac", "digit_frac")
    def frac(i: Int): Column =
      when(col("n_chars") > 0,
        dec6(element_at(col("_sc"), i + 1).cast("double") /
          col("n_chars").cast("double"))).otherwise(lit(0.0))
    docs.select(col(idCol), nChars.cast("long").as("n_chars"),
        call_function("count_ranges", col(textCol), lit(spec)).as("_sc"))
      .select(col(idCol) +: col("n_chars") +:
        names.zipWithIndex.map { case (n, i) => frac(i).as(n) }: _*)
  }

  /** Cross-source quantile normalization — the score-calibration step
    * before mixing heterogeneous sources: a raw per-document statistic
    * (token count here) is not comparable across sources whose length
    * distributions differ, so each document's WITHIN-SOURCE rank maps
    * to the pooled corpus value at the equivalent quantile
    * (`norm_tokens` = pooled value at rank ceil(N·r/n_g), the
    * percentile_disc integer device — every output an actually-observed
    * integer, engine-portable, no interpolation).
    *
    * Scale shape: the within-source rank window partitions by source;
    * the pooled rank comes from [[Ranks.bucketedGlobalRank]] (no
    * corpus-cardinality single-task sort); the lookup is one rank-keyed
    * equi-join of two narrow corpus-sized relations. The target-rank
    * product N·r stays in int64 up to ~3e9 documents (the ksDrift
    * bound class). */
  def quantileNormalize(docs: DataFrame, idCol: String, groupCol: String,
      textCol: String): DataFrame = {
    val vals = docs.select(col(idCol), col(groupCol),
      size(TextFunctions.tokenize(col(textCol))).cast("long").as("v"))
    val wg = Window.partitionBy(col(groupCol)).orderBy(col("v"), col(idCol))
    val src = vals
      .withColumn("_r", row_number().over(wg).cast("long"))
      .withColumn("_ng",
        count(lit(1)).over(Window.partitionBy(col(groupCol))).cast("long"))
    val pooled = Ranks.bucketedGlobalRank(
        vals.select(col(idCol), col("v")), "v", idCol, "_rp")
      .localCheckpoint(true) // consumed by the 1-row total AND the lookup
    val n = pooled.agg(count(lit(1)).as("_n"))
    val pooledVals = pooled.select(col("_rp").as("_target"),
      col("v").as("norm_tokens"))
    src.crossJoin(broadcast(n))
      .withColumn("_target", expr("(_n * _r + _ng - 1) div _ng"))
      .join(pooledVals, Seq("_target"))
      .select(col(idCol), col(groupCol), col("v").as("n_tokens"),
        col("norm_tokens"))
  }

  /** Corpus vocabulary extraction — the tokenizer-training prep step:
    * corpus-wide token frequencies, top K by (count desc, token asc —
    * deterministic ties). One explode → one hash aggregate with map-side
    * partial counting → a K-row ordered take; the aggregate keys on the
    * token (bounded vocabulary), not the document, so cardinality stays
    * flat as the corpus grows. */
  def topVocabulary(docs: DataFrame, textCol: String, k: Int): DataFrame = {
    require(k >= 1, "topVocabulary: k must be >= 1")
    docs.select(explode(TextFunctions.tokenize(col(textCol))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n_occurrences"))
      .orderBy(col("n_occurrences").desc, col("token").asc)
      .limit(k)
  }

  /** The (group, token-count) projection feeding BOTH percentile report
    * forms — one definition so the exact and approx reports can never
    * diverge on tokenization. */
  private def tokenCounts(docs: DataFrame, groupCol: String,
      textCol: String): DataFrame =
    docs.select(col(groupCol),
      size(TextFunctions.tokenize(col(textCol))).cast("long").as("n_tokens"))

  /** Per-group two-sample Kolmogorov-Smirnov drift statistic over the
    * token-count distribution — each group against the REST of the
    * corpus: the distribution-drift test run when a new source lands or
    * an ingest pipeline changes (a source whose length distribution
    * diverges from the corpus distorts packing and curriculum
    * decisions; KS is the standard nonparametric detector).
    *
    * Exactness: the ECDF difference is kept as the cross-multiplied
    * INTEGER numerator |cum_g·N_rest − cum_rest·N_g| — the max and its
    * argmax (smallest value attaining it) are selected in exact integer
    * arithmetic, so the report is engine-stable; the final statistic
    * divides two exact int64s once. The cross-product bound limits
    * exact integer selection to ~3·10⁹ documents per side — beyond
    * that, pre-aggregate counts into value buckets first. The bound is
    * enforced at runtime (a side over 3e9 docs raises instead of
    * silently wrapping to a plausible-but-wrong d_max).
    *
    * Shape: one scan collapses to (group, n_tokens, count) — bounded by
    * |groups|·|distinct lengths|, corpus-size-independent — and every
    * later step (grid, cumulative windows, max selection) works on that
    * compact relation. */
  def ksDrift(docs: DataFrame, groupCol: String, textCol: String): DataFrame = {
    val counts = tokenCounts(docs, groupCol, textCol)
      .groupBy(col(groupCol), col("n_tokens")).agg(count(lit(1)).as("c"))
      .localCheckpoint(true) // totals, value totals, and the grid probe
    val totals = counts.groupBy(col(groupCol)).agg(sum(col("c")).as("n_g"))
    val values = counts.select(col("n_tokens")).distinct()
    val valTotals = counts.groupBy(col("n_tokens")).agg(sum(col("c")).as("c_all"))
    val grand = totals.agg(sum(col("n_g")).as("n_tot"))
    val wg = Window.partitionBy(col(groupCol)).orderBy(col("n_tokens"))
    val grid = totals.crossJoin(values)
      .join(counts, Seq(groupCol, "n_tokens"), "left")
      .na.fill(0L, Seq("c"))
      .join(broadcast(valTotals), Seq("n_tokens"))
      .crossJoin(broadcast(grand))
      .withColumn("_cum_g", sum(col("c")).over(wg))
      .withColumn("_cum_all", sum(col("c_all")).over(wg))
      // loud overflow guard (folded into d_num so Catalyst cannot prune
      // it): both cross-multiplication factors must stay <= ~3e9 or the
      // int64 product could wrap silently
      .withColumn("d_num", when(
        col("n_g") > lit(3000000000L) ||
          col("n_tot") - col("n_g") > lit(3000000000L),
        raise_error(lit("ksDrift: a side exceeds 3e9 documents — the " +
          "exact int64 cross-multiplication would overflow; " +
          "pre-aggregate counts into value buckets first")).cast("long"))
        .otherwise(abs(
          col("_cum_g") * (col("n_tot") - col("n_g")) -
            (col("_cum_all") - col("_cum_g")) * col("n_g"))))
    val maxd = grid.groupBy(col(groupCol).as("_g2"))
      .agg(max(col("d_num")).as("d_max"))
    grid.join(maxd,
        grid(groupCol) === col("_g2") && col("d_num") === col("d_max"))
      .groupBy(col(groupCol), col("n_g"), col("n_tot"), col("d_max"))
      .agg(min(col("n_tokens")).as("at_n_tokens"))
      .select(col(groupCol), col("n_g").as("n_docs"), col("d_max"),
        col("at_n_tokens"),
        when(col("n_tot") > col("n_g"),
          round((col("d_max").cast("double") /
            (col("n_g").cast("double") *
              (col("n_tot") - col("n_g")).cast("double")))
            .cast("decimal(28,10)"), 6).cast("double"))
          .as("ks_stat"))
  }

  /** Per-group Population Stability Index — the third drift lens next
    * to [[ksDrift]] (max ECDF gap) and [[sourceDivergence]] (vocabulary
    * JSD): the monitoring-standard binned divergence
    * PSI = Σ_b (p_b − q_b)·ln(p_b/q_b) of each source's token-count
    * distribution against the rest of the corpus, over `bins` pooled
    * percentile_disc quantile bins (reference-quantile binning, the
    * production convention). Counts are Laplace-smoothed (+1 per bin)
    * so empty cells stay defined — deterministic, engine-mirrored.
    * Conventional read: < 0.1 stable, 0.1–0.25 drifting, > 0.25 major.
    *
    * Cross-engine discipline: bin boundaries and cell counts are exact
    * integers (the q61 rank device over the compact value histogram);
    * p, q are IEEE double quotients of exact integers, ln runs on the
    * identical double (bit-stable, the q107 device), each term
    * truncates to DECIMAL(28,10) and sums exactly; the result rounds
    * once in the decimal domain.
    *
    * Shape: one scan collapses to the (group, n_tokens, count) cell
    * relation — bounded by |groups|·|distinct lengths|, corpus-size-
    * independent (the ksDrift profile); boundaries come from a window
    * over the pooled value histogram (compact); the bins-1-row bound
    * table broadcasts into the cell binning; the final aggregate keys
    * on |groups|·bins cells. */
  def psiDrift(docs: DataFrame, groupCol: String, textCol: String,
      bins: Int = 10): DataFrame = {
    require(bins >= 2, "psiDrift: bins must be >= 2")
    val cell = tokenCounts(docs, groupCol, textCol)
      .groupBy(col(groupCol), col("n_tokens")).agg(count(lit(1)).as("c"))
      .localCheckpoint(true) // histogram, grid, totals all read it
    val hist = cell.groupBy(col("n_tokens")).agg(sum(col("c")).as("cv"))
    val n = cell.agg(sum(col("c")).as("_n"))
    // pooled percentile_disc boundaries: bound_j = smallest value whose
    // cumulative count reaches ceil(N*j/bins), j = 1..bins-1 (window
    // over the compact value histogram — the ksDrift precedent)
    val wv = Window.orderBy(col("n_tokens"))
    val bounds = hist.withColumn("_cum", sum(col("cv")).over(wv))
      .crossJoin(broadcast(n))
      .select(col("n_tokens"), col("_cum"), col("_n"),
        explode(sequence(lit(1), lit(bins - 1))).as("_j"))
      .filter(col("_cum") >= expr(s"(_n * _j + $bins - 1) div $bins"))
      .groupBy(col("_j")).agg(min(col("n_tokens")).as("_bound"))
    // bin = 1 + #bounds strictly below the value (ties stay low)
    val binnedCells = cell.crossJoin(broadcast(bounds))
      .groupBy(col(groupCol), col("n_tokens"), col("c"))
      .agg(sum(when(col("n_tokens") > col("_bound"), 1L).otherwise(0L))
        .as("_bin0"))
      .select(col(groupCol), (col("_bin0") + 1L).as("_bin"), col("c"))
      .groupBy(col(groupCol), col("_bin")).agg(sum(col("c")).as("sb"))
    // full (source × bin) grid, zero-filled; per-bin and per-source totals
    val grid = cell.select(col(groupCol)).distinct()
      .crossJoin(broadcast(
        docs.sparkSession.range(1, bins + 1).select(col("id").as("_bin"))))
      .join(binnedCells, Seq(groupCol, "_bin"), "left")
      .na.fill(0L, Seq("sb"))
    val binTot = grid.groupBy(col("_bin")).agg(sum(col("sb")).as("cb"))
    val srcTot = grid.groupBy(col(groupCol)).agg(sum(col("sb")).as("ns"))
    val p = (col("sb") + 1L).cast("double") /
      (col("ns") + bins).cast("double")
    val q = (col("cb") - col("sb") + 1L).cast("double") /
      (col("_nn") - col("ns") + bins).cast("double")
    grid.join(broadcast(binTot), Seq("_bin"))
      .join(broadcast(srcTot), Seq(groupCol))
      .crossJoin(broadcast(n.select(col("_n").as("_nn"))))
      .select(col(groupCol), col("ns"),
        ((p - q) * log(p / q)).cast("decimal(28,10)").as("_term"))
      .groupBy(col(groupCol))
      .agg(max(col("ns")).as("n_docs"),
        round(sum(col("_term")), 6).cast("double").as("psi"))
  }

  /** Per-group token-length distribution report — the corpus-health
    * check run before choosing chunking/packing budgets: exact discrete
    * percentiles with percentile_disc semantics — the SMALLEST observed
    * value whose cumulative distribution reaches p, i.e. 1-based rank
    * `max(1, ceil(n*p/100))`, computed as `(n*p + 99) div 100` in exact
    * integer arithmetic, engine-portable. Every output is an actual
    * observed integer, never an interpolated double, and the value at a
    * rank is tie-order-independent by construction.
    *
    * Scale shape: the rank rides [[Ranks.bucketedGroupRank]] — each
    * group's sort splits across ~nBuckets tasks instead of funneling
    * one task per group (an earlier form was a bare per-group
    * row_number window: ONE task sorts an entire source at corpus
    * scale), and the group sizes broadcast back. Value-at-rank is
    * tie-order-independent (equal values share every candidate rank),
    * so the upgrade is hash-neutral. At 100 TB the cheap path is
    * [[tokenPercentilesApprox]] (GK sketch, map-side mergeable, no
    * sort) — same report shape, rank error ≤ the accuracy parameter. */
  def tokenPercentiles(docs: DataFrame, groupCol: String, textCol: String,
      percents: Seq[Int] = Seq(50, 90, 99)): DataFrame = {
    require(percents.nonEmpty && percents.forall(p => p >= 0 && p <= 100),
      s"tokenPercentiles: percents must be in [0,100], got $percents")
    val counts = tokenCounts(docs, groupCol, textCol)
    val sizes = counts.groupBy(col(groupCol)).agg(count(lit(1)).as("n"))
    val r = Ranks.bucketedGroupRank(counts, "n_tokens", "n_tokens",
        groupCol, rankCol = "rn")
      .join(broadcast(sizes), Seq(groupCol))
    val picks = percents.map { p =>
      // percentile_disc rank: ceil(n*p/100) in exact ints, floored at 1
      // so p=0 selects the minimum
      val idx = greatest(lit(1L), expr(s"(n * $p + 99) div 100"))
      max(when(col("rn") === idx, col("n_tokens"))).as(s"p$p")
    }
    r.groupBy(col(groupCol))
      .agg(max(col("n")).as("n_docs"), picks: _*)
  }

  /** Stupid-backoff trigram LM scoring (Brants et al. 2007, "Large
    * Language Models in Machine Translation") — the KenLM-style
    * corpus-LM quality filter: each position i ≥ 2 scores
    * `ln S(wᵢ | wᵢ₋₂, wᵢ₋₁)` with S = trigram relative frequency,
    * backing off ×0.4 to the bigram and ×0.4² to the unigram when the
    * higher-order gram is unseen; a doc's score is the mean. Stupid
    * backoff is the published large-corpus choice precisely because it
    * needs NO discounting state — counts are plain relational
    * aggregates, so the whole model "training" is three groupBys and
    * scoring is five gram-keyed joins (only grams + counts shuffle,
    * never text).
    *
    * Hash discipline: every per-position `ln` takes arguments built
    * from exact-int divisions evaluated identically on both engines
    * (one IEEE divide, one multiply by the same 0.4 literal), each
    * term is cast DECIMAL(28,10) before the sum (ln values must never
    * sum as doubles — order-dependence), and the mean is ONE final
    * IEEE divide through the round-then-double device. */
  def stupidBackoffScore(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"),
        posexplode(TextFunctions.tokenize(col(textCol)))
          .as(Seq("pos", "w")))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val g = toks
      .withColumn("w1", lag(col("w"), 2).over(w))
      .withColumn("w2", lag(col("w"), 1).over(w))
    val c1 = toks.groupBy(col("w")).agg(count(lit(1)).as("c1"))
    val c2 = g.filter(col("w2").isNotNull)
      .groupBy(col("w2"), col("w")).agg(count(lit(1)).as("c2"))
    val c3 = g.filter(col("w1").isNotNull)
      .groupBy(col("w1"), col("w2"), col("w")).agg(count(lit(1)).as("c3"))
    val nTotal = toks.agg(count(lit(1)).as("n_total"))
    val scored = g.filter(col("w1").isNotNull)
      .join(c3, Seq("w1", "w2", "w"), "left")
      .join(c2.select(col("w2").as("w1"), col("w").as("w2"),
        col("c2").as("c2ctx")), Seq("w1", "w2"), "left")
      .join(c2.select(col("w2"), col("w"), col("c2").as("c2cur")),
        Seq("w2", "w"), "left")
      .join(c1.select(col("w").as("w2"), col("c1").as("c1w2")), Seq("w2"))
      .join(c1, Seq("w"))
      .crossJoin(broadcast(nTotal))
      .select(col("doc_id"),
        when(col("c3").isNotNull,
          log(col("c3").cast("double") / col("c2ctx").cast("double")))
        .when(col("c2cur").isNotNull,
          log(lit(0.4) * (col("c2cur").cast("double") /
            col("c1w2").cast("double"))))
        .otherwise(
          log(lit(0.16) * (col("c1").cast("double") /
            col("n_total").cast("double"))))
        .cast("decimal(28,10)").as("s"))
    docs.select(col(idCol).as("doc_id"))
      .join(scored.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_scored"), sum(col("s")).as("ssum")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_scored"), lit(0L)).as("n_scored"),
        coalesce(
          round((col("ssum").cast("double") /
            col("n_scored").cast("double")).cast("decimal(28,10)"), 6)
            .cast("double"),
          lit(0.0)).as("avg_logscore"))
  }

  /** CCNet-style reference-LM perplexity bucketing (Wenzek et al.
    * 2020, "CCNet: Extracting High Quality Monolingual Datasets from
    * Web Crawl Data"): train a per-language stupid-backoff trigram LM
    * ([[stupidBackoffScore]]'s model) on a curated reference slice
    * (`refFilter`), cross-score EVERY document against its language's
    * model, then split each language into head/middle/tail terciles by
    * score — the standard web-corpus quality triage where "head" feeds
    * training and "tail" is dropped or down-sampled.
    *
    * Differences from the same-corpus scorer that make this the
    * cross-scoring variant: all gram lookups are LEFT joins keyed by
    * (lang, gram) — a scored doc may contain grams the reference never
    * saw — with the OOV floor `ln(0.16 / n_total_lang)` (an unseen
    * word scores as a count-1 unigram; deterministic, no smoothing
    * state). Languages absent from the reference slice produce no
    * scored positions (inner join on the per-lang total) and surface
    * as n_scored=0 rather than nulls.
    *
    * Scale shape: only grams + counts shuffle, never text. The ref
    * gram stream (tokenize + two lags) feeds FOUR count aggregates, so
    * it is materialized once — the reference slice is curated and
    * bounded by construction (CCNet's is one Wikipedia per language),
    * never the crawl. The full-corpus gram stream has exactly ONE
    * consumer (the scoring join chain) and stays lazy; the per-doc
    * score relation (4 narrow columns) is materialized before fanning
    * into the size aggregate + rank device. The per-lang tercile rank
    * rides [[Ranks.bucketedGroupRank]] (never a bare single-task
    * window), and the bucket index is the exact integer
    * `least(2, 3·(rn−1) div n)` — the A5 tertile arithmetic — so the
    * output hashes identically across engines and partitionings. */
  def perplexityBuckets(docs: DataFrame, refFilter: Column, idCol: String,
      textCol: String, langCol: String): DataFrame = {
    def grams(d: DataFrame) = {
      val toks = d.select(col(idCol).as("doc_id"),
        col(langCol).as("lang"),
        posexplode(TextFunctions.tokenize(col(textCol)))
          .as(Seq("pos", "w")))
      val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      toks
        .withColumn("w1", lag(col("w"), 2).over(w))
        .withColumn("w2", lag(col("w"), 1).over(w))
    }
    val refG = grams(docs.filter(refFilter)).localCheckpoint(true)
    val c1 = refG.groupBy(col("lang"), col("w"))
      .agg(count(lit(1)).as("c1"))
    val c2 = refG.filter(col("w2").isNotNull)
      .groupBy(col("lang"), col("w2"), col("w"))
      .agg(count(lit(1)).as("c2"))
    val c3 = refG.filter(col("w1").isNotNull)
      .groupBy(col("lang"), col("w1"), col("w2"), col("w"))
      .agg(count(lit(1)).as("c3"))
    val nTotal = refG.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_total"))
    val g = grams(docs)
    val scored = g.filter(col("w1").isNotNull)
      // inner: a lang with no reference LM contributes no scored rows
      .join(nTotal, Seq("lang"))
      .join(c3, Seq("lang", "w1", "w2", "w"), "left")
      .join(c2.select(col("lang"), col("w2").as("w1"), col("w").as("w2"),
        col("c2").as("c2ctx")), Seq("lang", "w1", "w2"), "left")
      .join(c2.select(col("lang"), col("w2"), col("w"),
        col("c2").as("c2cur")), Seq("lang", "w2", "w"), "left")
      .join(c1.select(col("lang"), col("w").as("w2"),
        col("c1").as("c1w2")), Seq("lang", "w2"), "left")
      .join(c1, Seq("lang", "w"), "left")
      .select(col("doc_id"),
        when(col("c3").isNotNull,
          log(col("c3").cast("double") / col("c2ctx").cast("double")))
        .when(col("c2cur").isNotNull,
          log(lit(0.4) * (col("c2cur").cast("double") /
            col("c1w2").cast("double"))))
        .otherwise(
          log(lit(0.16) * (coalesce(col("c1"), lit(1L)).cast("double") /
            col("n_total").cast("double"))))
        .cast("decimal(28,10)").as("s"))
    val perDoc = docs.select(col(idCol).as("doc_id"),
        col(langCol).as("lang"))
      .join(scored.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_scored"), sum(col("s")).as("ssum")),
        Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"),
        coalesce(col("n_scored"), lit(0L)).as("n_scored"),
        coalesce(
          round((col("ssum").cast("double") /
            col("n_scored").cast("double")).cast("decimal(28,10)"), 6)
            .cast("double"),
          lit(0.0)).as("avg_logscore"))
      .localCheckpoint(true)
    val sizes = perDoc.groupBy(col("lang")).agg(count(lit(1)).as("n"))
    // UNSCORABLE docs (no trigram position, or no reference LM for the
    // language) carry avg_logscore 0.0 — ABOVE every real (negative)
    // ln score, which would promote exactly the documents the triage
    // cannot evaluate into "head". Rank them by a sentinel BELOW any
    // real score instead: unscorable → tail, the CCNet drop verdict.
    // The emitted avg_logscore stays 0.0; only the rank input shifts.
    val rankable = perDoc.withColumn("_rankv",
      when(col("n_scored") === 0L, lit(-1e18)).otherwise(col("avg_logscore")))
    Ranks.bucketedGroupRank(rankable, "_rankv", "doc_id", "lang",
        rankCol = "rn")
      .join(broadcast(sizes), Seq("lang"))
      .select(col("doc_id"), col("lang"), col("n_scored"),
        col("avg_logscore"),
        element_at(lit(Array("tail", "middle", "head")),
          (least(lit(2L), expr("(3 * (rn - 1)) div n")) + 1).cast("int"))
          .as("bucket"))
  }

  /** Robust per-source length-outlier report — median/MAD instead of
    * mean/σ (one boilerplate blob or concatenation bug shifts a mean
    * arbitrarily; the median absolute deviation is breakdown-50%
    * robust, the standard guardrail for corpus length QA). All
    * arithmetic is INTEGER: medians come from the percentile_disc rank
    * device (the q61 family — the picked value is an actual data
    * value), deviations are |n − med|, MAD is the median of those, and
    * the outlier test `dev > k·MAD` is an exact int64 compare — so the
    * report hashes identically across engines and partitionings.
    * Windows are all source-partitioned (the [[Ranks]] discipline). */
  def madOutliers(docs: DataFrame, idCol: String, groupCol: String,
      textCol: String, k: Int = 3): DataFrame = {
    require(k >= 1, "madOutliers: k must be >= 1")
    val tc = docs.select(col(idCol).as("doc_id"),
      col(groupCol).as("grp"),
      size(TextFunctions.tokenize(col(textCol))).cast("long").as("n_tokens"))
    val grpW = Window.partitionBy(col("grp"))
    val medRank = greatest(lit(1L), expr("(cnt * 50 + 99) div 100"))
    val withMed = tc
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("grp")).orderBy(col("n_tokens"), col("doc_id"))))
      .withColumn("cnt", count(lit(1)).over(grpW))
      .withColumn("med", max(when(col("rn") === medRank,
        col("n_tokens"))).over(grpW))
      .withColumn("dev", abs(col("n_tokens") - col("med")))
    val withMad = withMed
      .withColumn("rn2", row_number().over(
        Window.partitionBy(col("grp")).orderBy(col("dev"), col("doc_id"))))
      .withColumn("mad", max(when(col("rn2") === medRank,
        col("dev"))).over(grpW))
    withMad.groupBy(col("grp").as(groupCol))
      .agg(max(col("cnt")).as("n_docs"),
        max(col("med")).as("med_tokens"),
        max(col("mad")).as("mad_tokens"),
        sum(when(col("dev") > col("mad") * k, 1L).otherwise(0L))
          .as("n_outliers"))
  }

  /** The 100-TB path for [[tokenPercentiles]]: approx_percentile's
    * mergeable GK sketch — no per-group sort, map-side partials. Rank
    * error is bounded by `accuracy`; results are NOT bit-stable across
    * partitionings (the sketch merge order varies), so this feeds
    * monitoring, not hash-checked outputs. */
  def tokenPercentilesApprox(docs: DataFrame, groupCol: String,
      textCol: String, percents: Seq[Int] = Seq(50, 90, 99),
      accuracy: Int = 10000): DataFrame = {
    require(percents.nonEmpty && percents.forall(p => p >= 0 && p <= 100),
      s"tokenPercentilesApprox: percents must be in [0,100], got $percents")
    val picks = percents.map { p =>
      percentile_approx(col("n_tokens"), lit(p / 100.0), lit(accuracy))
        .as(s"p$p")
    }
    tokenCounts(docs, groupCol, textCol).groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_docs"), picks: _*)
  }

  /** The ORACLE-CHECKABLE approximate-percentile scale path: a mergeable
    * equi-width histogram sketch. [[tokenPercentilesApprox]]'s GK sketch
    * is rank-bounded but NOT bit-stable across partitionings (merge
    * order moves the sketch), so it can never sit behind a hashed
    * output; this sketch is: per group, bin = exact integer
    * `((v - lo) * nBins) div (hi - lo)` (truncating div == floor for
    * non-negative operands on BOTH engines), bin counts are
    * order-independent sums, and the percentile answer is the smallest
    * bin whose cumulative count reaches the percentile_disc rank
    * `greatest(1, (n*p + 99) div 100)` (q61's device). The sketch state
    * is `nBins` longs per group — one map-side-combined pass, mergeable
    * by addition, no per-group sort anywhere; the value estimate is the
    * bin's upper edge (single IEEE multiply+divide+add — bit-identical
    * cross-engine) and the TRUE value is guaranteed inside the bin with
    * rank error ≤ `bin_n` (emitted, so the error bound is part of the
    * output contract, not a comment).
    *
    * Plan shape: stats and histogram are group-bounded broadcast
    * relations; the prefix sum is the window-free broadcast non-equi
    * self-join over the nBins-bounded histogram ([[graft.pipeline.Ranks]]'
    * device) — nothing row-scale crosses a single task. */
  def tokenPercentilesSketch(docs: DataFrame, groupCol: String,
      textCol: String, percents: Seq[Int] = Seq(50, 90, 99),
      nBins: Int = 256): DataFrame = {
    require(percents.nonEmpty && percents.forall(p => p >= 0 && p <= 100),
      s"tokenPercentilesSketch: percents must be in [0,100], got $percents")
    require(nBins >= 1, "tokenPercentilesSketch: nBins must be >= 1")
    val t = tokenCounts(docs, groupCol, textCol)
      .select(col(groupCol), col("n_tokens").as("v"))
    // The corpus is touched exactly TWICE — the equi-width bound needs
    // min/max before binning (inherent to the sketch), and everything
    // past the histogram derives from bounded localCheckpointed
    // relations (without the pins, every downstream subtree re-derives
    // its own corpus scan — the audited first cut paid 6+ scans).
    val stats = t.groupBy(col(groupCol))
      .agg(min(col("v")).as("lo"), max(col("v")).as("hi"),
        count(lit(1)).as("n_docs"))
      .localCheckpoint(true) // groups-bounded
    val binned = t.join(broadcast(stats), Seq(groupCol))
      .withColumn("bin",
        when(col("hi") <= col("lo"), lit(0L))
          .otherwise(least(lit(nBins - 1L),
            expr(s"((v - lo) * $nBins) div (hi - lo)"))))
    val hist = binned.groupBy(col(groupCol), col("bin"))
      .agg(count(lit(1)).as("bin_n"))
      .localCheckpoint(true) // (groups × nBins)-bounded
    val prior = hist.select(col(groupCol).as("_g"), col("bin").as("_b"),
      col("bin_n").as("_n"))
    val cum = hist.join(broadcast(prior),
        col(groupCol) === col("_g") && col("_b") <= col("bin"))
      .groupBy(col(groupCol), col("bin"), col("bin_n"))
      .agg(sum(col("_n")).as("cum_n"))
    val targets = stats.select(col(groupCol), col("lo"), col("hi"),
        col("n_docs"),
        explode(array(percents.map(p => lit(p.toLong)): _*)).as("pct"))
      .withColumn("target",
        greatest(lit(1L), expr("(n_docs * pct + 99) div 100")))
    val chosen = targets
      .join(broadcast(cum.select(col(groupCol), col("bin"), col("cum_n"))),
        Seq(groupCol))
      .filter(col("cum_n") >= col("target"))
      .groupBy(col(groupCol), col("pct"), col("n_docs"), col("lo"), col("hi"))
      .agg(min(col("bin")).as("bin"))
    chosen
      .join(broadcast(cum), Seq(groupCol, "bin"))
      .select(col(groupCol), col("pct"), col("n_docs"), col("bin"),
        col("bin_n"), col("cum_n"),
        (col("lo") + ((col("bin") + 1) * (col("hi") - col("lo"))) /
          lit(nBins.toDouble)).as("est"))
  }

  /** T5/UL2-style span corruption — the denoising-objective prep that
    * turns a clean corpus into (input, target) training pairs: masked
    * spans become `<extra_id_k>` sentinels in the input and the target
    * lists each sentinel with its masked content. Spans here are FIXED
    * token blocks (`blockLen`) masked by a salted-hash coin on
    * (doc, block) — deterministic (stable under repartitioning,
    * retries, engines: the q47 hash-sampling discipline) and
    * non-overlapping BY CONSTRUCTION, which is what keeps the operator
    * relational: greedy variable-length spans need a sequential scan,
    * block masking is a pure per-block expression (the honest
    * documented trade vs the reference T5 sampler's Poisson spans).
    *
    * Shapes: one Generate per doc (block explode), sentinel numbering
    * via a per-doc running count window, re-assembly by the
    * array_sort(collect_list(struct)) device — no shuffle beyond the
    * per-doc aggregation. */
  def spanCorrupt(docs: DataFrame, idCol: String, textCol: String,
      blockLen: Int = 3, maskOneIn: Int = 10,
      salt: String = "span"): DataFrame = {
    require(blockLen >= 1 && maskOneIn >= 1,
      "spanCorrupt: blockLen and maskOneIn must be >= 1")
    val L = blockLen
    val toks = docs.select(col(idCol).as("doc_id"),
      TextFunctions.tokenize(col(textCol)).as("t"))
    val blocks = toks
      .select(col("doc_id"), col("t"), size(col("t")).cast("long").as("n_tokens"),
        explode(sequence(lit(0L), expr(s"(size(t) + ${L - 1}) div $L") - 1))
          .as("b"))
      .select(col("doc_id"), col("n_tokens"), col("b"),
        array_join(slice(col("t"), (col("b") * L + 1).cast("int"), lit(L)), " ")
          .as("btxt"),
        (conv(substring(md5(concat(lit(s"$salt:"),
          col("doc_id").cast("string"), lit(":"), col("b").cast("string"))),
          1, 15), 16, 10).cast("long") % maskOneIn === 0).as("masked"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("b"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val numbered = blocks.withColumn("k",
      sum(when(col("masked"), 1L).otherwise(0L)).over(w) - 1)
    val pieces = numbered.select(col("doc_id"), col("n_tokens"), col("b"),
      col("masked"),
      when(col("masked"),
        concat(lit("<extra_id_"), col("k").cast("string"), lit(">")))
        .otherwise(col("btxt")).as("piece_in"),
      when(col("masked"),
        concat(lit("<extra_id_"), col("k").cast("string"), lit("> "),
          col("btxt"))).as("piece_tgt"))
    pieces.groupBy(col("doc_id"))
      .agg(max(col("n_tokens")).as("n_tokens"),
        count(lit(1)).as("n_blocks"),
        sum(when(col("masked"), 1L).otherwise(0L)).as("n_masked"),
        array_join(transform(
          array_sort(collect_list(struct(col("b"), col("piece_in")))),
          s => s.getField("piece_in")), " ").as("input"),
        // the WHOLE struct goes null for unmasked blocks (collect_list
        // skips nulls; a struct with a null field would survive)
        array_join(transform(
          array_sort(collect_list(when(col("masked"),
            struct(col("b"), col("piece_tgt"))))),
          s => s.getField("piece_tgt")), " ").as("target"))
  }

  /** T5's REAL variable-length span sampler (Raffel et al., JMLR 2020,
    * `random_spans_noise_mask`), beside the relational fixed-block form
    * [[spanCorrupt]]: the exact noise budget `round(n·noiseDensity)` is
    * split into `round(budget/meanSpan)` spans by uniform random
    * segmentation (cut-point sampling — span lengths are
    * variable-length with mean `meanSpan`, the distribution the T5
    * codebase actually uses where the paper says "Poisson-ish"), the
    * non-noise tokens are segmented into the same number of gaps, and
    * the two interleave gap/span/gap/span. Sentinels and the
    * reconstruction invariant (input+target splice back to the original
    * stream) are exactly [[spanCorrupt]]'s.
    *
    * Runs as a batched mapPartitions kernel — the sampler is an
    * imperative per-doc walk, the documented case for dropping out of
    * Column expressions — with the RNG seeded per (seed, doc_id), so
    * output is bit-identical for ANY partitioning and any retry, and
    * only fixed-schema rows leave the partition. Rows-only contract
    * (the cut-point shuffle has no sane SQL twin); SpanCorruptSpec
    * carries the reconstruction proof, budget exactness, determinism,
    * and an sf0.001 golden hash. */
  def spanCorruptSampled(docs: DataFrame, idCol: String, textCol: String,
      noiseDensity: Double = 0.15, meanSpan: Double = 3.0,
      seed: Long = 42L): DataFrame = {
    require(noiseDensity > 0.0 && noiseDensity < 1.0,
      "spanCorruptSampled: noiseDensity must be in (0, 1)")
    require(meanSpan >= 1.0, "spanCorruptSampled: meanSpan must be >= 1")
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).cast("long"), col(textCol)).as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (docId, text) =>
          val toks = text.toLowerCase.split("[ \t\n\f\r]+").filter(_.nonEmpty)
          val n = toks.length
          if (n < 2) (docId, n.toLong, 0L, 0L, toks.mkString(" "), "")
          else {
            val rng = new scala.util.Random(
              seed ^ java.lang.Long.rotateLeft(docId, 17))
            // budget and span count, clamped exactly like the reference
            // sampler (noise in [1, n-1]; spans can't exceed either side)
            val numNoise = math.min(math.max(
              math.round(n * noiseDensity).toInt, 1), n - 1)
            val numNonnoise = n - numNoise
            val numSpans = math.min(math.min(math.max(
              math.round(numNoise / meanSpan).toInt, 1), numNoise), numNonnoise)
            // uniform segmentation of m tokens into k non-empty runs:
            // a (k-1)-subset of the m-1 interior cut points
            def segment(m: Int, k: Int): Array[Int] = {
              val cuts = rng.shuffle((1 until m).toVector).take(k - 1)
                .sorted.toArray
              val out = new Array[Int](k)
              var prev = 0
              var i = 0
              while (i < k) {
                val end = if (i == k - 1) m else cuts(i)
                out(i) = end - prev
                prev = end
                i += 1
              }
              out
            }
            // draw order fixed: noise first, then gaps (determinism is
            // part of the golden-hash contract)
            val noiseLens = segment(numNoise, numSpans)
            val gapLens = segment(numNonnoise, numSpans)
            val input = new StringBuilder
            val target = new StringBuilder
            var pos = 0
            var s = 0
            while (s < numSpans) {
              var g = 0
              while (g < gapLens(s)) {
                if (input.nonEmpty) input.append(' ')
                input.append(toks(pos)); pos += 1; g += 1
              }
              if (input.nonEmpty) input.append(' ')
              input.append("<extra_id_").append(s).append('>')
              if (target.nonEmpty) target.append(' ')
              target.append("<extra_id_").append(s).append('>')
              var m = 0
              while (m < noiseLens(s)) {
                target.append(' ').append(toks(pos)); pos += 1; m += 1
              }
              s += 1
            }
            // the two segmentations sum to exactly n — every token was
            // routed to input or target (the reconstruction invariant)
            assert(pos == n, s"spanCorruptSampled: consumed $pos of $n tokens")
            (docId, n.toLong, numSpans.toLong, numNoise.toLong,
              input.toString, target.toString)
          }
        }
      }
      .toDF("doc_id", "n_tokens", "n_spans", "n_masked", "input", "target")
  }

  /** Sequence packing — next-fit binning of documents into fixed token
    * budgets, the step that turns a filtered corpus into training
    * sequences: within each group (shard), documents in id order fill
    * the current bin until the next one would overflow `capacity`, then
    * a new bin opens; an oversized document gets a bin of its own.
    *
    * Packing is inherently sequential PER SHARD, so the distributed form
    * packs within groups: repartition on the group, sort within
    * partitions, stream a fold over each partition's iterator (the
    * [[graft.streaming.PunctuationWindow]] batch pattern — the sort
    * spills, resident state is one (bin, fill) pair). Global sequential
    * packing would serialize the corpus and buys nothing for training. */
  def packDocs(docs: DataFrame, idCol: String, groupCol: String,
      textCol: String, capacity: Long): DataFrame = {
    require(capacity >= 1, "packDocs: capacity must be >= 1")
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select(col(groupCol).cast("string").as("grp"),
        col(idCol).cast("long").as("id"),
        size(TextFunctions.tokenize(col(textCol))).cast("long").as("n"))
      .repartition(col("grp"))
      .sortWithinPartitions(col("grp"), col("id"))
      .as[(String, Long, Long)]
      .mapPartitions { it =>
        var curGrp: String = null
        var bin = 0L
        var fill = 0L
        it.map { case (grp, id, n) =>
          if (grp != curGrp) { curGrp = grp; bin = 0L; fill = 0L }
          if (fill > 0 && fill + n > capacity) { bin += 1; fill = 0L }
          fill += n
          (grp, id, n, bin)
        }
      }
      .toDF(groupCol, idCol, "n_tokens", "bin_id")
  }

  /** Packing-efficiency report over [[packDocs]] — the QA read before
    * committing to a sequence budget: per shard, how many bins the
    * next-fit pass opened, how full they run (utilization =
    * total_tokens / (n_bins·capacity)), and the fill spread. A
    * utilization far below 1 means the capacity fights the length
    * distribution (too many oversized or just-over-half documents) and
    * packing should follow a chunking pass instead.
    *
    * Shape: rides the packed relation — one (group, bin)-keyed
    * aggregate with map-side partials, then a |groups|-bounded rollup;
    * utilization is exact-integer until the one final division (dec6'd,
    * the house hash rule). */
  def packStats(docs: DataFrame, idCol: String, groupCol: String,
      textCol: String, capacity: Long): DataFrame = {
    val bins = packDocs(docs, idCol, groupCol, textCol, capacity)
      .groupBy(col(groupCol), col("bin_id"))
      .agg(sum(col("n_tokens")).as("fill"))
    bins.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_bins"),
        sum(col("fill")).as("total_tokens"),
        sum(when(col("fill") >= capacity, 1L).otherwise(0L))
          .as("n_full_bins"),
        min(col("fill")).as("min_fill"),
        max(col("fill")).as("max_fill"))
      .select(col(groupCol), col("n_bins"), col("total_tokens"),
        col("n_full_bins"), col("min_fill"), col("max_fill"),
        dec6(col("total_tokens").cast("double") /
          (col("n_bins") * capacity).cast("double")).as("utilization"))
  }

  /** Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    * "Winnowing: Local Algorithms for Document Fingerprinting",
    * SIGMOD 2003 — the scheme behind MOSS): hash every k-character gram
    * of the lowered text with a Rabin–Karp polynomial rolling hash,
    * slide a w-hash window keeping each window's minimum, and emit the
    * distinct selected hashes sorted. Guarantee: documents sharing any
    * substring of length >= k + w - 1 share at least one fingerprint, so
    * the fingerprint set drives containment/near-dup detection where the
    * whole-document md5 of [[fingerprints]] only catches exact matches.
    *
    * The per-gram value is the Rabin–Karp hash (fold of acc*B + c mod M)
    * of the gram's code points; B = 257, M = 2^31 - 1 keep every
    * intermediate under 2^62, so engines that trap overflow — DuckDB —
    * agree with ones that wrap — the JVM.
    *
    * Implemented as a mapPartitions kernel: the true O(1) rolling update
    * per gram and an O(n) monotonic-deque sliding minimum. This is the
    * documented last-resort case — the equivalent column-expression form
    * (transform over positions + per-gram fold + per-window array_min)
    * computes identical values but sits outside whole-stage codegen, and
    * its per-element interpreted evaluation measured 12 s at sf0.1
    * against sub-second for this kernel. The shape is identical either
    * way: per-row map work, no shuffle, scan-speed at any corpus size.
    *
    * Fingerprints are emitted as a sorted CSV string plus count (set
    * semantics, hash-portable). Documents shorter than k chars get zero
    * fingerprints; shorter than k + w - 1, the single minimum over all
    * gram hashes. */
  def winnowFingerprints(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 5, w: Int = 4): DataFrame = {
    require(k >= 1 && w >= 1, "winnowFingerprints: k and w must be >= 1")
    val B = 257L
    val M = 2147483647L
    val pPow = (1 until k).foldLeft(1L)((p, _) => p * B % M) // B^(k-1) mod M
    val in = docs.select(col(idCol), lower(col(textCol)).as("_t"))
    val outSchema = StructType(Seq(in.schema.head,
      StructField("n_fps", LongType, nullable = false),
      StructField("fps_csv", StringType, nullable = false)))
    in.mapPartitions { rows =>
      rows.map { r =>
        val t = if (r.isNullAt(1)) "" else r.getString(1)
        val cps = t.codePoints().toArray // ascii() semantics: one code point per char
        val m = cps.length - (k - 1)
        val sel = new java.util.TreeSet[java.lang.Long]() // distinct + sorted
        if (m >= 1) {
          val hs = new Array[Long](m)
          var h = 0L
          var i = 0
          while (i < k) { h = (h * B + cps(i)) % M; i += 1 }
          hs(0) = h
          var g = 1
          while (g < m) { // rolling: drop cps(g-1), append cps(g+k-1)
            h = ((h + M - cps(g - 1) * pPow % M) % M * B + cps(g + k - 1)) % M
            hs(g) = h
            g += 1
          }
          if (m < w) {
            var mn = hs(0); var j = 1
            while (j < m) { if (hs(j) < mn) mn = hs(j); j += 1 }
            sel.add(mn)
          } else {
            val dq = new java.util.ArrayDeque[Int]()
            var j = 0
            while (j < m) {
              while (!dq.isEmpty && hs(dq.peekLast) >= hs(j)) dq.pollLast()
              dq.addLast(j)
              if (dq.peekFirst <= j - w) dq.pollFirst()
              if (j >= w - 1) sel.add(hs(dq.peekFirst))
              j += 1
            }
          }
        }
        val sb = new java.lang.StringBuilder
        val it = sel.iterator()
        while (it.hasNext) {
          if (sb.length > 0) sb.append(',')
          sb.append(it.next().longValue)
        }
        Row(r.get(0), sel.size.toLong, sb.toString)
      }
    }(Encoders.row(outSchema))
      .toDF(idCol, "n_fps", "fps_csv")
  }

  /** Decimal-domain round-then-double emission (see CoreQueries.dsum):
    * `round(double, s)` implementations differ near boundaries across
    * engines; DECIMAL-typed outputs hash differently across engines. */
  private def dec6(c: Column): Column =
    round(c.cast("decimal(28,10)"), 6).cast("double")

  /** The (doc, token, tf) term-frequency relation every token-statistics
    * consumer starts from: one explode, one shuffle on (doc, token).
    * Callers that consume it more than once (tf-idf's df derivation +
    * probe, surprisal's model estimation + scoring) must materialize it —
    * otherwise the whole corpus scan + explode + aggregate re-executes per
    * consumer (AQE does not reuse the exchange across the join's two
    * sides; measured as 2× the corpus scan at sf0.1). */
  def termFrequencies(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol),
        explode(TextFunctions.tokenize(col(textCol))).as("token"))
      .groupBy(col(idCol), col("token")).agg(count(lit(1)).as("tf"))

  /** TF-IDF top-`k` terms per document — the classic keyword-extraction
    * pass (salient-term indexing, topic labeling, dedup-key selection).
    *
    * Shape: one explode → one (doc, token) pre-aggregation, materialized
    * once (corpus is scanned exactly once); the document frequency
    * relation is token-keyed (cardinality = vocabulary, not corpus) and
    * broadcasts back, as does the 1-row corpus count — no driver-side
    * action. Ranking uses the exact integer key (tf DESC, df ASC, token
    * ASC) — the same order as tf·idf for fixed (tf, df) — so ranks never
    * depend on double rounding; the tf·idf value itself is informational
    * and rounds in the decimal domain. */
  def tfIdfTopTerms(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 5): DataFrame =
    tfIdfTopTermsFromTf(
      termFrequencies(docs, idCol, textCol).localCheckpoint(true),
      docs.agg(count(lit(1)).as("n_docs")), idCol, k)

  /** tf-idf over a caller-materialized [[termFrequencies]] relation
    * (shared-cache path: q52/q53 serve from the same cached tf). */
  def tfIdfTopTermsFromTf(tf: DataFrame, nDocs: DataFrame, idCol: String,
      k: Int = 5): DataFrame = {
    require(k >= 1, "tfIdfTopTerms: k must be >= 1")
    val df = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("tf").desc, col("df").asc, col("token").asc)
    tf.join(broadcast(df), "token")
      .crossJoin(broadcast(nDocs))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col(idCol), col("rank"), col("token"), col("tf"), col("df"),
        dec6(col("tf").cast("double") *
          log(col("n_docs").cast("double") / col("df").cast("double")))
          .as("tfidf"))
  }

  /** Positional phrase search — the adjacency-probe operator a
    * positional inverted index serves (the exact-phrase arm of a
    * search stack, next to q127's TF-IDF term retrieval and q65's
    * BM25): for each query phrase `w1 w2`, find its occurrences as a
    * first-word posting probe joined to the (doc, pos+1) posting —
    * never by re-scanning text. The query set is self-contained: the
    * corpus's `topPhrases` most frequent bigrams (count DESC, phrase
    * ASC — the exact-rank device), so the operator doubles as a
    * collocation report; the count arm picks the queries, the PROBE
    * arm produces the reported stats, and an oracle counting bigrams
    * directly cross-checks the whole index mechanism.
    *
    * Scale shape: positional postings are built once and materialized
    * (they feed the bigram counts and both probe sides); per-doc
    * positions come from one doc-partitioned window (no global sort);
    * the phrase top-N rides [[Ranks.bucketedGlobalRank]] (bigram
    * vocabulary is corpus-cardinality — never a bare global window);
    * both probe sides are pre-filtered by a broadcast semi-join on the
    * query words, so probe volume is bounded by the query terms'
    * posting lengths, not the corpus; the adjacency join keys on
    * (doc, pos). */
  /** Positional postings: (doc_id, pos, word) with 1-based positions
    * over the SURVIVING (non-empty) tokens, so adjacency means
    * "consecutive words" regardless of how much whitespace separated
    * them. Shared by [[phraseSearch]] and [[cdcChunks]]. */
  private def positionalTokens(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        posexplode(split(lower(col(textCol)), "[ \\t\\n\\f\\r]+"))
          .as(Seq("p0", "word")))
      .filter(col("word") =!= "")
      .withColumn("pos", row_number()
        .over(Window.partitionBy(col("doc_id")).orderBy(col("p0"))))
      .select(col("doc_id"), col("pos"), col("word"))

  def phraseSearch(docs: DataFrame, idCol: String, textCol: String,
      topPhrases: Int = 20): DataFrame = {
    require(topPhrases >= 1, "phraseSearch: topPhrases must be >= 1")
    val toks = positionalTokens(docs, idCol, textCol)
      .localCheckpoint() // feeds counts + both probe sides
    val bigrams = toks
      .withColumn("nxt", lead(col("word"), 1)
        .over(Window.partitionBy(col("doc_id")).orderBy(col("pos"))))
      .filter(col("nxt").isNotNull)
      .select(concat_ws(" ", col("word"), col("nxt")).as("phrase"))
      .groupBy(col("phrase")).agg(count(lit(1)).as("n_count"))
    val top = graft.pipeline.Ranks.bucketedGlobalRank(
        bigrams.withColumn("_neg", -col("n_count")), "_neg", "phrase",
        rankCol = "rank")
      .filter(col("rank") <= topPhrases)
      .select(col("rank").cast("long").as("rank"), col("phrase"),
        split(col("phrase"), " ").getItem(0).as("w1"),
        split(col("phrase"), " ").getItem(1).as("w2"))
      .localCheckpoint(true) // bounded query relation; feeds two probes
    val first = toks.join(broadcast(top.select(col("phrase"), col("w1"),
        col("w2"))), col("word") === col("w1"))
      .select(col("phrase"), col("w2"), col("doc_id"), col("pos"))
    val second = toks.join(broadcast(top.select(col("w2").as("word"))
        .distinct()), Seq("word"), "left_semi")
      .select(col("doc_id"), (col("pos") - lit(1)).as("pos"),
        col("word").as("wn"))
    val hits = first.join(second, Seq("doc_id", "pos"))
      .filter(col("wn") === col("w2"))
      .groupBy(col("phrase"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occ"))
    top.select(col("rank"), col("phrase"))
      .join(hits, Seq("phrase"))
      .select(col("rank"), col("phrase"), col("n_docs"), col("n_occ"))
  }

  /** Content-defined chunking + chunk-level dedup — the rsync/FastCDC
    * boundary device at word granularity: a chunk boundary falls after
    * token i whenever the rolling window hash of the last `window`
    * tokens is ≡ 0 (mod `divisor`), so boundaries are a function of
    * LOCAL content only and an insertion early in a document shifts
    * chunk frames instead of invalidating every downstream chunk — the
    * property fixed-size chunking (q54) fundamentally lacks. Expected
    * chunk length = `divisor` tokens. Output is the chunk-dedup ledger:
    * per distinct chunk content, its token length, copy count, document
    * reach and keeper doc.
    *
    * Shape: positional postings once; boundary flags and chunk ids are
    * doc-partitioned window passes (lag window-gram → salted-hash gate
    * → lagged cumulative sum); chunk content re-assembles through an
    * ORDERED full-frame window collect (never a lambda `transform` —
    * the interpreted-HOF trap), one row survives per chunk; the final
    * dedup keys on the chunk digest, so chunk text never shuffles
    * beyond its digest pass. */
  def cdcChunks(docs: DataFrame, idCol: String, textCol: String,
      window: Int = 3, divisor: Int = 16): DataFrame = {
    require(window >= 2, "cdcChunks: window must be >= 2")
    require(divisor >= 2, "cdcChunks: divisor must be >= 2")
    val toks = positionalTokens(docs, idCol, textCol)
    val wOrd = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val gram = concat_ws(" ",
      (window - 1 to 1 by -1).map(j => lag(col("word"), j).over(wOrd)) :+
        col("word"): _*)
    val flagged = toks.withColumn("b",
      when(col("pos") >= window &&
        conv(substring(md5(gram), 1, 15), 16, 10).cast("long") %
          divisor === 0, 1L).otherwise(0L))
    val withChunk = flagged.withColumn("chunk_id",
      coalesce(sum(col("b")).over(
        wOrd.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val wFull = Window.partitionBy(col("doc_id"), col("chunk_id"))
      .orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val chunks = withChunk
      .withColumn("_words", collect_list(col("word")).over(wFull))
      .withColumn("_rn", row_number().over(
        Window.partitionBy(col("doc_id"), col("chunk_id"))
          .orderBy(col("pos"))))
      .filter(col("_rn") === 1)
      .select(col("doc_id"),
        md5(array_join(col("_words"), " ")).as("chunk_md5"),
        size(col("_words")).cast("long").as("n_tokens"))
    chunks.groupBy(col("chunk_md5"))
      .agg(min(col("n_tokens")).as("n_tokens"), // constant per digest
        count(lit(1)).as("n_copies"),
        countDistinct(col("doc_id")).as("n_docs"),
        min(col("doc_id")).as("keep_doc"))
  }

  /** Weighted sampling without replacement — Efraimidis & Spirakis'
    * A-ES reservoir scheme made deterministic: each doc draws
    * u ∈ (0, 1] from a salted 60-bit hash and ranks by
    * key = ln(u) / w (monotone in u^(1/w)), w = its token count; the
    * global top-`k` keys ARE the weighted sample — inclusion
    * probability proportional to w, without replacement, identical for
    * any partitioning or engine. The length-proportional draw is the
    * standard token-budgeted corpus subsample.
    *
    * Cross-engine discipline: u = (h+1)/2^60 — the divisor is a power
    * of two (exact double), the dividend int64→double correctly
    * rounded — then ln and the divide by w are correctly rounded on
    * identical operands, so the key is bit-identical (the q17/q176 ln
    * class); emitted keys round in the decimal domain (+0.0 kills a
    * negative zero) and RANKING uses the emitted key, tie-broken by
    * id. The top-k rides [[Ranks.bucketedGlobalRank]] — no
    * corpus-cardinality single-task sort. Zero-token docs carry no
    * sampling mass and drop. */
  def weightedSample(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 100, salt: String = "wsample"): DataFrame = {
    require(k >= 1, "weightedSample: k must be >= 1")
    val h = conv(substring(md5(concat(lit(s"$salt:"),
      col(idCol).cast("string"))), 1, 15), 16, 10).cast("long")
    val keyed = docs.select(col(idCol).as("doc_id"),
        size(split(lower(col(textCol)), "[ \\t\\n\\f\\r]+")).cast("long")
          .as("n_tokens"),
        h.as("_h"))
      .filter(col("n_tokens") >= 1L)
      .select(col("doc_id"), col("n_tokens"),
        (round((log((col("_h") + 1L).cast("double") /
            lit(1152921504606846976L).cast("double")) /
            col("n_tokens").cast("double")).cast("decimal(28,10)"), 6)
          .cast("double") + lit(0.0)).as("samp_key"))
    Ranks.bucketedGlobalRank(keyed.withColumn("_neg", -col("samp_key")),
        "_neg", "doc_id", rankCol = "rank")
      .filter(col("rank") <= k)
      .select(col("rank").cast("long").as("rank"), col("doc_id"),
        col("n_tokens"), col("samp_key"))
  }

  /** Distinctive vocabulary per group — Monroe, Colaresi & Quinn's
    * "Fightin' Words" log-odds with an informative Dirichlet prior
    * (α_w = 1, α0 = V), the standard corpus-comparison statistic: for
    * each group g vs the rest of the corpus,
    * δ_w = ln((y+1)/(n_g+V−y−1)) − ln((y'+1)/(n'+V−y'−1)) and
    * z_w = δ_w / √(1/(y+1) + 1/(y'+1)), ranked per group by z — which
    * terms does this source use that the rest of the corpus doesn't?
    *
    * Cross-engine discipline: every float op is a correctly-rounded
    * unary/binary op on exact-int64-derived operands (divide → ln →
    * subtract → divide-by-sqrt), so z is bit-identical across engines
    * (the q17/q52 ln precedent — no order-dependent float sums
    * anywhere); the emitted score rounds in the decimal domain and
    * adds +0.0 to collapse a negative-zero round result to +0.0
    * before it can split a cross-engine sort. Ranking uses the EMITTED
    * score (ties broken by token), so rank and display can never
    * disagree.
    *
    * Scale shape: one id-keyed join tags tokens with their group, one
    * (group, token) aggregate; the group-total relation broadcasts
    * (groups are a dimension by precondition), the token-total join
    * keys on token (vocabulary cardinality, never corpus), and the
    * per-group rank rides [[Ranks.bucketedGroupRank]] — no
    * vocabulary-sized single-task sort. Scored vocabulary = tokens
    * OBSERVED in the group (absent tokens have strongly negative z and
    * cannot reach a distinctiveness top-k). */
  def logOddsTermsFromTf(tf: DataFrame, meta: DataFrame, idCol: String,
      groupCol: String, topK: Int = 10): DataFrame = {
    require(topK >= 1, "logOddsTerms: topK must be >= 1")
    val ct = tf.join(meta.select(col(idCol), col(groupCol)), idCol)
      .groupBy(col(groupCol), col("token"))
      .agg(sum(col("tf")).as("y"))
      .localCheckpoint() // feeds group totals, token totals and scoring
    val gt = ct.groupBy(col(groupCol)).agg(sum(col("y")).as("n_g"))
    val tt = ct.groupBy(col("token")).agg(sum(col("y")).as("y_tot"))
    val v = tt.agg(count(lit(1)).as("vocab"), sum(col("y_tot")).as("n_tot"))
    val d = (c: Column) => c.cast("double")
    val scored = ct.join(broadcast(gt), Seq(groupCol))
      .join(tt, Seq("token"))
      .crossJoin(broadcast(v))
      .select(col(groupCol), col("token"), col("y"),
        (col("y_tot") - col("y")).as("y_rest"),
        col("n_g"), (col("n_tot") - col("n_g")).as("n_rest"), col("vocab"))
    val delta =
      log(d(col("y") + 1L) / d(col("n_g") + col("vocab") - col("y") - 1L)) -
        log(d(col("y_rest") + 1L) /
          d(col("n_rest") + col("vocab") - col("y_rest") - 1L))
    val sigma = sqrt(lit(1.0) / d(col("y") + 1L) +
      lit(1.0) / d(col("y_rest") + 1L))
    val z = scored.select(col(groupCol), col("token"), col("y"),
      col("y_rest"),
      (round((delta / sigma).cast("decimal(28,10)"), 6).cast("double") +
        lit(0.0)).as("zscore"))
    Ranks.bucketedGroupRank(z.withColumn("_neg", -col("zscore")), "_neg",
        "token", groupCol, rankCol = "rank")
      .filter(col("rank") <= topK)
      .select(col(groupCol), col("rank").cast("long").as("rank"),
        col("token"), col("y"), col("y_rest"), col("zscore"))
  }

  /** Sparse lexical retrieval — TF-IDF-weighted cosine top-k over an
    * inverted index, the lexical complement of the embedding ANN family
    * (BM25's q65 scores one query string; this retrieves per-document
    * neighbors corpus-wide, the classic duplicate/citation-finder and
    * the "sparse arm" of hybrid retrieval). Terms appearing in more
    * than `maxDfPct` percent of documents are pruned from index,
    * weights AND norms alike — the standard posting-list bound (a
    * stopword's postings are quadratic join fuel and contribute
    * near-zero discrimination; the df·100 ≤ N·pct comparison is exact
    * integer, engine-portable), and pruning-consistent scoring keeps
    * the operator exactly self-consistent and mirrored.
    *
    * Cross-engine discipline: w = tf·ln(N/df) on exact integers (ln
    * bit-stable); norm² and dot terms truncate to DECIMAL(28,10)
    * and sum exactly, round once, sqrt/divide on identical doubles
    * (q55's sqrt precedent); ranks order by (rounded score DESC,
    * corpus id) — fully hash-stable.
    *
    * Scale shape: the pruned df relation and the 1-row N broadcast;
    * query postings (bounded query set) BROADCAST into the inverted-
    * index join, so corpus postings never shuffle; the dot aggregate
    * keys on (query, candidate) — cardinality bounded by shared-term
    * co-occurrence under the df cap; norms join candidate-sized. The
    * top-k window partitions by query. */
  def lexicalTopKFromTf(tf: DataFrame, nDocs: DataFrame, queryIds: DataFrame,
      idCol: String, k: Int = 5, maxDfPct: Int = 80,
      maxPosting: Int = Int.MaxValue): DataFrame =
    lexicalTopKFromPostings(
      lexicalPostings(tf, nDocs, idCol, maxDfPct, maxPosting)
        .localCheckpoint(true), // postings feed norms, query side, corpus side
      queryIds, idCol, k)

  /** The df-pruned TF-IDF weighted postings relation
    * (`idCol`, token, w) behind [[lexicalTopKFromTf]] — split out (r20)
    * so queries sharing one corpus index (q127's lexical top-k and
    * q179's hybrid sparse arm build the IDENTICAL postings: same tf,
    * same df cap) can materialize it ONCE behind a declared shared
    * cache instead of paying the df aggregate + weight projection +
    * eager checkpoint per query. Callers materialize the result
    * (localCheckpoint) before fanning it into
    * [[lexicalTopKFromPostings]]. */
  def lexicalPostings(tf: DataFrame, nDocs: DataFrame, idCol: String,
      maxDfPct: Int = 80, maxPosting: Int = Int.MaxValue): DataFrame = {
    require(maxDfPct >= 1 && maxDfPct <= 100,
      "lexicalTopK: maxDfPct must be in [1, 100]")
    require(maxPosting >= 1, "lexicalTopK: maxPosting must be >= 1")
    val pctPruned = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nDocs))
      .filter(col("df") * 100 <= col("n_docs") * maxDfPct)
      .select(col("token"), col("df"))
    // Absolute posting-length guard (the Dedup.capOccupancy device for
    // inverted indexes): a natural Zipf head can clear a PERCENTAGE cap
    // while its postings are still corpus-scale join fuel — candidate
    // volume per query is bounded by the sum of its terms' posting
    // lengths, so the absolute bound is what survives a 100× corpus
    // growth. Excluded tokens are reported as a `guard` event (raise
    // maxPosting or lower maxDfPct to adjudicate them); exclusion is
    // score-consistent (df is per-token, so the surviving index is
    // IDENTICAL to running on a pre-filtered tf — ScaleSpec pins this).
    val dfRel = if (maxPosting == Int.MaxValue) pctPruned else {
      val over = pctPruned.filter(col("df") > maxPosting).localCheckpoint(true)
      Events.guard("lexicalTopK", over, maxPosting, "df")(r =>
        s"${r.getString(0)}:${r.getLong(1)}")
      pctPruned.filter(col("df") <= maxPosting)
    }
    tf.join(broadcast(dfRel), "token")
      .crossJoin(broadcast(nDocs))
      .select(col(idCol), col("token"),
        (col("tf").cast("double") *
          log(col("n_docs").cast("double") / col("df").cast("double")))
          .as("w"))
  }

  /** Score + rank arm of [[lexicalTopKFromTf]] over a caller-
    * materialized [[lexicalPostings]] relation. */
  def lexicalTopKFromPostings(w: DataFrame, queryIds: DataFrame,
      idCol: String, k: Int = 5): DataFrame = {
    require(k >= 1, "lexicalTopK: k must be >= 1")
    val norms = w.groupBy(col(idCol))
      .agg(round(sum((col("w") * col("w")).cast("decimal(28,10)")), 6)
        .cast("double").as("_sq"))
      .select(col(idCol), sqrt(col("_sq")).as("_nrm"))
    val qw = w.join(queryIds.select(col(idCol)), Seq(idCol), "left_semi")
      .select(col(idCol).as("query_id"), col("token"), col("w").as("wq"))
    val dots = w.select(col(idCol).as("corpus_id"), col("token"),
        col("w").as("wc"))
      .join(broadcast(qw), Seq("token"))
      .filter(col("query_id") =!= col("corpus_id"))
      .groupBy(col("query_id"), col("corpus_id"))
      .agg(round(sum((col("wq") * col("wc")).cast("decimal(28,10)")), 6)
        .cast("double").as("dot"))
    val scored = dots
      .join(broadcast(norms.select(col(idCol).as("query_id"),
        col("_nrm").as("_nq"))), Seq("query_id"))
      .join(norms.select(col(idCol).as("corpus_id"),
        col("_nrm").as("_nc")), Seq("corpus_id"))
      // a doc whose surviving terms ALL weigh zero (df exactly == N at
      // the cap boundary) has norm 0; its pairs would score 0/0 = NaN —
      // drop them (zero-weight vectors carry no lexical signal)
      .filter(col("_nq") > 0.0 && col("_nc") > 0.0)
      .select(col("query_id"), col("corpus_id"),
        dec6(col("dot") / (col("_nq") * col("_nc"))).as("score"))
    val wr = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("corpus_id").asc)
    scored.withColumn("rank", row_number().over(wr).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("corpus_id"), col("score"))
  }

  /** Unigram language-model surprisal — the cheap perplexity proxy used
    * for quality filtering (CCNet-style: rank documents by how unlikely
    * their tokens are under a corpus-level unigram model; here the model
    * is estimated from the corpus itself).
    *
    * score(doc) = mean over tokens of −ln p(token), p = count/total.
    * Per-token surprisals are computed in the double domain (both
    * engines' `ln` agree bit-for-bit on identical input — the device
    * q17's log-odds hash-check pins), then summed as DECIMAL (double
    * addition is order-dependent under partitioning; decimal addition is
    * exact). A token occurring tf times contributes tf·surp, multiplied
    * exactly in the decimal domain — bit-identical to the oracle's
    * per-occurrence summation, at vocabulary-per-doc row counts instead
    * of token-occurrence counts.
    *
    * Shape: ONE corpus scan into the materialized [[termFrequencies]]
    * relation; the token model (vocabulary-sized) aggregates FROM tf and
    * broadcasts back; the scoring probe is the compact tf relation, not
    * the raw exploded tokens. One shuffle on (doc, token), one on doc. */
  def unigramSurprisal(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    unigramSurprisalFromTf(
      termFrequencies(docs, idCol, textCol).localCheckpoint(true), idCol)

  /** Surprisal over a caller-materialized [[termFrequencies]] relation. */
  def unigramSurprisalFromTf(tf: DataFrame, idCol: String): DataFrame = {
    val counts = tf.groupBy(col("token")).agg(sum(col("tf")).as("cnt"))
    val total = counts.agg(sum(col("cnt")).as("tot"))
    val perTok = tf.join(broadcast(counts), "token")
      .crossJoin(broadcast(total))
      .select(col(idCol), col("tf"),
        // decimal(18,10) surp × decimal(10,0) tf → decimal(29,10): exact
        // (stays under Spark's 38-digit cap; summing as decimal(28,10)
        // first would re-round identically to the per-occurrence oracle)
        (log(col("tot").cast("double") / col("cnt").cast("double"))
          .cast("decimal(18,10)") * col("tf").cast("decimal(10,0)"))
          .as("surp"))
    perTok.groupBy(col(idCol))
      .agg(sum(col("tf")).as("n_tokens"), sum(col("surp")).as("sum_dec"))
      .select(col(idCol), col("n_tokens"),
        round(col("sum_dec"), 6).cast("double").as("sum_surprisal"),
        dec6(col("sum_dec").cast("double") / col("n_tokens").cast("double"))
          .as("avg_surprisal"))
  }

  /** Chunk-level first-occurrence dedup — the paragraph-dedup analog
    * (Dolma-style: drop repeated spans ACROSS documents, not just whole
    * near-dup documents). Works on [[chunk]]'s fixed-budget chunks;
    * occurrence order is the deterministic (doc_id, chunk_id) total
    * order, so the kept copy is always the earliest.
    *
    * Shape: one shuffle keyed by chunk hash for the occurrence ranking
    * (true duplicate multiplicity CAN skew it — a boilerplate chunk
    * across half the corpus — so the ranking is [[firstOccDup]]'s
    * hot/cold split: window partitions are ≤ `hotCap` rows by
    * construction), one shuffle back on doc for the per-document
    * rollup. The chunk text never shuffles — only (doc, chunk_id,
    * md5). */
  def chunkDedup(docs: DataFrame, idCol: String, textCol: String,
      maxTokens: Int = 32,
      hotCap: Int = DefaultHotOccupancy): DataFrame = {
    firstOccDup(chunk(docs, idCol, textCol, maxTokens), idCol, hotCap,
        "chunkDedup")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("_dup"), 1L).otherwise(0L)).as("n_dup_chunks"))
      .select(col(idCol), col("n_chunks"), col("n_dup_chunks"),
        dec6(col("n_dup_chunks").cast("double") / col("n_chunks").cast("double"))
          .as("dup_frac"))
  }

  /** Chunk-dedup REWRITE (the Dolma paragraph-removal analog): every
    * chunk whose content already occurred earlier in the corpus (first
    * occurrence kept, deterministic (doc, chunk) order — [[chunkDedup]]'s
    * ranking) is REMOVED, and the cleaned document is re-emitted in
    * canonical token space (lower-cased, single-spaced — the same space
    * the chunk hashes live in), pinned by md5.
    *
    * Scale shape — the rewrite without shuffling text: the occurrence
    * ranking runs on (id, chunk_id, md5) only (the q54 plan); the
    * DROPPED set — duplicate-rate × corpus, vanishing next to the
    * corpus — aggregates to (doc_id, [chunk_ids]) and joins back
    * id-keyed; a mapPartitions kernel then deletes those token ranges
    * in-row. Document text never crosses an exchange; the naive
    * explode→filter→regroup form would shuffle every surviving chunk's
    * text twice. */
  def chunkDedupRewrite(docs: DataFrame, idCol: String, textCol: String,
      maxTokens: Int = 32,
      hotCap: Int = DefaultHotOccupancy): DataFrame = {
    require(maxTokens >= 1, "chunkDedupRewrite: maxTokens must be >= 1")
    val dropped = firstOccDup(chunk(docs, idCol, textCol, maxTokens),
        idCol, hotCap, "chunkDedupRewrite")
      .filter(col("_dup"))
      .groupBy(col(idCol))
      .agg(collect_list(col("chunk_id")).as("_drop"))
    val in = docs.select(col(idCol), col(textCol))
      .join(dropped, Seq(idCol), "left")
    val outSchema = StructType(Seq(in.schema.head,
      StructField("n_chunks", LongType, nullable = false),
      StructField("n_dropped", LongType, nullable = false),
      StructField("n_tokens_after", LongType, nullable = false),
      StructField("clean_md5", StringType, nullable = true)))
    in.mapPartitions { rows =>
      val md = java.security.MessageDigest.getInstance("MD5")
      rows.map { r =>
        // limit -1: Spark's split keeps trailing empty tokens — Java's
        // default (limit 0) drops them, which would shift chunk bounds
        val toks: Array[String] =
          if (r.isNullAt(1)) Array.empty
          else r.getString(1).toLowerCase(java.util.Locale.ROOT)
            .split("[ \\t\\n\\f\\r]+", -1)
        val drop: Set[Long] =
          if (r.isNullAt(2)) Set.empty else r.getSeq[Long](2).toSet
        val nChunks =
          if (toks.isEmpty) 0L else ((toks.length - 1) / maxTokens + 1).toLong
        val sb = new java.lang.StringBuilder
        var keptChunks = 0L
        var keptToks = 0L
        var first = true // flat ' '-join of kept tokens, empties included
        var cid = 0L     // (= joining the kept chunk texts with ' ')
        while (cid < nChunks) {
          if (!drop.contains(cid)) {
            keptChunks += 1
            val lo = (cid * maxTokens).toInt
            val hi = math.min(lo + maxTokens, toks.length)
            var j = lo
            while (j < hi) {
              if (!first) sb.append(' ')
              sb.append(toks(j))
              first = false
              j += 1
            }
            keptToks += hi - lo
          }
          cid += 1
        }
        val hash = if (keptChunks == 0L) null else {
          md.reset()
          md.digest(sb.toString.getBytes("UTF-8"))
            .map("%02x".format(_)).mkString
        }
        Row(r.get(0), nChunks, drop.size.toLong, keptToks, hash)
      }
    }(Encoders.row(outSchema))
      .toDF(idCol, "n_chunks", "n_dropped", "n_tokens_after", "clean_md5")
  }

  /** Temperature-sampled mixing weights — the multi-source sampling
    * schedule step (Raffel et al. 2020 §3.4.1 / XLM-R: sample source s
    * with probability ∝ n_s^α, α < 1 upweights small sources). α is
    * fixed at 1/2 so the power is `sqrt`, which IEEE 754 requires to be
    * correctly rounded — bit-identical across engines, unlike `pow`.
    *
    * Cross-engine discipline: each source's √tokens is truncated to
    * DECIMAL(28,10) (deterministic on both engines), the normalizer is
    * the EXACT decimal sum of those truncations (double summation order
    * would flake), and the final weight divides the two as doubles.
    * One aggregation to source granularity (map-side combined), then a
    * broadcast 1-row total — no driver action. */
  def mixWeights(docs: DataFrame, groupCol: String, textCol: String): DataFrame = {
    val perSrc = docs.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(TextFunctions.tokenize(col(textCol))).cast("long")).as("n_tokens"))
      .withColumn("_sq", sqrt(col("n_tokens").cast("double")).cast("decimal(28,10)"))
    val total = perSrc.agg(sum(col("_sq")).as("_tot"))
    perSrc.crossJoin(broadcast(total))
      .select(col(groupCol), col("n_docs"), col("n_tokens"),
        round(col("_sq"), 6).cast("double").as("sqrt_tokens"),
        dec6(col("_sq").cast("double") / col("_tot").cast("double"))
          .as("weight"))
  }

  /** Model-based quality scoring — the fastText-style linear classifier
    * shape (Joulin et al. 2016; the CCNet/LLaMA corpus-filtering
    * device): hash each token into `numBuckets` feature buckets, join
    * the bucket against a BROADCAST weight table, sum weights per doc,
    * threshold the resulting logit. The weight table here is a
    * deterministic stand-in (wq = bucket mod 197 − 98 — engine-portable
    * integer arithmetic so the oracle can recompute it); the operator
    * contract is the pluggable `weights` relation — a trained model
    * drops in without touching the plan shape; buckets absent from a
    * (naturally sparse) table score 0, and every token still counts
    * toward `n_tokens`.
    *
    * Scale shape: weights are model-sized (buckets, not vocabulary) and
    * always broadcast; scoring is explode → broadcast hash join → one
    * (doc) hash aggregate with map-side partials. Integer score sums are
    * exact; the only double op is the final logit division (one
    * correctly-rounded divide — bit-identical across engines). */
  def classifierQuality(docs: DataFrame, idCol: String, textCol: String,
      numBuckets: Int = 1024, weights: Option[DataFrame] = None): DataFrame = {
    val spark = docs.sparkSession
    val w = weights.getOrElse(
      spark.range(numBuckets).select(col("id").as("bucket"),
        (col("id") % 197 - 98).cast("long").as("wq")))
    val ex = docs.select(col(idCol),
      explode(TextFunctions.tokenize(col(textCol))).as("token"))
      .select(col(idCol),
        pmod(TextFunctions.fingerprint(col("token")), lit(numBuckets.toLong))
          .as("bucket"))
    // LEFT join + coalesce(0): trained linear models are stored sparse
    // (only non-zero buckets); an inner join would drop tokens hashing
    // to an absent bucket — undercounting n_tokens, skewing the logit
    // denominator, and losing whole docs whose every token misses.
    ex.join(broadcast(w), Seq("bucket"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(coalesce(col("wq"), lit(0L))).as("score_q"))
      .select(col(idCol), col("n_tokens"), col("score_q"),
        (col("score_q").cast("double") /
          (lit(197.0) * col("n_tokens").cast("double"))).as("logit"),
        when(col("score_q") >= 0, 1L).otherwise(0L).as("pass"))
  }

  /** Quality-classifier TRAINING — the learn half of the
    * [[classifierQuality]] loop (fastText-style quality pipelines label
    * a seed set, TRAIN token weights, then apply them at corpus scale):
    * Laplace-smoothed per-token log-odds between a positive and a
    * negative document class, over document PRESENCE frequencies (the
    * standard Bernoulli naive-Bayes form).
    * `labels` carries (`idCol`, label ∈ {0,1});
    * weight = ln(((df_pos+1)/(n_pos+2)) / ((df_neg+1)/(n_neg+2))).
    *
    * Determinism: df/n are exact integers, each smoothed ratio is one
    * IEEE divide, `ln` agrees bit-for-bit across engines on identical
    * input (the q17/q52 device), and emission rounds in the decimal
    * domain. Scale shape: one distinct (doc, token) pass over the
    * shared tf relation, an id-keyed join to attach labels, one
    * token-keyed aggregate — output is vocabulary-sized — and a 1-row
    * class-count broadcast. */
  def trainNbWeights(tf: DataFrame, labels: DataFrame,
      idCol: String): DataFrame = {
    val pres = tf.select(col(idCol), col("token")).distinct()
      .join(labels.select(col(idCol), col("label")), idCol)
    val counts = labels.agg(
      sum(col("label")).as("n_pos"),
      sum(lit(1L) - col("label")).as("n_neg"))
    pres.groupBy(col("token"))
      .agg(sum(col("label")).as("df_pos"),
        sum(lit(1L) - col("label")).as("df_neg"))
      .crossJoin(broadcast(counts))
      .select(col("token"), col("df_pos"), col("df_neg"),
        dec6(log(
          ((col("df_pos") + 1).cast("double") /
            (col("n_pos") + 2).cast("double")) /
          ((col("df_neg") + 1).cast("double") /
            (col("n_neg") + 2).cast("double"))))
          .as("weight"))
  }

  /** Default per-fingerprint occupancy cap for the hot/cold window
    * split ([[duplicatedStarts]], [[firstOccDup]]): a cold window
    * partition is at most this many ~60-byte rows (a few MB — sorts in
    * milliseconds), while the pre-count pass that funds the split is
    * one combiner-friendly aggregate. On by default because the split
    * NEVER changes results (unlike [[Dedup.lshCandidates]]'s exclusion
    * cap, which is off by default): hot keys are short-circuited with
    * their exact pre-counted verdicts, not dropped. */
  val DefaultHotOccupancy: Int = 1 << 16

  /** Fingerprints over the occupancy cap, with exact distinct-doc and
    * occurrence counts. Compact: two combiner-friendly aggregates,
    * output bounded by total/cap. */
  private def hotFpStats(wins: DataFrame, hotCap: Int): DataFrame =
    wins.groupBy(col("fp"), col("doc_id"))
      .agg(count(lit(1)).as("_c"))
      .groupBy(col("fp"))
      .agg(count(lit(1)).as("n_docs"), sum(col("_c")).as("occupancy"))
      .filter(col("occupancy") > hotCap)

  /** Starts of k-token windows whose fingerprint recurs in ≥ `minDocs`
    * DISTINCT documents — the shared duplicated-window device of
    * [[dupSpanCoverage]] / [[dupSpanRewrite]], skew-proofed.
    *
    * The plain form is the dense_rank distinct-count window device
    * (max(dense_rank by doc) over the fp partition = the fp's
    * distinct-doc count — ONE fp-keyed shuffle filters the
    * corpus-cardinality relation in the pass that built it). But
    * `Window.partitionBy(fp)` puts ALL occurrences of one fingerprint
    * in a single task, k-gram frequencies are Zipfian, and a window
    * gets no map-side partial combine and no AQE skew split: at 100×
    * a stop-phrase k-gram is a single-task billion-row sort. So:
    * pre-count fps with a two-stage map-side-combined aggregate
    * ((fp, doc) then fp — both stages combine before shuffling, so the
    * pre-count itself cannot skew), short-circuit fps over `hotCap`
    * occupancy with their pre-counted exact distinct-doc verdict
    * (broadcast semi-join — no window ever forms), and run the window
    * device only on the cold tail, whose partitions are ≤ `hotCap`
    * rows BY CONSTRUCTION. Results are identical for any cap — the
    * guard reports loudly (a `guard` event) but drops
    * nothing.
    *
    * Hot-candidate derivation is SAMPLED since r19 (the carried
    * ADVICE watch: the unconditional corpus-scale (fp, doc) pre-count
    * was the family's dominant aggregate even when nothing was hot).
    * A deterministic 1-in-m row sample (xxhash64 of the row identity —
    * never rand(), which breaks under task retry; guide §2.5) feeds a
    * key-count whose shuffle is m× smaller; keys whose ESTIMATED
    * occupancy exceeds cap/4 become candidates and get their EXACT
    * (n_docs, occupancy) from one aggregate restricted to candidate
    * keys (broadcast semi-join — scan + tiny agg). m scales with the
    * cap (m = hotCap/64, so a genuinely hot key expects ≥ 64 sampled
    * rows and the 4× threshold margin puts the miss probability below
    * ~1e-12); caps under 128 keep the exact pre-count (m = 1 — the
    * spec-pinned tiny-cap paths are byte-identical to pre-r19). A
    * missed hot key degrades to the windowed path — slower, never
    * wrong; an over-caught cold key is discarded by the exact verify.
    * When the candidate sample is empty the corpus-scale pre-count
    * never runs at all. */
  private[pipeline] def duplicatedStarts(wins: DataFrame, minDocs: Int,
      hotCap: Int, who: String): DataFrame = {
    val byFp = Window.partitionBy(col("fp"))
    def denseRankStarts(src: DataFrame): DataFrame = src
      .withColumn("_dr", dense_rank().over(byFp.orderBy(col("doc_id"))))
      .withColumn("_nd", max(col("_dr")).over(byFp))
      .filter(col("_nd") >= minDocs)
      .select(col("doc_id"), col("s"))
    if (hotCap == Int.MaxValue) denseRankStarts(wins)
    else hotKeys(wins, "fp", Seq(col("fp"), col("doc_id"), col("s")), hotCap,
        who)(hotFpStats(_, hotCap)) match {
      case None => denseRankStarts(wins)
      case Some(hot) =>
        val hotDup = hot.filter(col("n_docs") >= minDocs.toLong)
          .select(col("fp"))
        val hotStarts = wins.join(broadcast(hotDup), Seq("fp"), "left_semi")
          .select(col("doc_id"), col("s"))
        val cold = wins.join(broadcast(hot.select(col("fp"))),
          Seq("fp"), "left_anti")
        denseRankStarts(cold).unionByName(hotStarts)
    }
  }

  /** The hot-key pre-count of [[duplicatedStarts]] and [[firstOccDup]]:
    * `stats` (an aggregate by `key` with an `occupancy` column, filtered
    * to occupancy over `hotCap`) of the keys over the cap, materialized
    * and reported as a `guard` event; `None` when no key is hot. Caps
    * of 128 and up derive candidates from a 1-in-m sample on
    * `sampleCols` first and run `stats` only on them (see
    * [[duplicatedStarts]]). */
  private def hotKeys(src: DataFrame, key: String, sampleCols: Seq[Column],
      hotCap: Int, who: String)(stats: DataFrame => DataFrame): Option[DataFrame] = {
    require(hotCap >= 1, s"$who: hotCap must be >= 1")
    val m = math.max(1L, hotCap.toLong / 64L)
    val hot =
      if (m == 1L) stats(src).localCheckpoint(true)
      else {
        val cands = src
          .filter(pmod(xxhash64(sampleCols: _*), lit(m)) === 0L)
          .groupBy(col(key)).agg(count(lit(1)).as("_sc"))
          .filter(col("_sc") * m * 4L > hotCap.toLong)
          .select(col(key))
          .localCheckpoint(true)
        if (cands.isEmpty) cands.sparkSession.createDataFrame(
          cands.sparkSession.sparkContext.emptyRDD[Row], stats(src.limit(0)).schema)
        else stats(src.join(broadcast(cands), Seq(key), "left_semi"))
          .localCheckpoint(true)
      }
    val occ = hot.schema.fieldIndex("occupancy")
    if (Events.guard(who, hot, hotCap, "occupancy")(_.getLong(occ)) == 0) None
    else Some(hot)
  }

  /** Per-occurrence duplicate flag over a [[chunk]] relation: `_dup` is
    * true for every occurrence of a `chunk_md5` EXCEPT the first in the
    * deterministic (`idCol`, chunk_id) total order — the shared ranking
    * of [[chunkDedup]] / [[chunkDedupRewrite]], skew-proofed the same
    * way as [[duplicatedStarts]]: a boilerplate chunk recurring across
    * half the corpus would land its whole `Window.partitionBy(chunk_md5)`
    * partition on one task, so hashes over `hotCap` occupancy are
    * pre-counted (ONE combiner-friendly aggregate — count plus
    * min(struct(doc, chunk)), both with map-side partial combine),
    * broadcast, and flagged by comparing against the pre-computed
    * first occurrence; the row_number window runs only on the cold
    * tail (partitions ≤ `hotCap` rows by construction). Results
    * identical for any cap; hot hashes are reported as a `guard` event.
    * Hot candidates are SAMPLE-derived with an exact verify since r19
    * — same device, margins and m = hotCap/64 scaling as
    * [[duplicatedStarts]] (see there); caps under 128 keep the exact
    * pre-count. */
  private[pipeline] def firstOccDup(chunks: DataFrame, idCol: String,
      hotCap: Int, who: String): DataFrame = {
    val occ = Window.partitionBy(col("chunk_md5"))
      .orderBy(col(idCol).asc, col("chunk_id").asc)
    def windowed(src: DataFrame): DataFrame =
      src.withColumn("_dup", row_number().over(occ) > 1)
    def exactHot(src: DataFrame): DataFrame = src
      .groupBy(col("chunk_md5"))
      .agg(count(lit(1)).as("occupancy"),
        min(struct(col(idCol).as("_i"), col("chunk_id").as("_ci")))
          .as("_first"))
      .filter(col("occupancy") > hotCap)
    if (hotCap == Int.MaxValue) windowed(chunks)
    else hotKeys(chunks, "chunk_md5", Seq(col("chunk_md5"), col(idCol), col("chunk_id")),
        hotCap, who)(exactHot) match {
      case None => windowed(chunks)
      case Some(hot) =>
        val hotFlagged = chunks
          .join(broadcast(hot.select(col("chunk_md5"), col("_first"))),
            Seq("chunk_md5"))
          .withColumn("_dup", !(col(idCol) === col("_first._i") &&
            col("chunk_id") === col("_first._ci")))
          .drop("_first")
        val cold = chunks.join(broadcast(hot.select(col("chunk_md5"))),
          Seq("chunk_md5"), "left_anti")
        windowed(cold).unionByName(
          hotFlagged.select(cold.columns.map(col) :+ col("_dup"): _*))
    }
  }

  /** Duplicate-SPAN coverage (the Lee et al. 2022 "Deduplicating
    * Training Data" substring metric): the fraction of each document's
    * tokens covered by at least one k-token window that also appears
    * in ≥ `minDocs` documents. Where [[sharedSubstringStats]] reports
    * a winnowed fingerprint SAMPLE, this is the EXACT coverage — every
    * window fingerprinted, coverage = the measure of the union of the
    * duplicated [s, s+k) intervals.
    *
    * The union is computed WITHOUT exploding positions (a k× row
    * blowup at corpus scale): duplicated windows of one doc sort by
    * start, and because all intervals share length k the running
    * union gains exactly `least(k, s − lag(s))` tokens per window —
    * one per-doc window function over the duplicated-window relation
    * only. Integer-exact, so both engines hash identically; the
    * window is partitioned by doc (the [[graft.pipeline.Ranks]]
    * discipline — never a bare global orderBy). The fingerprint
    * relation shuffles (fp, doc_id, s) triples, never text — one
    * ~60-byte row per corpus token, never materialized (a checkpoint
    * here is petabytes at 100 TB); the duplicated-window filter is
    * [[duplicatedStarts]] (the hot/cold-split dense_rank device —
    * `hotCap` bounds every window partition). */
  def dupSpanCoverage(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 8, minDocs: Int = 2,
      hotCap: Int = DefaultHotOccupancy): DataFrame = {
    require(k >= 2 && minDocs >= 2,
      "dupSpanCoverage: k and minDocs must be >= 2")
    val toks = docs.select(col(idCol).as("doc_id"),
        TextFunctions.tokenize(col(textCol)).as("t"))
      .select(col("doc_id"), col("t"),
        size(col("t")).cast("long").as("n_tokens"))
    val wins = spanWindows(docs, idCol, textCol, k)
    val w = Window.partitionBy(col("doc_id")).orderBy(col("s"))
    val covered =
      duplicatedStarts(wins, minDocs, hotCap, "dupSpanCoverage")
      .withColumn("prev_s", lag(col("s"), 1).over(w))
      .select(col("doc_id"),
        when(col("prev_s").isNull, lit(k.toLong))
          .otherwise(least(lit(k.toLong), col("s") - col("prev_s")))
          .as("gain"))
      .groupBy(col("doc_id")).agg(sum(col("gain")).as("covered_tokens"))
    toks.select(col("doc_id"), col("n_tokens"))
      .join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("covered_tokens"), lit(0L)).as("covered_tokens"),
        round((coalesce(col("covered_tokens"), lit(0L)).cast("double") /
            col("n_tokens").cast("double")).cast("decimal(28,10)"), 6)
          .cast("double").as("dup_frac"))
  }

  /** Unicode-script DOMINANCE — the routing VERDICT built over the
    * [[scriptProfile]] signal class (that one reports four script
    * FRACTIONS; multilingual FineWeb-2/mC4-class pipelines route on a
    * single dominant-script decision before any language model sees
    * the text, and need the wider block coverage): exact character
    * counts in seven major script blocks, the dominant script by
    * count with FIXED precedence on ties, and the
    * dominant-over-letters confidence ratio.
    *
    * Cross-engine discipline: every class is an EXPLICIT codepoint
    * range (U+0400–U+04FF etc.), never a named Unicode property —
    * `\p{Cyrillic}` depends on each engine's Unicode table version,
    * explicit ranges cannot drift. Counting is the strip-diff device
    * (length minus length after removing the class), identical
    * semantics in Java regex and RE2; both engines' `length` counts
    * codepoints. Pure per-row column math — scan speed, no shuffle,
    * streaming-safe. */
  val ScriptRanges: Seq[(String, String)] = Seq(
    // Latin-1/Extended letters, with the two non-letters inside the
    // block (× U+00D7, ÷ U+00F7) carved out
    "latin" -> "a-zA-Z\\u00C0-\\u00D6\\u00D8-\\u00F6\\u00F8-\\u024F",
    "cyrillic" -> "\\u0400-\\u04FF",
    "greek" -> "\\u0370-\\u03FF",
    "arabic" -> "\\u0600-\\u06FF",
    "devanagari" -> "\\u0900-\\u097F",
    "hangul" -> "\\uAC00-\\uD7AF",
    "cjk" -> "\\u4E00-\\u9FFF\\u3040-\\u30FF")

  /** Class table for [[scriptRoutedLangId]] — [[ScriptRanges]] with
    * CJK split finer (han+kana merged for DOMINANCE, kana counted
    * separately for the ja/zh sub-route) and Thai added. Same
    * explicit-range discipline; precedence = list order. */
  val RouteRanges: Seq[(String, String)] = Seq(
    "latin" -> "a-zA-Z\\u00C0-\\u00D6\\u00D8-\\u00F6\\u00F8-\\u024F",
    "cyrillic" -> "\\u0400-\\u04FF",
    "greek" -> "\\u0370-\\u03FF",
    "arabic" -> "\\u0600-\\u06FF",
    "devanagari" -> "\\u0900-\\u097F",
    "hangul" -> "\\uAC00-\\uD7AF",
    "cjk" -> "\\u4E00-\\u9FFF\\u3400-\\u4DBF\\u3040-\\u30FF",
    "thai" -> "\\u0E01-\\u0E5B")

  /** The kana-only class behind the ja/zh sub-route (a SUBSET of the
    * merged cjk class — count_ranges counts overlapping classes
    * independently). */
  val KanaRange: String = "\\u3040-\\u30FF"

  /** Script-routed multilingual language ID — the complete front-door
    * router (q241's [[scriptDominance]] names the SCRIPT; this names
    * the LANGUAGE): one `count_ranges` walk over the nine explicit
    * classes, dominance with fixed precedence (the q241 ordered-chain
    * device), then per-script routing — single-script languages map
    * directly (hangul→ko, thai→th, cyrillic→ru, greek→el, arabic→ar,
    * devanagari→hi — script-level labels; a per-language profile set
    * for a multi-language script slots into the same `profiles`
    * relation), the merged CJK class sub-routes on kana presence
    * (any kana → ja, else zh — kana is uniquely Japanese while han is
    * shared), and the Latin arm runs the [[langIdNgram]] trigram
    * classifier, because script alone cannot name a European
    * language. 'und' when no letters land in any class.
    *
    * Scale shape: the count walk and the trigram scan are both
    * map-side scan-speed passes (the trigram profile broadcasts); one
    * doc-keyed join merges the Latin arm's verdict back. */
  def scriptRoutedLangId(docs: DataFrame, idCol: String, textCol: String,
      profiles: DataFrame): DataFrame = {
    val spec = (RouteRanges.map(_._2) :+ KanaRange).mkString(";")
    val withCounts = docs.select(col(idCol), col(textCol),
        call_function("count_ranges", col(textCol), lit(spec)).as("_sc"))
      .select(col(idCol) +: col(textCol) +:
        (RouteRanges.map(_._1) :+ "kana").zipWithIndex.map {
          case (n, i) => element_at(col("_sc"), i + 1).as(s"n_$n")
        }: _*)
    val names = RouteRanges.map(_._1)
    val dominant = names.foldRight(lit("none")) { case (name, els) =>
      when(col(s"n_$name") > 0 && names.filter(_ != name)
        .map(o => col(s"n_$name") >= col(s"n_$o"))
        .reduce(_ && _), lit(name)).otherwise(els)
    }
    // ONE chained projection, ONE scan, ZERO joins: the trigram
    // kernel is plain column expressions since the count_substrs
    // rewrite, so the Latin arm's classifier sits INSIDE a `when`
    // branch of the same projection — only Latin-dominant rows ever
    // run the gram kernel (CaseWhen executes the matched branch
    // value only), and a CJK-heavy corpus pays nothing for it. The
    // first cut of this query joined a separate langIdNgram relation
    // back: three scans re-evaluating the plant each, 3.0 s vs
    // q241's 0.6 at sf0.1 on the identical verdict.
    val profileRows = collectProfiles(profiles)
    val withTri = withCounts.withColumn("script", dominant)
      .withColumn("_cnt", when(col("script") === "latin",
        langIdCounts(lower(col(textCol)), profileRows)))
    val triBest = langIdBestFromCounts(col("_cnt"), profileRows)
    val triLang = when(-triBest.getField("negScore") > 0,
      triBest.getField("lang")).otherwise(lit("und"))
    val lang = when(col("script") === "cjk",
        when(col("n_kana") > 0, lit("ja")).otherwise(lit("zh")))
      .when(col("script") === "hangul", lit("ko"))
      .when(col("script") === "thai", lit("th"))
      .when(col("script") === "cyrillic", lit("ru"))
      .when(col("script") === "greek", lit("el"))
      .when(col("script") === "arabic", lit("ar"))
      .when(col("script") === "devanagari", lit("hi"))
      .when(col("script") === "latin", triLang)
      .otherwise(lit("und"))
    withTri.select(col(idCol), col("script"), lang.as("lang"))
  }

  def scriptDominance(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val t = col(textCol)
    val nChars = length(t)
    // ONE codepoint walk for all seven classes (the native
    // count_ranges expression; the strip-diff form ran seven
    // regexp_replace full-text passes per row — identical counts, the
    // spec string is the same range text so endpoints cannot drift)
    val spec = ScriptRanges.map(_._2).mkString(";")
    val withArr = docs.select(col(idCol),
      nChars.cast("long").as("n_chars"),
      call_function("count_ranges", t, lit(spec)).as("_sc"))
    val withCounts = withArr.select(
      col(idCol) +: col("n_chars") +:
        ScriptRanges.zipWithIndex.map { case ((n, _), i) =>
          element_at(col("_sc"), i + 1).as(s"n_$n")
        }: _*)
    val letterTotal = ScriptRanges.map { case (n, _) => col(s"n_$n") }
      .reduce(_ + _)
    // argmax with fixed precedence: the FIRST listed script holding
    // the (weak) maximum wins — deterministic, mirrored in SQL as the
    // same ordered comparison chain
    val dominant = ScriptRanges.map(_._1).foldRight(lit("none")) {
      case (name, els) =>
        when(col(s"n_$name") > 0 && ScriptRanges.map(_._1)
          .filter(_ != name)
          .map(o => col(s"n_$name") >= col(s"n_$o"))
          .reduce(_ && _), lit(name)).otherwise(els)
    }
    withCounts
      .withColumn("n_letters", letterTotal)
      .withColumn("dominant_script", dominant)
      .withColumn("script_confidence",
        when(col("n_letters") > 0,
          round((ScriptRanges.map { case (n, _) =>
            when(col("dominant_script") === n, col(s"n_$n"))
              .otherwise(lit(0L))
          }.reduce(_ + _).cast("double") /
            col("n_letters").cast("double")).cast("decimal(28,10)"), 6)
            .cast("double")))
  }

  /** HELD-OUT Stupid Backoff trigram LM scoring — the cross-corpus
    * form of [[stupidBackoffScore]] (q158's self-trained scorer) and
    * the shape CCNet actually runs: the LM trains on a CLEAN reference
    * corpus and scores a DIFFERENT corpus (crawl text under a
    * Wikipedia-grade model), so unseen grams genuinely back off
    * (self-scoring can never miss its own trigrams) and true
    * out-of-vocabulary tokens exist. Score S(w|ctx) = count ratio at
    * the longest matched order, backing off with a fixed 0.4 factor
    * per order skipped: S = c3/c2(ctx) if c3>0, else
    * 0.4*c2/c1(prev) if c2>0, else 0.4^2*c1/N. Conventions
    * (documented): tokens at positions 1 and 2 start the chain at
    * their available order WITHOUT penalty (q158's twin skips them
    * instead); OOV tokens (c1 = 0 under the trained model) are
    * counted (`n_oov`) and EXCLUDED from the ln-score sum rather than
    * scored -inf or smoothed — the filter reads both columns.
    *
    * Cross-engine hash stability (the q53/q17 devices): each token's
    * score is literal*(a/b) — correctly-rounded IEEE ops over exact
    * integers with the IDENTICAL expression tree on both engines —
    * `ln` agrees bit-for-bit on identical input, and the per-doc sum
    * runs in DECIMAL(28,10) (double addition is order-dependent under
    * partitioning). Division is always defined: c3>0 implies
    * c2(ctx)>0, c2>0 implies c1(prev)>0, and the unigram branch
    * requires c1>0 (OOV is excluded above).
    *
    * Scale shape: position relations carry (doc, pos, 3 words) — never
    * text; context words come from per-doc lag windows (bounded
    * partitions); the three count tables are train-vocabulary-scale
    * aggregates joined back gram-keyed (shuffled joins, AQE-splittable
    * — a stop-trigram spreads across tasks in a join, unlike a
    * window); N is a 1-row broadcast. This is the Brants et al.
    * argument in plan form: counts + one pass beat a tuned KN at
    * corpus scale. */
  def heldOutBackoffScore(train: DataFrame, trainIdCol: String,
      trainTextCol: String, docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    def positions(d: DataFrame, id: String, text: String): DataFrame = {
      val byDoc = Window.partitionBy(col("_sb_id")).orderBy(col("pos"))
      d.select(col(id).as("_sb_id"),
          posexplode(filter(TextFunctions.tokenize(col(text)),
            w => length(w) > 0)).as(Seq("pos", "w")))
        .withColumn("w1", lag(col("w"), 1).over(byDoc))
        .withColumn("w2", lag(col("w"), 2).over(byDoc))
    }
    // ONE pass over the training corpus: the (w2, w1, w) gram table
    // WITH null contexts kept partitions every token occurrence, so
    // every lower order is a cheap re-aggregate of the checkpointed
    // vocabulary-scale table — without the reuse point, each count
    // table (plus nTotal and both unigram join sides) would
    // re-tokenize and re-window the whole training corpus as its own
    // plan subtree (six subtrees in the joined plan).
    val grams = positions(train, trainIdCol, trainTextCol)
      .groupBy(col("w2"), col("w1"), col("w"))
      .agg(count(lit(1)).as("_c"))
      .localCheckpoint(true)
    val uni = grams.groupBy(col("w")).agg(sum(col("_c")).as("c1"))
    val bi = grams.filter(col("w1").isNotNull)
      .groupBy(col("w1"), col("w")).agg(sum(col("_c")).as("c2"))
    val tri = grams.filter(col("w2").isNotNull)
      .select(col("w2"), col("w1"), col("w"), col("_c").as("c3"))
    val nTotal = grams.agg(sum(col("_c")).as("n_corpus"))
    // one join per gram order, each keyed by the exact gram it needs
    val withCounts = positions(docs, idCol, textCol)
      .crossJoin(broadcast(nTotal))
      .join(uni, Seq("w"), "left")
      .join(uni.select(col("w").as("w1"), col("c1").as("c1_prev")),
        Seq("w1"), "left")
      .join(bi.select(col("w1"), col("w"), col("c2")),
        Seq("w1", "w"), "left")
      .join(bi.select(col("w1").as("w2"), col("w").as("w1"),
        col("c2").as("c2_ctx")), Seq("w2", "w1"), "left")
      .join(tri, Seq("w2", "w1", "w"), "left")
    val c1 = col("c1").cast("double")
    val n = col("n_corpus").cast("double")
    val score =
      when(col("w1").isNull, c1 / n) // position 1: unigram, no penalty
        .when(col("w2").isNull, // position 2: bigram-rooted chain
          when(col("c2").isNotNull,
            col("c2").cast("double") / col("c1_prev").cast("double"))
            .otherwise(lit(0.4) * (c1 / n)))
        .when(col("c3").isNotNull,
          col("c3").cast("double") / col("c2_ctx").cast("double"))
        .when(col("c2").isNotNull,
          lit(0.4) * (col("c2").cast("double") / col("c1_prev").cast("double")))
        .otherwise(lit(0.16) * (c1 / n))
    val order = when(col("c1").isNull, lit(-1L)) // OOV: never scored
      .when(col("w1").isNull || col("w2").isNull, lit(0L))
      .when(col("c3").isNotNull, lit(3L))
      .when(col("c2").isNotNull, lit(2L)).otherwise(lit(1L))
    withCounts
      .select(col("_sb_id"), order.as("_ord"),
        when(order =!= -1L, log(score).cast("decimal(28,10)")).as("_ln"))
      .groupBy(col("_sb_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("_ord") === -1L, 1L).otherwise(0L)).as("n_oov"),
        sum(when(col("_ord") === 3L, 1L).otherwise(0L)).as("n_tri_hits"),
        sum(when(col("_ord") === 2L, 1L).otherwise(0L)).as("n_bi_backoffs"),
        sum(when(col("_ord") === 1L, 1L).otherwise(0L)).as("n_uni_backoffs"),
        sum(col("_ln")).as("_sum"))
      .select(col("_sb_id").as(idCol), col("n_tokens"), col("n_oov"),
        col("n_tri_hits"), col("n_bi_backoffs"), col("n_uni_backoffs"),
        round(coalesce(col("_sum"), lit(0).cast("decimal(28,10)")), 6)
          .cast("double").as("sum_logscore"),
        when(col("n_tokens") - col("n_oov") > 0,
          dec6(coalesce(col("_sum"), lit(0).cast("decimal(28,10)"))
            .cast("double") /
            (col("n_tokens") - col("n_oov")).cast("double")))
          .as("avg_logscore"))
  }

  /** Interpolated Kneser-Ney bigram LM, held out — the smoothing
    * KenLM/CCNet actually ship (q240's Stupid Backoff is the cheap
    * approximation; KN replaces the ad-hoc 0.4 penalty with an
    * absolute discount D redistributed over CONTINUATION counts:
    * P(w|v) = (c(v,w) − D)₊/c(v) + D·N1+(v·)/c(v) · N1+(·w)/N1+(··),
    * and P_cont(w) = N1+(·w)/N1+(··) when the context is unseen).
    * D = 3/4 exactly, so every term is a ratio of exact int64s:
    * (c(vw) − 3/4)/c(v) = (4·c(vw) − 3)/(4·c(v)) — the float tree per
    * branch is IDENTICAL on both engines (three correctly-rounded
    * divides, one multiply, one add), then ONE ln (bit-identical on
    * identical input — the q17/q53 device) summed in DECIMAL(28,10).
    *
    * Vocabulary = the continuation vocabulary {w : N1+(·w) ≥ 1}; a
    * token outside it lands in the OOV ledger, never scored
    * (documented: a word seen ONLY document-initially in training has
    * no continuation count and is OOV here). Training is one gram
    * pass into a bigram-TYPE-cardinality relation; every model table
    * (context totals, fan-outs, continuation counts, the N1+(··)
    * scalar) re-aggregates from that checkpoint; scoring is three
    * hash joins keyed by the exact gram each needs. */
  def kneserNeyScore(train: DataFrame, trainIdCol: String,
      trainTextCol: String, docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    def positions(d: DataFrame, id: String, text: String): DataFrame = {
      val byDoc = Window.partitionBy(col("_sb_id")).orderBy(col("pos"))
      d.select(col(id).as("_sb_id"),
          posexplode(filter(TextFunctions.tokenize(col(text)),
            w => length(w) > 0)).as(Seq("pos", "w")))
        .withColumn("w1", lag(col("w"), 1).over(byDoc))
    }
    // ONE training pass → the bigram type/count table; checkpointed so
    // the four model relations below re-aggregate it instead of each
    // re-tokenizing the corpus as its own plan subtree
    val bi = positions(train, trainIdCol, trainTextCol)
      .filter(col("w1").isNotNull)
      .groupBy(col("w1"), col("w")).agg(count(lit(1)).as("c2"))
      .localCheckpoint(true)
    val ctx = bi.groupBy(col("w1"))
      .agg(sum(col("c2")).as("cctx"), count(lit(1)).as("n1fwd"))
    val contw = bi.groupBy(col("w")).agg(count(lit(1)).as("contw"))
    val nbt = bi.agg(count(lit(1)).as("nbt"))
    val sp = positions(docs, idCol, textCol)
      .crossJoin(broadcast(nbt))
      .join(contw, Seq("w"), "left")
      .join(ctx, Seq("w1"), "left")
      .join(bi, Seq("w1", "w"), "left")
    val pcont = col("contw").cast("double") / col("nbt").cast("double")
    val term1 = when(col("c2").isNotNull,
      (lit(4L) * col("c2") - lit(3L)).cast("double") /
        (lit(4L) * col("cctx")).cast("double")).otherwise(lit(0.0))
    val term2 = (lit(3L) * col("n1fwd")).cast("double") /
      (lit(4L) * col("cctx")).cast("double") * pcont
    val score = when(col("w1").isNull || col("cctx").isNull, pcont)
      .otherwise(term1 + term2)
    val order = when(col("contw").isNull, lit(-1L)) // OOV: never scored
      .when(col("w1").isNull || col("cctx").isNull, lit(0L))
      .when(col("c2").isNotNull, lit(2L)).otherwise(lit(1L))
    sp.select(col("_sb_id"), order.as("_ord"),
        when(order =!= -1L, log(score).cast("decimal(28,10)")).as("_ln"))
      .groupBy(col("_sb_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("_ord") === -1L, 1L).otherwise(0L)).as("n_oov"),
        sum(when(col("_ord") === 2L, 1L).otherwise(0L)).as("n_bi_hits"),
        sum(when(col("_ord") === 1L, 1L).otherwise(0L)).as("n_interp"),
        sum(when(col("_ord") === 0L, 1L).otherwise(0L)).as("n_cont_only"),
        sum(col("_ln")).as("_sum"))
      .select(col("_sb_id").as(idCol), col("n_tokens"), col("n_oov"),
        col("n_bi_hits"), col("n_interp"), col("n_cont_only"),
        round(coalesce(col("_sum"), lit(0).cast("decimal(28,10)")), 6)
          .cast("double").as("sum_logscore"),
        when(col("n_tokens") - col("n_oov") > 0,
          dec6(coalesce(col("_sum"), lit(0).cast("decimal(28,10)"))
            .cast("double") /
            (col("n_tokens") - col("n_oov")).cast("double")))
          .as("avg_logscore"))
  }

  /** Per-document deflate compression ratio — the Dolma/Gopher
    * companion quality signal the heuristic battery lacked: machine-
    * generated or boilerplate-looping documents compress far below
    * natural text, while near-random/encoded blobs barely compress at
    * all, so `deflate_bytes / raw_bytes` separates both tails with one
    * number no token heuristic sees. JDK `Deflater` at a PINNED level
    * with the raw (nowrap) stream — one deflater per partition, reset
    * per row, `end()` on task completion (the pooled-codec contract) —
    * so the byte counts are deterministic for a fixed JDK; the ratio
    * itself is emitted relationally via the decimal-round device.
    * Scale shape: batched map-side kernel, text never shuffles, one
    * fixed-width row leaves per document. */
  /** Invisible-character tables for [[sanitizeUnicode]] — explicit
    * enumerations (the ScriptRanges discipline: never named Unicode
    * properties). DELETED: zero-width space/non-joiner/joiner, word
    * joiner, stray BOM, soft hyphen — invisible JOINERS whose removal
    * re-fuses the word ("a​b" is one word to a human and must be
    * one token). SPACED: C0 controls except tab/LF/CR (NUL excluded —
    * left untouched and countable, SQL literals cannot carry it) plus
    * DEL, and the Unicode space family (NBSP, en/em/thin/… U+2000–
    * U+200A, narrow NBSP, math space, ideographic space) — layout
    * characters that separate words and must keep separating them
    * after normalization. */
  val ZeroWidthDeleteChars: String =
    "\u200B\u200C\u200D\u2060\uFEFF\u00AD"
  val ControlToSpaceChars: String =
    ((0x01 to 0x08) ++ Seq(0x0B, 0x0C) ++ (0x0E to 0x1F) ++ Seq(0x7F))
      .map(_.toChar).mkString
  val UnicodeSpaceChars: String =
    "\u00A0" + (0x2000 to 0x200A).map(_.toChar).mkString +
      "\u202F\u205F\u3000"

  /** Unicode sanitization — the web-text normalization stage ahead of
    * tokenization/dedup: ONE `translate` pass maps every control and
    * Unicode-space character to a plain ASCII space and DELETES the
    * zero-width/soft-hyphen set (translate drops characters beyond the
    * replacement string's length — identical Postgres-lineage
    * semantics in Spark and DuckDB, which is what makes the oracle a
    * verbatim replay), plus one `count_ranges` walk for the per-class
    * ledger. Invisible characters are a classic dedup/exact-match
    * poison (two visually identical documents hashing apart on a
    * ZWSP) and a token-statistics poison (NBSP glueing words); the
    * ledger quantifies both before the rewrite discards the evidence.
    * Pure scan projection — no shuffle, nothing but counts and one
    * md5 leave the scan. */
  def sanitizeUnicode(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val from = ControlToSpaceChars + UnicodeSpaceChars + ZeroWidthDeleteChars
    val to = " " * (ControlToSpaceChars.length + UnicodeSpaceChars.length)
    def cls(chars: String): String =
      chars.map(c => f"\\u${c.toInt}%04X").mkString
    val spec = Seq(ZeroWidthDeleteChars, ControlToSpaceChars,
      UnicodeSpaceChars).map(cls).mkString(";")
    val clean = translate(col(textCol), from, to)
    docs.select(col(idCol),
        length(col(textCol)).cast("long").as("n_before"),
        call_function("count_ranges", col(textCol), lit(spec)).as("_sc"),
        clean.as("_clean"))
      .select(col(idCol),
        element_at(col("_sc"), 1).as("n_zero_width"),
        element_at(col("_sc"), 2).as("n_controls"),
        element_at(col("_sc"), 3).as("n_uni_spaces"),
        col("n_before"),
        length(col("_clean")).cast("long").as("n_after"),
        md5(col("_clean")).as("clean_md5"))
  }

  def compressionRatio(docs: DataFrame, idCol: String, textCol: String,
      level: Int = 6): DataFrame = {
    require(level >= 0 && level <= 9,
      "compressionRatio: level must be in [0, 9]")
    val in = docs.select(col(idCol), col(textCol))
    val outSchema = StructType(Seq(in.schema.head,
      StructField("n_raw_bytes", LongType, nullable = false),
      StructField("n_deflate_bytes", LongType, nullable = false)))
    in.mapPartitions { rows =>
      val d = new java.util.zip.Deflater(level, true)
      Option(org.apache.spark.TaskContext.get()).foreach(
        _.addTaskCompletionListener[Unit](_ => d.end()))
      val buf = new Array[Byte](8192)
      rows.map { r =>
        val bytes =
          if (r.isNullAt(1)) Array.empty[Byte]
          else r.getString(1).getBytes("UTF-8")
        d.reset()
        d.setInput(bytes)
        d.finish()
        var total = 0L
        while (!d.finished()) total += d.deflate(buf)
        Row(r.get(0), bytes.length.toLong, total)
      }
    }(Encoders.row(outSchema))
      .select(col(idCol), col("n_raw_bytes"), col("n_deflate_bytes"),
        when(col("n_raw_bytes") === 0L, lit(null).cast("double"))
          .otherwise(dec6(col("n_deflate_bytes").cast("double") /
            col("n_raw_bytes").cast("double"))).as("ratio"))
  }

  /** Term/phrase blocklist filter — the C4 "bad words" stage (drop any
    * document containing a blocklisted term or phrase): occurrence
    * counts per document for a broadcast unigram term list and a
    * broadcast space-joined phrase list (bigrams via the shared
    * [[TextFunctions.shingles]] device), plus the drop verdict. The
    * full audit ledger (counts, not just the flag) — what a filter-rate
    * report reads.
    *
    * Scale shape: both lists are bounded → broadcast; hits are
    * map-side explode+join with map-side-combined per-doc counts; only
    * (id, count) pairs shuffle. */
  def blocklistFilter(docs: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], phrases: Seq[String]): DataFrame = {
    require(terms.nonEmpty || phrases.nonEmpty,
      "blocklistFilter: need at least one term or phrase")
    val spark = docs.sparkSession
    import spark.implicits._
    val toks = docs.select(col(idCol), TextFunctions.tokenize(col(textCol)).as("t"))
    val uniHits = toks
      .select(col(idCol),
        explode(filter(col("t"), w => length(w) > 0)).as("w"))
      .join(broadcast(terms.toDF("w")), Seq("w"))
      .groupBy(col(idCol)).agg(count(lit(1)).as("_uh"))
    val phraseHits = toks
      .select(col(idCol),
        explode(TextFunctions.shingles(col("t"), 2)).as("p"))
      .join(broadcast(phrases.toDF("p")), Seq("p"))
      .groupBy(col(idCol)).agg(count(lit(1)).as("_ph"))
    docs.select(col(idCol))
      .join(uniHits, Seq(idCol), "left")
      .join(phraseHits, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("_uh"), lit(0L)).as("n_term_hits"),
        coalesce(col("_ph"), lit(0L)).as("n_phrase_hits"),
        (coalesce(col("_uh"), lit(0L)) +
          coalesce(col("_ph"), lit(0L)) > 0).as("blocked"))
  }

  /** WITHIN-document duplicate-line removal — the Gopher/C4-adjacent
    * cleaner [[boilerplateRemove]] does not cover (that one deletes
    * lines recurring ACROSS ≥ minDocs documents; this one deletes a
    * line's repeats inside its own document, first occurrence kept):
    * repeated navigation/footer lines inside one crawled page are the
    * classic case. Emits per doc the line counts and the md5 of the
    * kept lines re-joined in order.
    *
    * Scale shape: one (doc, line)-keyed rank window — the occurrence
    * relation is line-cardinality, text moves once into the window and
    * once out through the doc-keyed re-aggregate; the collect_list
    * reassembly is per-document (bounded by a document's line count),
    * never corpus-wide. */
  def dupLineRemove(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val lines = docs.select(col(idCol),
      posexplode(split(col(textCol), "\n")).as(Seq("pos", "line")))
    val occ = Window.partitionBy(col(idCol), col("line"))
      .orderBy(col("pos"))
    lines.withColumn("_occ", row_number().over(occ))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("_occ") > 1, 1L).otherwise(0L)).as("n_dup_lines"),
        md5(array_join(transform(
          array_sort(collect_list(when(col("_occ") === 1,
            struct(col("pos"), col("line"))))),
          x => x.getField("line")), "\n")).as("clean_md5"))
      .select(col(idCol), col("n_lines"), col("n_dup_lines"),
        (col("n_lines") - col("n_dup_lines")).as("n_lines_after"),
        col("clean_md5"))
  }

  /** Duplicate-substring REMOVAL at arbitrary boundaries — the rewrite
    * half of Lee et al. 2022's ExactSubstr dedup, completing
    * [[dupSpanCoverage]] (which only reports coverage) and
    * [[chunkDedupRewrite]] (whose removal boundaries are fixed chunk
    * edges): every token position covered by ANY k-token window whose
    * content recurs in ≥ minDocs distinct documents is deleted, and
    * the surviving segments are spliced back in canonical token space
    * (lower-cased, single-spaced), pinned by md5. Unlike the chunk
    * form, removal boundaries fall exactly where duplication starts
    * and ends. Within-document repeats alone do NOT trigger removal
    * (cross-document form; minDocs counts distinct docs — the
    * [[dupSpanCoverage]] rule).
    *
    * Scale shape — the q80 rewrite discipline end to end: the window
    * relation is one row per corpus token, read ONCE through the
    * dense_rank distinct-count device (never materialized, never
    * self-joined); duplicated window STARTS then merge to covered
    * INTERVALS relationally (lag-gap flag + running interval id — the
    * q151 union device), so the per-doc splice list is
    * duplicate-region-bounded like q80's chunk-drop list, never
    * per-token; the interval list joins back id-keyed and ONE
    * map-side kernel deletes the ranges in-row. Document text never
    * crosses an exchange. */
  def dupSpanRewrite(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 5, minDocs: Int = 2,
      hotCap: Int = DefaultHotOccupancy): DataFrame = {
    require(k >= 2 && minDocs >= 2,
      "dupSpanRewrite: k and minDocs must be >= 2")
    val wins = spanWindows(docs, idCol, textCol, k)
    val starts = duplicatedStarts(wins, minDocs, hotCap, "dupSpanRewrite")
    spliceFromStarts(docs, idCol, textCol, k, starts)
  }

  /** Decontamination REWRITE — the removal form of [[Dedup
    * .decontaminate]] (which only FLAGS): every corpus token position
    * covered by a k-gram that appears ANYWHERE in the eval set is
    * deleted and the survivors spliced (the GPT-3 appendix-C /
    * Lee et al. surgical option: keep the document, excise the leaked
    * span, instead of dropping whole contaminated documents). Same
    * splice kernel and guarantees as [[dupSpanRewrite]].
    *
    * Scale shape: eval-side fingerprints are an eval-sized relation
    * (bounded — eval sets are small by definition); the corpus window
    * relation joins it on fp with map-side semi-join semantics, then
    * everything follows the dupSpanRewrite interval path. Corpus text
    * never shuffles. */
  def decontaminateRewrite(corpus: DataFrame, idCol: String,
      textCol: String, evalSet: DataFrame, evalIdCol: String,
      evalTextCol: String, k: Int = 5): DataFrame = {
    require(k >= 2, "decontaminateRewrite: k must be >= 2")
    val evalFps = spanWindows(evalSet, evalIdCol, evalTextCol, k)
      .select(col("fp")).distinct()
    val starts = spanWindows(corpus, idCol, textCol, k)
      .join(evalFps, Seq("fp"), "left_semi")
      .select(col("doc_id"), col("s"))
    spliceFromStarts(corpus, idCol, textCol, k, starts)
  }

  /** One row per k-token window start: (doc_id, s 1-based, fp = md5 of
    * the space-joined window) — shared by the span-removal family. */
  private def spanWindows(docs: DataFrame, idCol: String,
      textCol: String, k: Int): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        TextFunctions.tokenize(col(textCol)).as("t"))
      .select(col("doc_id"), col("t"),
        size(col("t")).cast("long").as("n_tokens"))
      .filter(col("n_tokens") >= k)
      .select(col("doc_id"),
        explode(sequence(lit(1L), col("n_tokens") - (k - 1))).as("s"),
        col("t"))
      .select(col("doc_id"), col("s"),
        md5(array_join(slice(col("t"), col("s").cast("int"), lit(k)), " "))
          .as("fp"))

  /** Covered-window starts → merged intervals → map-side splice (the
    * [[dupSpanRewrite]] body from the starts relation down). */
  private def spliceFromStarts(docs: DataFrame, idCol: String,
      textCol: String, k: Int, starts: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("s"))
    // covered starts → merged covered intervals [lo, hi]
    // (1-based, inclusive): a start within k of its predecessor extends
    // the current interval, else opens a new one
    val iv = starts
      .withColumn("_new",
        when(lag(col("s"), 1).over(w).isNull ||
          col("s") - lag(col("s"), 1).over(w) > k, 1L).otherwise(0L))
      .withColumn("_iid", sum(col("_new")).over(w))
      .groupBy(col("doc_id"), col("_iid"))
      .agg(min(col("s")).as("lo"), (max(col("s")) + (k - 1)).as("hi"))
    val ivs = iv.groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("lo"), col("hi"))))
        .as("_iv"))
    val in = docs.select(col(idCol), col(textCol))
      .join(ivs.withColumnRenamed("doc_id", idCol), Seq(idCol), "left")
    val outSchema = StructType(Seq(in.schema.head,
      StructField("n_tokens", LongType, nullable = false),
      StructField("n_removed", LongType, nullable = false),
      StructField("n_after", LongType, nullable = false),
      StructField("n_segments", LongType, nullable = false),
      StructField("clean_md5", StringType, nullable = true)))
    in.mapPartitions { rows =>
      val md = java.security.MessageDigest.getInstance("MD5")
      rows.map { r =>
        // split limit -1: keep trailing empties — the Column tokenize's
        // exact kernel twin (the chunkDedupRewrite note)
        val toksArr: Array[String] =
          if (r.isNullAt(1)) Array("")
          else r.getString(1).toLowerCase(java.util.Locale.ROOT)
            .split("[ \\t\\n\\f\\r]+", -1)
        val n = toksArr.length
        val ivSeq: Seq[(Long, Long)] =
          if (r.isNullAt(2)) Seq.empty
          else r.getSeq[Row](2).map(x => (x.getLong(0), x.getLong(1)))
        val covered = new Array[Boolean](n)
        var removed = 0L
        ivSeq.foreach { case (lo, hi) =>
          var p = (lo - 1).toInt // 1-based → 0-based
          val end = math.min(hi.toInt, n)
          while (p < end) {
            if (!covered(p)) { covered(p) = true; removed += 1 }
            p += 1
          }
        }
        val sb = new java.lang.StringBuilder
        var kept = 0L
        var segs = 0L
        var inSeg = false
        var i = 0
        while (i < n) {
          if (!covered(i)) {
            if (!inSeg) { segs += 1; inSeg = true }
            if (kept > 0) sb.append(' ')
            sb.append(toksArr(i))
            kept += 1
          } else inSeg = false
          i += 1
        }
        val hash = if (kept == 0) null else {
          md.reset()
          md.digest(sb.toString.getBytes("UTF-8"))
            .map("%02x".format(_)).mkString
        }
        Row(r.get(0), n.toLong, removed, kept, segs, hash)
      }
    }(Encoders.row(outSchema))
      .toDF(idCol, "n_tokens", "n_removed", "n_after", "n_segments",
        "clean_md5")
  }

  /** Cross-document duplicated-substring detection (the Lee et al. 2022
    * "Deduplicating Training Data" signal at fingerprint granularity):
    * a document's winnowing fingerprints ([[winnowFingerprints]])
    * deterministically cover its k-gram substrings, so a fingerprint
    * appearing in ≥ 2 documents witnesses a shared substring; the
    * per-document shared fraction ranks boilerplate/template-heavy
    * documents for span-level dedup.
    *
    * Scale shape: fingerprinting is per-row scan work; afterwards only
    * (doc_id, fp) pairs — 8-byte keys, never text — shuffle: one hash
    * aggregate to fingerprint granularity, one equi-join back, one
    * doc-keyed rollup. Fingerprint-key multiplicity is true duplication
    * multiplicity (same no-pathological-skew argument as chunk dedup). */
  def sharedSubstringStats(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 5, w: Int = 4): DataFrame = {
    // materialize the fingerprint relation once: it feeds the shared-fp
    // aggregate, the per-doc join AND the final rollup — unchecked, the
    // mapPartitions winnowing kernel would run three times (production
    // stores fingerprints once and serves every consumer from them)
    val fps = winnowFingerprints(docs, idCol, textCol, k, w)
      .select(col(idCol), col("n_fps"), col("fps_csv"))
      .localCheckpoint()
    // n_fps = 0 ⇒ fps_csv = "" ⇒ split yields [""]; the filter drops it
    val owners = fps
      .select(col(idCol),
        explode(filter(split(col("fps_csv"), ","), s => s =!= ""))
          .as("fp"))
    // fingerprints are distinct per doc ⇒ count(*) = owning-doc count
    val sharedFps = owners.groupBy(col("fp"))
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= 2)
      .select(col("fp"))
    val perDoc = owners.join(sharedFps, "fp")
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_shared"))
    fps.select(col(idCol), col("n_fps"))
      .join(perDoc, Seq(idCol), "left")
      .select(col(idCol), col("n_fps"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        when(col("n_fps") > 0,
          coalesce(col("n_shared"), lit(0L)).cast("double") /
            col("n_fps").cast("double"))
          .otherwise(lit(0.0)).as("shared_frac"))
  }

  /** BM25 retrieval scoring against a fixed query-term set (Lucene's
    * idf variant) — the ranking half of retrieval-based corpus curation
    * (finding documents "about" a topic for targeted mixing, eval-set
    * construction, or retrieval-augmented filtering).
    *
    * score(d) = Σ_{t ∈ terms} idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)),
    * idf(t) = ln((N − df + 0.5)/(df + 0.5) + 1).
    *
    * Scale shape: the query-term filter lands BEFORE the only corpus
    * shuffle, so the (doc, term) aggregate sees query-term hits only —
    * typically a vanishing fraction of the corpus token stream. Document
    * length rides the explode as a constant grouping key (no second join
    * against a corpus-sized relation); df (≤ |terms| rows) and the 1-row
    * corpus stats broadcast back. Only docs hitting ≥1 term are emitted.
    *
    * Float discipline: ln/·// on bit-identical operands are bit-identical
    * across engines; only the final per-doc Σ is order-dependent, so it
    * runs as exact DECIMAL and rounds in the decimal domain (house rule,
    * see CoreQueries.dsum). */
  def bm25(docs: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "bm25: at least one query term")
    val toks = TextFunctions.tokenize(col(textCol))
    val hits = docs.select(col(idCol), size(toks).cast("long").as("dl"),
        explode(toks).as("token"))
      .filter(col("token").isin(terms: _*))
    val tf = hits.groupBy(col(idCol), col("dl"), col("token"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val stats = docs.agg(count(lit(1)).as("n_docs"),
      sum(size(toks).cast("long")).as("sum_dl"))
    val perTerm = tf.join(broadcast(df), "token")
      .crossJoin(broadcast(stats))
      .select(col(idCol), col("tf"),
        (log((col("n_docs").cast("double") - col("df").cast("double") + lit(0.5)) /
             (col("df").cast("double") + lit(0.5)) + lit(1.0)) *
         (col("tf").cast("double") * lit(k1 + 1.0)) /
         (col("tf").cast("double") + lit(k1) *
           (lit(1.0 - b) + lit(b) * (col("dl").cast("double") /
             (col("sum_dl").cast("double") / col("n_docs").cast("double"))))))
          .cast("decimal(28,10)").as("term_score"))
    perTerm.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_terms_hit"), sum(col("tf")).as("sum_tf"),
        round(sum(col("term_score")), 6).cast("double").as("bm25"))
  }

  /** PMI co-occurrence — collocation extraction (word-association mining,
    * phrase detection for tokenizer/vocab construction, topic seeding).
    * For each ordered token pair (a, b) with b within `window` tokens
    * after a: pmi = ln( (c_ab/Tpairs) / ((c_a/Ttok)·(c_b/Ttok)) ).
    *
    * Pairs generate inside the row via higher-order functions (transform
    * over the token array × a sliced lookahead) — no positions self-join,
    * no join at all until the vocabulary-sized aggregates. The one corpus
    * shuffle is the (a, b) count with map-side combine; key cardinality
    * is co-occurring-vocab², which `minCount` bounds before the joins
    * (rare pairs dominate that tail — standard collocation practice).
    * Unigram counts and both 1-row totals broadcast.
    *
    * Hash discipline: each pmi is ONE ln over bit-identical double
    * ratios — no order-dependent summation anywhere — so the value is
    * engine-stable after decimal-domain rounding. */
  def pmiCooccurrence(docs: DataFrame, idCol: String, textCol: String,
      window: Int = 2, minCount: Long = 1L): DataFrame = {
    require(window >= 1, "pmiCooccurrence: window must be >= 1")
    val t = TextFunctions.tokenize(col(textCol))
    // Pairs generate via two chained position explodes + element_at in
    // fused projections — whole-stage codegen end to end. The nested
    // transform-lambda formulation (build pair structs in-row, then
    // explode) ran the array builders interpreted, the same trap the
    // q34 gram builder documented; positions explode keeps the token
    // array un-copied per pair row (Generate + Project fuse).
    val pairsAll = docs.select(t.as("_t"))
      .select(col("_t"), explode(
        when(size(col("_t")) >= 2, sequence(lit(1), size(col("_t")) - 1))
          .otherwise(array().cast("array<int>"))).as("_i"))
      .select(col("_t"), col("_i"), explode(
        sequence(lit(1), least(lit(window), size(col("_t")) - col("_i"))))
        .as("_j"))
      .select(element_at(col("_t"), col("_i")).as("a"),
        element_at(col("_t"), col("_i") + col("_j")).as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("c_ab"))
    val pairs = pairsAll.filter(col("c_ab") >= minCount)
    val uni = docs.select(explode(t).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c"))
    val totTok = uni.agg(sum(col("c")).as("t_tok"))
    // totals derive from the COMPACT aggregated relations, never from a
    // second corpus explode; the pair exchange serves both consumers
    // (ReusedExchange in the plan), so pair generation runs once
    val totPair = pairsAll.agg(sum(col("c_ab")).as("t_pair"))
    pairs
      .join(broadcast(uni.select(col("tok").as("a"), col("c").as("c_a"))), "a")
      .join(broadcast(uni.select(col("tok").as("b"), col("c").as("c_b"))), "b")
      .crossJoin(broadcast(totTok)).crossJoin(broadcast(totPair))
      .select(col("a"), col("b"), col("c_ab"), col("c_a"), col("c_b"),
        dec6(log(
          (col("c_ab").cast("double") / col("t_pair").cast("double")) /
          ((col("c_a").cast("double") / col("t_tok").cast("double")) *
           (col("c_b").cast("double") / col("t_tok").cast("double")))))
          .as("pmi"))
  }

  /** Vocabulary coverage curve — the tokenizer-sizing diagnostic: what
    * fraction of ALL token occurrences do the top-k most frequent
    * tokens cover, at the standard cut points? (The curve's knee is
    * where growing the vocabulary stops paying; its complement is the
    * OOV rate a k-entry vocab would leave.)
    *
    * Scale shape: consumes the (doc, token, tf) relation
    * ([[termFrequencies]] — the shared materialized form), re-aggregated
    * to TOKEN granularity and ranked by [[Ranks.bucketedGlobalRank]]
    * with the string-prefix tie proxy — "vocabulary ≪ corpus" stops
    * being a single-task-sort excuse at the 100-TB north star (Heaps'
    * law puts a web corpus at 10⁸–10⁹ types), and token counts are
    * Zipf (count=1 alone is ~60% of types — Lotka), which is exactly
    * the tie-heavy case the proxy subdivides. The running sum at each
    * cut point is re-expressed as sum(c) over rank ≤ cut — a broadcast
    * non-equi join against the |cutPoints|-bounded cut relation +
    * a grouped aggregate; exact long arithmetic, order-independent,
    * identical to the prefix sum at the cut. Cut points past the
    * vocabulary end stay absent (the cut relation is probed from
    * ranks that exist, preserving the filter-at-rank form's
    * behavior). Coverage is one IEEE divide of exact integer
    * operands — bit-stable across engines. */
  def vocabCoverageFromTf(tf: DataFrame, cutPoints: Seq[Int]): DataFrame = {
    require(cutPoints.nonEmpty, "vocabCoverage: need at least one cut point")
    // vocabulary-sized; checkpointed because the rank device makes
    // multiple passes (sub-bucket stats, histogram, rank join)
    val tok = tf.groupBy(col("token")).agg(sum(col("tf")).as("c"))
      .withColumn("_neg", -col("c"))
      .withColumn("_tp", Ranks.stringPrefixProxy(col("token")))
      .localCheckpoint(true)
    val maxRow = tok.agg(max(col("c"))).head()
    val maxC = if (maxRow.isNullAt(0)) 1L else maxRow.getLong(0)
    val ranked = Ranks.bucketedGlobalRank(
        tok.withColumn("_zb", Ranks.zipfCountBuckets(col("c"), maxC)),
        "_neg", "token", "k",
        tieProxyCol = Some("_tp"), bucketCol = Some("_zb"))
      .drop("_neg", "_tp", "_zb")
      .localCheckpoint(true) // consumed by the total, the cut probe, and the covered sums
    val total = ranked.agg(sum(col("c")).as("total"))
    val atCuts = ranked.filter(col("k").isin(cutPoints.map(_.toLong): _*))
      .select(col("k").as("_cut"))
    ranked.join(broadcast(atCuts), col("k") <= col("_cut"))
      .groupBy(col("_cut"))
      .agg(sum(col("c")).as("covered"))
      .crossJoin(broadcast(total))
      .select(col("_cut").as("k"), col("covered").cast("long").as("covered"),
        col("total").cast("long").as("total"),
        (col("covered").cast("double") / col("total").cast("double"))
          .as("coverage"))
  }

  /** C4-style line-level cleaning (Raffel et al., the standard web-corpus
    * pre-filter): a document's text is split into newline-delimited
    * lines; a line SURVIVES iff it ends in terminal punctuation
    * (`.` / `!` / `?`) and carries at least `minWords` whitespace words;
    * the document itself is kept iff at least `minKeptLines` lines
    * survive. Emitted per doc: line counts, surviving character count,
    * and the md5 of the cleaned text (surviving lines re-joined with
    * `\n`; null when nothing survives) so the rewrite is pinned
    * byte-exactly.
    *
    * Implementation: a single mapPartitions kernel — line split, word
    * count, rule check and md5 are per-row Scala on the partition
    * iterator, the same no-shuffle shape as [[winnowFingerprints]]
    * (a higher-order-function form would run interpreted per element,
    * and an explode → re-aggregate form would shuffle every surviving
    * line's text; the kernel does neither). Scan-bound and
    * embarrassingly parallel at any corpus size; only fixed-width
    * counters and one hash leave the partition. */
  def c4LineClean(docs: DataFrame, idCol: String, textCol: String,
      minWords: Int = 5, minKeptLines: Int = 3): DataFrame = {
    require(minWords >= 1 && minKeptLines >= 1,
      "c4LineClean: minWords and minKeptLines must be >= 1")
    val in = docs.select(col(idCol), col(textCol))
    val outSchema = StructType(Seq(in.schema.head,
      StructField("n_lines", LongType, nullable = false),
      StructField("n_kept", LongType, nullable = false),
      StructField("kept_chars", LongType, nullable = false),
      StructField("clean_hash", StringType, nullable = true),
      StructField("keep_doc", BooleanType, nullable = false)))
    in.mapPartitions { rows =>
      val md = java.security.MessageDigest.getInstance("MD5")
      rows.map { r =>
        val t = if (r.isNullAt(1)) "" else r.getString(1)
        var nLines = 0L
        var nKept = 0L
        var keptChars = 0L
        val kept = new java.lang.StringBuilder
        t.split("\n").foreach { raw =>
          val line = raw.trim
          if (line.nonEmpty) {
            nLines += 1
            val last = line.charAt(line.length - 1)
            val terminal = last == '.' || last == '!' || last == '?'
            if (terminal &&
                line.split("[ \\t\\n\\f\\r]+").count(_.nonEmpty) >= minWords) {
              nKept += 1
              keptChars += line.length
              if (kept.length > 0) kept.append('\n')
              kept.append(line)
            }
          }
        }
        val hash = if (nKept == 0L) null else {
          md.reset()
          md.digest(kept.toString.getBytes("UTF-8"))
            .map("%02x".format(_)).mkString
        }
        Row(r.get(0), nLines, nKept, keptChars, hash, nKept >= minKeptLines)
      }
    }(Encoders.row(outSchema))
      .toDF(idCol, "n_lines", "n_kept", "kept_chars", "clean_hash", "keep_doc")
  }

  /** Trending tokens — the streaming face of [[heavyHitters]]: per
    * tumbling event-time window, the token frequency relation (the
    * "what is spiking right now" feed a live ingest pipeline watches).
    * Works on a STREAM (watermarked windowed aggregation, append mode —
    * a window's counts emit once, when the watermark passes its end)
    * and as the identical batch twin on a static frame (withWatermark
    * is a no-op in batch). Per-window top-k ranking runs downstream on
    * the emitted window (a rank inside the streaming aggregation would
    * need update mode; production ranks on read exactly like this).
    *
    * Scale shape: explode + windowed count with map-side partials —
    * state per (window, token) is one long, bounded by
    * vocabulary × windows-inside-watermark. */
  def trendingTokens(docs: DataFrame, tsCol: String, textCol: String,
      windowDur: String = "10 minutes",
      watermark: String = "10 minutes"): DataFrame =
    docs.withWatermark(tsCol, watermark)
      .select(col(tsCol),
        explode(TextFunctions.tokenize(col(textCol))).as("token"))
      .groupBy(window(col(tsCol), windowDur), col("token"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("window_start"), col("token"),
        col("cnt"))

  /** Bigram-LM surprisal — the next step up from [[unigramSurprisal]]'s
    * perplexity proxy (CCNet-style quality filtering scores documents by
    * how unlikely their text is under a corpus-level language model; the
    * bigram model additionally penalizes improbable word ORDER, which a
    * unigram model cannot see).
    *
    * Model: add-one-smoothed conditional p(w2|w1) = (c12+1)/(c1+V) where
    * c12 = corpus count of bigram (w1,w2), c1 = corpus count of w1 as a
    * bigram prefix, V = corpus vocabulary size (the caller passes it as a
    * 1-row `v` relation so a shared term-frequency cache can supply it
    * without re-scanning the corpus). score(doc) = mean over the doc's
    * bigrams of −ln p.
    *
    * Cross-engine discipline (the q53 device): per-bigram surprisals run
    * in the double domain — all ln inputs are exact small integers, so
    * the divide and `ln` are bit-identical across engines — then each is
    * truncated to DECIMAL(18,10) and multiplied by the exact integer
    * per-doc bigram count before the order-independent DECIMAL sum.
    *
    * Scale shape: ONE corpus scan builds the per-doc bigram frequency
    * relation via explode(sequence)+element_at (Generate+Project fuse in
    * whole-stage codegen — a lambda zip would run interpreted); the
    * model relations aggregate FROM it (c12 is observed-bigram-sized,
    * c1 vocabulary-sized). The scoring probe joins the COMPACT per-doc
    * bigram relation, not raw token occurrences. The c12 join is keyed
    * on the bigram (left unhinted so AQE broadcasts it while it fits and
    * falls back to a shuffle join when the observed-bigram vocabulary
    * outgrows memory at corpus scale); c1 and V broadcast always. */
  def bigramSurprisalFromVocab(docs: DataFrame, idCol: String,
      textCol: String, vocabSize: DataFrame): DataFrame = {
    val toks = docs.select(col(idCol),
      TextFunctions.tokenize(col(textCol)).as("_t"))
    val btf = toks.filter(size(col("_t")) >= 2)
      .select(col(idCol),
        explode(sequence(lit(1), size(col("_t")) - 1)).as("_i"), col("_t"))
      .select(col(idCol), element_at(col("_t"), col("_i")).as("w1"),
        element_at(col("_t"), col("_i") + 1).as("w2"))
      .groupBy(col(idCol), col("w1"), col("w2"))
      .agg(count(lit(1)).as("btf"))
      // model estimation AND the scoring probe consume this relation —
      // materialize it or the corpus scan + explode re-executes per
      // consumer (the documented termFrequencies trap)
      .localCheckpoint(true)
    val c12 = btf.groupBy(col("w1"), col("w2")).agg(sum(col("btf")).as("c12"))
    val c1 = c12.groupBy(col("w1")).agg(sum(col("c12")).as("c1"))
    val perBg = btf.join(c12, Seq("w1", "w2"))
      .join(broadcast(c1), Seq("w1"))
      .crossJoin(broadcast(vocabSize))
      .select(col(idCol), col("btf"),
        (log((col("c1") + col("v")).cast("double") /
            (col("c12") + lit(1L)).cast("double"))
          .cast("decimal(18,10)") * col("btf").cast("decimal(10,0)"))
          .as("_surp"))
    perBg.groupBy(col(idCol))
      .agg(sum(col("btf")).as("n_bigrams"), sum(col("_surp")).as("_sum"))
      .select(col(idCol), col("n_bigrams"),
        round(col("_sum"), 6).cast("double").as("sum_surprisal"),
        dec6(col("_sum").cast("double") / col("n_bigrams").cast("double"))
          .as("avg_surprisal"))
  }

  /** Boilerplate line removal — the corpus-frequency flavor of line
    * cleaning (RefinedWeb / Dolma: a line whose EXACT text appears in at
    * least `minDocs` distinct documents is navigation chrome, cookie
    * banners, licence footers — remove EVERY occurrence, unlike
    * [[chunkDedupRewrite]] which keeps the first). Input documents carry
    * newline-delimited lines; `line_id` is the 0-based raw split index.
    * Emitted per doc: non-empty line count, removed count, the cleaned
    * text's length and md5 (kept non-empty lines re-joined with `\n`;
    * null when nothing survives).
    *
    * Scale shape — the q80 rewrite discipline: only (doc, line_id,
    * line_md5) ever shuffles. The document-frequency aggregate is keyed
    * by line hash (cardinality = distinct lines); the boilerplate set it
    * yields is tiny by construction (lines repeated across ≥ minDocs
    * docs) and BROADCASTS back onto the hash relation; the per-doc
    * removal list joins id-keyed; a mapPartitions kernel deletes the
    * listed lines in-row. Line text never crosses an exchange — the
    * explode→filter→string_agg form would shuffle every surviving
    * line's text. */
  def boilerplateRemove(docs: DataFrame, idCol: String, textCol: String,
      minDocs: Int = 3): DataFrame = {
    require(minDocs >= 2, "boilerplateRemove: minDocs must be >= 2")
    val lines = docs
      .select(col(idCol), posexplode(split(col(textCol), "\n"))
        .as(Seq("line_id", "_line")))
      .filter(col("_line") =!= "")
      .select(col(idCol), col("line_id").cast("long").as("line_id"),
        md5(col("_line")).as("_lmd5"))
    val boiler = lines.groupBy(col("_lmd5"))
      .agg(countDistinct(col(idCol)).as("_df"))
      .filter(col("_df") >= minDocs)
      .select(col("_lmd5"))
    val dropped = lines.join(broadcast(boiler), Seq("_lmd5"))
      .groupBy(col(idCol))
      .agg(collect_list(col("line_id")).as("_drop"))
    val in = docs.select(col(idCol), col(textCol))
      .join(dropped, Seq(idCol), "left")
    val outSchema = StructType(Seq(in.schema.head,
      StructField("n_lines", LongType, nullable = false),
      StructField("n_removed", LongType, nullable = false),
      StructField("clean_chars", LongType, nullable = false),
      StructField("clean_md5", StringType, nullable = true)))
    in.mapPartitions { rows =>
      val md = java.security.MessageDigest.getInstance("MD5")
      rows.map { r =>
        val t = if (r.isNullAt(1)) "" else r.getString(1)
        val drop: Set[Long] =
          if (r.isNullAt(2)) Set.empty else r.getSeq[Long](2).toSet
        val raw = t.split("\n", -1)
        var nLines = 0L
        var nRemoved = 0L
        var kept = 0L
        val sb = new java.lang.StringBuilder
        var i = 0
        while (i < raw.length) {
          if (raw(i).nonEmpty) {
            nLines += 1
            if (drop.contains(i.toLong)) nRemoved += 1
            else {
              if (kept > 0) sb.append('\n')
              sb.append(raw(i))
              kept += 1
            }
          }
          i += 1
        }
        val hash = if (kept == 0L) null else {
          md.reset()
          md.digest(sb.toString.getBytes("UTF-8"))
            .map("%02x".format(_)).mkString
        }
        Row(r.get(0), nLines, nRemoved, sb.length.toLong, hash)
      }
    }(Encoders.row(outSchema))
      .toDF(idCol, "n_lines", "n_removed", "clean_chars", "clean_md5")
  }

  /** Heavy hitters — exact top-`k` tokens located by a bounded-memory
    * Misra-Gries sketch pass plus an exact recount of the sketch's
    * candidates (the canonical distributed frequent-items shape:
    * Misra–Gries summaries merge by union, and any token with global
    * frequency above N/(capacity+1) is GUARANTEED to survive in at
    * least one partition's summary, so the candidate union is a
    * superset of every such token — size the capacity so the expected
    * k-th count clears N/(capacity+1) and the result is exact).
    *
    * Scale shape: pass 1 explodes tokens and folds each partition into
    * a ≤ `capacity`-entry summary IN the scan stage (no shuffle; only
    * ≤ capacity candidate tokens per partition leave it). Pass 2
    * re-scans with a broadcast left-semi filter on the candidates — the
    * aggregate's key space is the candidate set, not the vocabulary, so
    * the shuffle is capacity-bounded regardless of corpus size. The
    * final top-k ranks the candidate-sized relation on the exact
    * integer key (cnt DESC, token ASC). A single full groupBy(token)
    * would shuffle the whole vocabulary; the sketch bounds both memory
    * and shuffle at any scale. */
  def heavyHitters(docs: DataFrame, idCol: String, textCol: String,
      capacity: Int = 256, k: Int = 10): DataFrame = {
    require(capacity >= k && k >= 1, "heavyHitters: need capacity >= k >= 1")
    val toks = docs.select(
      explode(TextFunctions.tokenize(col(textCol))).as("token"))
    val candSchema = StructType(Seq(StructField("token", StringType,
      nullable = false)))
    val cands = toks.mapPartitions { rows =>
      val m = new java.util.HashMap[String, Long](capacity * 2)
      rows.foreach { r =>
        val t = r.getString(0)
        val c = m.get(t)
        if (c != 0L || m.containsKey(t)) m.put(t, c + 1L)
        else if (m.size < capacity) m.put(t, 1L)
        else {
          // Misra-Gries decrement step: every tracked count drops by 1
          val it = m.entrySet.iterator
          while (it.hasNext) {
            val e = it.next()
            if (e.getValue == 1L) it.remove() else e.setValue(e.getValue - 1L)
          }
        }
      }
      scala.jdk.CollectionConverters.SetHasAsScala(m.keySet).asScala
        .iterator.map(Row(_))
    }(Encoders.row(candSchema)).distinct()
    val exact = toks.join(broadcast(cands), Seq("token"), "left_semi")
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
    val w = Window.orderBy(col("cnt").desc, col("token").asc)
    exact.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("rank"), col("token"), col("cnt"))
  }

  /** Exact-quota stratified sampling — [[sampleMix]]'s fixed-COUNT
    * counterpart: exactly min(quota, |group|) documents per group,
    * picked in deterministic hash order (fingerprint(salt:id), id) —
    * the reproducible replacement for per-stratum
    * `ORDER BY rand() LIMIT n` (stable under repartitioning, retries,
    * engine choice; different salts give independent draws).
    *
    * Shape: one exchange keyed by the group, per-group rank window
    * (the q62 sort, partitioned — it spills, parallelism = |groups|),
    * map-side hash. `pick_order` is emitted so a later smaller quota
    * is a pure filter over the same output. */
  def stratifiedSample(docs: DataFrame, idCol: String, groupCol: String,
      quota: Int, salt: String = "strata"): DataFrame = {
    require(quota >= 1, "stratifiedSample: quota must be >= 1")
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col("_k").asc, col(idCol).asc)
    docs.select(col(idCol), col(groupCol),
        TextFunctions.fingerprint(
          concat(lit(salt), lit(":"), col(idCol).cast("string"))).as("_k"))
      .withColumn("pick_order", row_number().over(w).cast("long"))
      .filter(col("pick_order") <= quota)
      .select(col(idCol), col(groupCol), col("pick_order"))
  }

  /** Token-budget trim — [[apportionBudget]] composed with a
    * deterministic per-source fill, the step that MATERIALIZES a token
    * allocation as an actual document subset: each source's
    * largest-remainder allocation is filled by its documents in hash
    * order (the [[stratifiedSample]] pick order) until the next
    * document would exceed the allocation (greedy prefix:
    * kept ⇔ inclusive running token sum ≤ alloc). Every step is
    * integer arithmetic on exact counts — engine-portable, no float
    * weights anywhere.
    *
    * Shape: the allocation relation is |sources|-sized and broadcasts;
    * the fill is one group-keyed exchange + rank-window cumulative sum
    * (spills); everything else is map-side. */
  def budgetTrim(docs: DataFrame, idCol: String, groupCol: String,
      textCol: String, budget: Long, salt: String = "strata"): DataFrame = {
    val alloc = apportionBudget(docs, groupCol, textCol, budget)
      .select(col(groupCol), col("alloc"))
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col("_k").asc, col(idCol).asc)
    docs.select(col(idCol), col(groupCol),
        size(TextFunctions.tokenize(col(textCol))).cast("long")
          .as("n_tokens"),
        TextFunctions.fingerprint(
          concat(lit(salt), lit(":"), col(idCol).cast("string"))).as("_k"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .join(broadcast(alloc), Seq(groupCol))
      .select(col(idCol), col(groupCol), col("n_tokens"),
        col("cum_tokens"), col("alloc"),
        (col("cum_tokens") <= col("alloc")).as("kept"))
  }

  /** Token-budget apportionment — the scheduling step that turns mixing
    * proportions into an actual per-source token allocation for the
    * next training batch: proportional (largest-remainder / Hamilton)
    * apportionment of an integer `budget` over per-source token counts.
    * floor shares first, then the leftover seats go to the largest
    * remainders (ties to the smaller source name) — allocations sum to
    * EXACTLY the budget, and every step is integer arithmetic on exact
    * counts, so the result is engine-portable with no float weights.
    *
    * Scale shape: one token-count aggregate (map-side combined) to a
    * |sources|-sized relation; the remainder rank is a window over that
    * tiny relation; the 1-row totals broadcast. */
  def apportionBudget(docs: DataFrame, groupCol: String, textCol: String,
      budget: Long): DataFrame = {
    require(budget >= 0, "apportionBudget: budget must be >= 0")
    val perSrc = docs.groupBy(col(groupCol))
      .agg(sum(size(TextFunctions.tokenize(col(textCol))).cast("long"))
        .as("n_tokens"))
    val total = perSrc.agg(sum(col("n_tokens")).as("_tot"),
      count(lit(1)).as("_nsrc"))
    val base = perSrc.crossJoin(broadcast(total))
      .withColumn("_floor", expr(s"($budget * n_tokens) div _tot"))
      .withColumn("_rem", expr(s"($budget * n_tokens) % _tot"))
    val w = Window.orderBy(col("_rem").desc, col(groupCol).asc)
    base
      .withColumn("_rr", row_number().over(w).cast("long"))
      .withColumn("_leftover",
        lit(budget) - sum(col("_floor")).over(
          Window.rowsBetween(Window.unboundedPreceding,
            Window.unboundedFollowing)))
      .select(col(groupCol), col("n_tokens"),
        col("_floor").as("floor_alloc"),
        col("_rr").as("remainder_rank"),
        (col("_floor") + when(col("_rr") <= col("_leftover"), 1L)
          .otherwise(0L)).as("alloc"))
  }

  /** Per-group Gini coefficient of the token-count distribution — the
    * concentration audit behind "is this source one giant document plus
    * crumbs?" (a source whose tokens concentrate in few docs behaves
    * like a much smaller source under doc-level sampling, and one
    * boilerplate blob can dominate its mixture share). Rank-based
    * closed form over the ascending-sorted counts:
    * `G = (2·Σ i·xᵢ − (n+1)·Σx) / (n·Σx)` — exact int64 registers, one
    * rounded IEEE divide. Ties order by doc id (deterministic both
    * engines; the tie-order-dependent variant, documented — the
    * trapezoid tie correction would need a second pass for no
    * diagnostic gain).
    *
    * Scale shape: one scan-speed token count, then the per-group
    * corpus-cardinality rank rides [[Ranks.bucketedGroupRank]] (groups
    * are a dimension, per-group cardinality is the corpus — exactly
    * that device's contract); registers carry the assortativity-style
    * loud int64 guards (Spark's non-ANSI `*` wraps silently). */
  def giniConcentration(docs: DataFrame, idCol: String, textCol: String,
      groupCol: String): DataFrame = {
    val x = docs.select(col(groupCol), col(idCol).as("_id"),
      size(TextFunctions.tokenize(col(textCol))).cast("long").as("x"))
    val ranked = Ranks.bucketedGroupRank(x, "x", "_id", groupCol,
      rankCol = "i")
    val term = when(assert_true(
      col("i") <= lit(3037000498L) && col("x") <= lit(3037000498L),
      lit("giniConcentration: rank*count exceeds int64 — rescale " +
        "counts before the registers")).isNull,
      col("i") * col("x"))
    val sums = ranked.groupBy(col(groupCol)).agg(
      count(lit(1)).as("n_docs"),
      sum(col("x")).as("sum_tokens"),
      sum(term).as("s1"),
      max(term).as("_maxterm"))
    val checked = when(assert_true(
      col("_maxterm") <= lit(Long.MaxValue) / greatest(col("n_docs"), lit(1L)) &&
        col("s1") <= lit(Long.MaxValue) / 2L &&
        col("sum_tokens") <= lit(Long.MaxValue) / (col("n_docs") + 1L),
      lit("giniConcentration: register product exceeds int64 — " +
        "rescale counts before the registers")).isNull,
      lit(2L) * col("s1") - (col("n_docs") + 1L) * col("sum_tokens"))
    sums.select(col(groupCol), col("n_docs"), col("sum_tokens"),
      when(col("sum_tokens") === 0L, lit(null).cast("double"))
        .otherwise(round((checked.cast("double") /
            (col("n_docs") * col("sum_tokens")).cast("double"))
            .cast("decimal(28,10)"), 6)
          .cast("double")).as("gini"))
  }

  /** Waterfilling token-budget allocation — the MAX-MIN-FAIR
    * counterpart to [[apportionBudget]]'s proportional split: raise one
    * common level t until Σ min(inventory_i, t) meets the budget, so
    * small sources keep everything they have (capped at inventory) and
    * every large source gets the same equalized share — the standard
    * allocation when the mixing goal is source DIVERSITY rather than
    * corpus-proportional representation (proportional splits let one
    * giant crawl starve the tails).
    *
    * Closed form, no iteration: sort sources by inventory ascending;
    * at cut row k the level is t = (budget − prefix_k) div slots_k
    * (slots = sources from k on), the cut is the first row whose
    * inventory exceeds its own candidate level, and the integer
    * remainder r = (budget − prefix) mod slots tops up the r first
    * uncapped rows by the same (inventory, source) order — allocations
    * sum to EXACTLY min(budget, total). Pure int64 arithmetic end to
    * end (div/mod), so the relation hashes across engines.
    *
    * Scale shape: one map-side-combined token-count aggregate reduces
    * the corpus to a |sources|-sized relation; every window after that
    * is over the dimension-bounded relation (the apportionBudget
    * precedent), and the result broadcasts to whatever fill consumes
    * it. Output: (group, inventory, allocation, capped 0/1). */
  def waterfillBudget(docs: DataFrame, groupCol: String, textCol: String,
      budget: Long): DataFrame = {
    require(budget >= 0, "waterfillBudget: budget must be >= 0")
    val perSrc = docs.groupBy(col(groupCol))
      .agg(sum(size(TextFunctions.tokenize(col(textCol))).cast("long"))
        .as("inventory"))
    val w = Window.orderBy(col("inventory").asc, col(groupCol).asc)
    val wAll = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    perSrc
      .withColumn("_k", row_number().over(w).cast("long"))
      .withColumn("_prefix",
        coalesce(sum(col("inventory")).over(
          w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("_m", count(lit(1)).over(wAll))
      .withColumn("_slots", col("_m") - col("_k") + 1L)
      .withColumn("_t", expr(s"(${budget}L - _prefix) div _slots"))
      // first row whose inventory exceeds its own candidate level =
      // the start of the uncapped suffix (NULL when budget >= total:
      // everything is capped at inventory)
      .withColumn("_kcut",
        min(when(col("inventory") > col("_t"), col("_k"))).over(wAll))
      .withColumn("_tstar",
        max(when(col("_k") === col("_kcut"), col("_t"))).over(wAll))
      .withColumn("_rstar",
        max(when(col("_k") === col("_kcut"),
          expr(s"(${budget}L - _prefix) % _slots"))).over(wAll))
      .select(col(groupCol), col("inventory"),
        when(col("_kcut").isNull || col("_k") < col("_kcut"),
          col("inventory"))
          .otherwise(col("_tstar") +
            when(col("_k") - col("_kcut") < col("_rstar"), 1L)
              .otherwise(0L)).as("allocation"),
        when(col("_kcut").isNull || col("_k") < col("_kcut"), 1L)
          .otherwise(0L).as("capped"))
  }

  /** Quality-signal calibration — the report a curation pipeline reads
    * before trusting a cheap filter: rank documents by unigram-LM
    * average surprisal (the expensive signal, [[unigramSurprisal]]),
    * bucket into `buckets` rank deciles, and measure what fraction of
    * each decile the cheap [[qualityScore]] rule accepts. A monotone
    * falling curve means the rule agrees with the LM; a flat one means
    * the rule is noise.
    *
    * Determinism: ranks order by the already-rounded avg_surprisal
    * (bit-identical across engines — the q53 device) with doc-id
    * tie-break; decile = ((rank−1)·buckets) div n, pure integer
    * arithmetic (the q61 rank-device family).
    *
    * Scale: inputs are two narrow per-doc relations (one riding the
    * shared tf cache, one scan-speed); the rank comes from
    * [[Ranks.bucketedGlobalRank]] — partitioned two-level ranking, no
    * corpus-cardinality single-task sort anywhere in the plan
    * (ScaleSpec pins the shape). */
  /** Isotonic (pool-adjacent-violators) score calibration — the
    * monotone step function mapping a quality-score bin to its
    * calibrated positive rate, the standard post-hoc calibration for a
    * quality classifier whose raw scores are order-faithful but not
    * probability-faithful.
    *
    * Distributed shape (the BPE-merge-table pattern): the corpus
    * reduces to ONE bounded per-bin (n, n_pos) aggregate; PAV runs on
    * the driver over those B rows — sequential by nature, B is
    * vocabulary-class side data, and a loud guard refuses unbounded
    * bins — producing only the POOL BOUNDARIES. The pooled sums then
    * re-aggregate IN Spark and the calibrated ratio is computed with
    * the house decimal-round device, so every emitted byte comes from
    * column expressions both engines evaluate identically.
    *
    * Determinism: PAV pooling compares adjacent rates by CROSS-
    * MULTIPLICATION (p_a·n_b vs p_b·n_a — exact int64, no division
    * ordering anywhere in the pooling decision). The DuckDB oracle
    * computes the SAME function through the closed-form minimax
    * characterization (fitted_i = max_{k≤i} min_{j≥i} avg(k..j)) — a
    * different algorithm entirely; IEEE division is correctly rounded
    * and monotone, so both reach the identical pooled-ratio double.
    *
    * @param binned one row per observation: (binCol int-castable,
    *   labelCol 0/1-castable)
    * @return one row per non-empty bin: bin, n, n_pos, calibrated —
    *   calibrated non-decreasing in bin */
  def isotonicCalibration(binned: DataFrame, binCol: String,
      labelCol: String, maxBins: Int = 100000): DataFrame = {
    val bins = binned
      .groupBy(col(binCol).cast("long").as("bin"))
      .agg(count(lit(1)).as("n"),
        sum(col(labelCol).cast("long")).as("n_pos"))
      .localCheckpoint()
    val stats = bins.orderBy(col("bin"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    require(stats.length <= maxBins,
      s"isotonicCalibration: ${stats.length} bins exceeds maxBins=" +
        s"$maxBins — bin the score first; PAV state is driver-side")
    // PAV over (sum_pos, n) blocks; merge while prev rate > next rate,
    // compared exactly via cross-multiplication
    case class Block(startBin: Long, p: Long, n: Long)
    val pools = scala.collection.mutable.ArrayBuffer.empty[Block]
    stats.foreach { case (b, n, p) =>
      var cur = Block(b, p, n)
      while (pools.nonEmpty &&
          pools.last.p * cur.n >= cur.p * pools.last.n) {
        val prev = pools.remove(pools.length - 1)
        cur = Block(prev.startBin, prev.p + cur.p, prev.n + cur.n)
      }
      pools += cur
    }
    // bin -> pool id (the pool's start bin), broadcast-joined back
    val starts = pools.map(_.startBin).toArray
    val spark = binned.sparkSession
    import spark.implicits._
    val assign = stats.map { case (b, _, _) =>
      // the pool owning b: the largest start <= b
      val i = java.util.Arrays.binarySearch(starts, b)
      val pool = if (i >= 0) starts(i) else starts(-i - 2)
      (b, pool)
    }.toSeq.toDF("bin", "pool")
    bins.join(broadcast(assign), "bin")
      .withColumn("p_blk", sum(col("n_pos")).over(
        Window.partitionBy(col("pool"))))
      .withColumn("n_blk", sum(col("n")).over(
        Window.partitionBy(col("pool"))))
      .select(col("bin"), col("n"), col("n_pos"),
        round((col("p_blk").cast("double") / col("n_blk").cast("double"))
          .cast("decimal(28,10)"), 6).cast("double").as("calibrated"))
  }

  def qualityCalibrationFromTf(tf: DataFrame, docs: DataFrame, idCol: String,
      textCol: String, buckets: Int = 10): DataFrame = {
    require(buckets >= 1, "qualityCalibration: buckets must be >= 1")
    val surp = unigramSurprisalFromTf(tf, idCol)
      .select(col(idCol), col("avg_surprisal"))
    val qual = qualityScore(docs, idCol, textCol)
      .select(col(idCol), col("quality").cast("long").as("_q"))
    val ranked = Ranks.bucketedGlobalRank(
        surp.join(qual, Seq(idCol)), "avg_surprisal", idCol)
      .localCheckpoint(true) // consumed by the 1-row total AND the rollup
    val total = ranked.agg(count(lit(1)).as("_n"))
    ranked.crossJoin(broadcast(total))
      .withColumn("decile", expr(s"((_rn - 1) * $buckets) div _n + 1"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_docs"), sum(col("_q")).as("n_quality"))
      .select(col("decile"), col("n_docs"), col("n_quality"),
        dec6(col("n_quality").cast("double") / col("n_docs").cast("double"))
          .as("quality_frac"))
  }

  /** Zipf-law fit — corpus health analytics (a natural-language corpus
    * shows ln(freq) ≈ intercept + slope·ln(rank) with slope near −1;
    * a far-off slope or low R² flags synthetic, templated, or heavily
    * duplicated text). Ordinary least squares of y = ln(count) on
    * x = ln(rank) over the full ranked vocabulary.
    *
    * Cross-engine discipline: x, y and their products are doubles over
    * exact integer inputs (bit-identical across engines), truncated
    * per-term to DECIMAL(28,10) and summed exactly; each sum is rounded
    * to 6 decimals and cast back to double (the rounded values stay far
    * below 2^53, so the cast is exact on both engines); the OLS closed
    * form then runs in fixed-association double arithmetic written
    * identically in the oracle. Emitted slope/intercept/R² round in the
    * decimal domain per the house rule.
    *
    * Scale shape: counts aggregate from the caller's term-frequency
    * relation (vocabulary-sized); ranks come from
    * [[Ranks.bucketedGlobalRank]] with the string-prefix tie proxy
    * (Heaps' law makes "vocabulary ≪ corpus" a 10⁸–10⁹-type relation
    * at 100 TB — a single-task sort — and Zipf counts are the
    * tie-heavy case the proxy subdivides); the six sums reduce with
    * map-side partials to one row. */
  def zipfFitFromTf(tf: DataFrame): DataFrame = {
    val counts = tf.groupBy(col("token")).agg(sum(col("tf")).as("cnt"))
      .withColumn("_neg", -col("cnt"))
      .withColumn("_tp", Ranks.stringPrefixProxy(col("token")))
      .localCheckpoint(true) // the rank device makes multiple passes
    val maxRow = counts.agg(max(col("cnt"))).head()
    val maxC = if (maxRow.isNullAt(0)) 1L else maxRow.getLong(0)
    val ranked = Ranks.bucketedGlobalRank(
        counts.withColumn("_zb", Ranks.zipfCountBuckets(col("cnt"), maxC)),
        "_neg", "token", "rank",
        tieProxyCol = Some("_tp"), bucketCol = Some("_zb"))
      .drop("_neg", "_tp", "_zb")
    val x = log(col("rank").cast("double"))
    val y = log(col("cnt").cast("double"))
    val sums = ranked.agg(
      count(lit(1)).as("n_types"),
      sum(x.cast("decimal(28,10)")).as("_sx"),
      sum(y.cast("decimal(28,10)")).as("_sy"),
      sum((x * y).cast("decimal(28,10)")).as("_sxy"),
      sum((x * x).cast("decimal(28,10)")).as("_sxx"),
      sum((y * y).cast("decimal(28,10)")).as("_syy"))
    val n = col("n_types").cast("double")
    def d(c: Column): Column = round(c, 6).cast("double")
    val sx = d(col("_sx")); val sy = d(col("_sy")); val sxy = d(col("_sxy"))
    val sxx = d(col("_sxx")); val syy = d(col("_syy"))
    val num = n * sxy - sx * sy
    val den = n * sxx - sx * sx
    val slope = num / den
    sums.select(col("n_types"),
      dec6(slope).as("slope"),
      dec6((sy - (num / den) * sx) / n).as("intercept"),
      dec6((num * num) / (den * (n * syy - sy * sy))).as("r2"))
  }
}
