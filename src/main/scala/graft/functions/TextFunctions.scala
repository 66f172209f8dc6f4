package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Scalar text/timestamp functions re-expressing the reference's bolt-local
  * helpers as pure Catalyst column expressions (whole-stage-codegen
  * friendly; no UDFs on the hot path).
  *
  * Reference points (see SURVEY.md §2.3):
  *  - T1 Twitter timestamp parse: DiscussionTreeBolt.java:103-105
  *  - T2 tokenise + stopwords:    TweetIndexBolt.java:172-186
  *  - T4 short-token removal:     LocationTopicModelTrainer.java:193-207
  *  - T5 "lon,lat" formatting:    TopicModelBolt.java:180-182
  *  - T6 WKT point (lat first):   LocationCrawlerBolt.java:309-311
  *  - T10 username cleanup:       jar:StormCommunityFactory.cleanUserName
  */
object TextFunctions {

  /** T1 — parse `"EEE MMM dd HH:mm:ss Z yyyy"` (US locale). Spark's
    * formatter cannot *parse* day-of-week tokens, so we strip the first
    * 4 chars ("EEE ") — day-of-week is redundant with the date. */
  def parseTwitterTime(c: Column): Column =
    to_timestamp(substring(c, 5, 26), "MMM dd HH:mm:ss Z yyyy")

  /** Inverse of [[parseTwitterTime]] (used by tests and by the events →
    * tweet-stream adapter). */
  def formatTwitterTime(c: Column): Column =
    date_format(c, "EEE MMM dd HH:mm:ss Z yyyy")

  /** Script-aware whitespace tokenizer (the reference lower-cases then
    * splits; see jar:ckling.text.Text.getTerms — monolingual-EN there,
    * TweetIndexBolt.java:154-169 drops non-English upstream). The
    * shared word-extraction path for EVERY token-level operator: lower,
    * split on `[ \t\n\f\r]+`, then route no-space-script runs
    * (CJK Han/kana, Thai, Lao, Myanmar, Khmer —
    * [[TextKernels.noSpaceRanges]]) to overlapping character BIGRAMS
    * via the native `tokenize_mixed` kernel, so zh/ja/th text
    * stops degenerating into one giant "token" per document. The
    * routing is per-RUN (self-routing by codepoint class), so mixed
    * EN+CJK text segments both halves correctly — no per-document
    * script verdict needed. Bit-identical to the old
    * `split(lower(text), ws)` on text with no such codepoints,
    * INCLUDING empty leading/trailing tokens (`size()` consumers).
    * Requires [[graft.GraftExtensions]] (every [[graft.Tables.session]]
    * registers it).
    *
    * ORACLE NOTE: DuckDB replays the expansion with
    * `regexp_extract_all(tok, '[NS]+|[^NS]+')` runs + a
    * generate_series bigram cut over [[TextKernels.noSpaceClassRegex]]
    * (q249 is the reference construction). Token-level oracles that
    * replay the plain whitespace split are exact as long as their
    * inputs carry no no-space-script codepoints (true of the driver
    * corpus and every plant; the gate catches any future drift). */
  def tokenize(text: Column): Column =
    call_function("tokenize_mixed", lower(text))

  /** Kernel twin of [[tokenize]] for mapPartitions kernels that cannot
    * evaluate a Column ([[graft.pipeline.Bpe.encode]],
    * [[graft.pipeline.Unigram.encode]]): ONE word-extraction definition
    * shared by training (Column form) and encode (this), so the trained
    * piece/merge inventories and encode-time words can never drift —
    * a drifted word could contain a character absent from the trained
    * singles and fail segmentation at runtime. Empties are dropped here;
    * Column-form callers drop them with `length(w) > 0`.
    * TextFunctionsSpec pins the two forms equal (incl. CJK/Thai). */
  def tokenizeScala(t: String): Array[String] =
    if (t == null) Array.empty[String]
    else TextKernels.tokenizeMixedCore(
      t.toLowerCase(java.util.Locale.ROOT)).filter(_.nonEmpty).toArray

  /** T4 — drop 1-char tokens. */
  def dropShortTokens(tokens: Column): Column =
    filter(tokens, t => length(t) > 1)

  /** Small English stopword set used by the language heuristic and the
    * quality score; chosen to be expressible identically in ANSI SQL. */
  val englishStopwords: Seq[String] =
    Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")

  /** Element-wise stopword filter. NOT array_except, which deduplicates —
    * the index path must keep repeated tokens (each occurrence scores). */
  def removeStopwords(tokens: Column): Column =
    filter(tokens, t => !array_contains(lit(englishStopwords.toArray), t))

  /** T2 — Porter-stem each token ([[PorterStemmer]], vendored classic
    * algorithm) through the native `stem_tokens` kernel ([[Kernels]]):
    * no UDF serialization boundary, inlines into whole-stage codegen.
    * Requires [[graft.GraftExtensions]] on the session (every
    * [[graft.Tables.session]] registers it; external sessions set
    * spark.sql.extensions=graft.GraftExtensions). [[stemTokensUdfForm]]
    * is the portable fallback and the parity pin. */
  def stemTokens(tokens: Column): Column = call_function("stem_tokens", tokens)

  private val stemTokensUdf = udf((tokens: Seq[String]) =>
    if (tokens == null) null else tokens.map(PorterStemmer.stem))

  /** UDF form of [[stemTokens]] for sessions without GraftExtensions;
    * StemTokensSpec pins both forms value-identical. */
  def stemTokensUdfForm(tokens: Column): Column = stemTokensUdf(tokens)

  /** T2 — the reference's full index-path term pipeline
    * (TweetIndexBolt.java:172-186: tokenize, drop 1-char tokens, drop
    * stopwords, Porter-stem). */
  def indexTerms(text: Column): Column =
    stemTokens(removeStopwords(dropShortTokens(tokenize(text))))

  /** M1-analog — deterministic language-ID heuristic: ratio of tokens that
    * are English stopwords. The reference's cybozu langdetect is
    * seed-nondeterministic (SURVEY.md §2.6 M1); we replace it with a
    * deterministic profile heuristic, mirrored 1:1 in the DuckDB oracle. */
  def stopwordRatio(text: Column): Column = {
    val toks = tokenize(text)
    val hits = size(filter(toks, t => array_contains(lit(englishStopwords.toArray), t)))
    when(size(toks) > 0, hits.cast("double") / size(toks).cast("double")).otherwise(lit(0.0))
  }

  def detectEnglish(text: Column, threshold: Double = 0.05): Column =
    stopwordRatio(text) >= lit(threshold)

  /** T5 — `"lon,lat"` string (reference flips the model's `lat lon`). */
  def lonLat(lon: Column, lat: Column): Column =
    concat_ws(",", lon.cast("float"), lat.cast("float"))

  /** T6 — WKT point; the reference puts LAT first (preserved verbatim,
    * LocationCrawlerBolt.java:309-311). */
  def wktPointLatFirst(lat: Column, lon: Column): Column =
    format_string("POINT(%s %s)", lat, lon)

  /** T10 — strip all whitespace from screen names. */
  def cleanUserName(c: Column): Column = regexp_replace(c, "[ \\t\\n\\f\\r]", "")

  /** Word n-gram shingles over a token array (dedup pipeline primitive).
    * `transform(sequence(...))` keeps this inside codegen. */
  def shingles(tokens: Column, n: Int): Column =
    when(size(tokens) >= n,
      transform(sequence(lit(0), size(tokens) - n),
        i => concat_ws(" ", slice(tokens, i + 1, lit(n)))))
      .otherwise(array(concat_ws(" ", tokens)))

  /** One MinHash signature component: min over shingles of md5(salt:sh).
    * md5 as the hash family keeps Spark and any ANSI oracle bit-identical;
    * the per-salt md5 acts as an independent random permutation. */
  def minhashSig(shingleSet: Column, salt: Int): Column =
    array_min(transform(shingleSet, s => md5(concat(lit(salt.toString), lit(":"), s))))

  /** SimHash over the distinct tokens of a document, up to 60 bits
    * (sign-safe in a BIGINT on every engine). Bit b is set when the sum
    * over tokens of ±1 is positive; the per-token sign for bit b is the
    * parity of hex nibble b%32 of md5(token) (bits 0-31) or of
    * md5("1:"+token) (bits 32-59). Integer arithmetic → engine-exact. */
  def simhashBits(tokens: Column, nBits: Int = 60): Column = {
    require(nBits >= 1 && nBits <= 60, "sign-safe long supports up to 60 bits")
    val distinctToks = array_distinct(tokens)
    val packed = (0 until nBits).map { b =>
      val nib = b % 32
      val perTokenSign = transform(distinctToks, t => {
        val h = if (b < 32) md5(t) else md5(concat(lit("1:"), t))
        when((call_function("locate",
          substring(h, nib + 1, 1), lit("0123456789abcdef")) - 1) % 2 === 1, lit(1))
          .otherwise(lit(-1))
      })
      val s = aggregate(perTokenSign, lit(0), (acc, x) => acc + x)
      when(s > 0, lit(1L << b)).otherwise(lit(0L))
    }
    packed.reduce(_ + _)
  }

  /** Deterministic 64-bit-ish document fingerprint: first 15 hex chars of
    * md5 as a big-int-safe long (driver-exact in any engine with md5+conv). */
  def fingerprint(text: Column): Column =
    conv(substring(md5(text), 1, 15), 16, 10).cast("long")
}
