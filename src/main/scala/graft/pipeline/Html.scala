package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** HTML/markup → text extraction — the ingestion front door every real
  * pretraining corpus hits before any text-level cleaning (the
  * reference ships the same stage as offline tooling:
  * `util/HTMLMapFilterer.java:46-63` strips markup from crawled pages
  * before they enter its pipelines; FineWeb/C4/CCNet all start here).
  * Emits line-segmented plain text ready for the line-level cleaners
  * (C4 rules q75, boilerplate q83).
  *
  * Relational except one native expression: a chain of
  * `regexp_replace` Column expressions — no UDF, no lambda (Catalyst
  * codegen keeps the whole chain in one WholeStageCodegen projection;
  * a `transform` lambda here would drop the stage to interpreted
  * evaluation, the q34/q66 20× trap) — plus the codegen'd
  * native `decode_html_refs` single-pass entity stage (a
  * regex alternative would cost one full-text pass per decodable
  * codepoint). Every regex uses RE2-compatible syntax (inline `(?is)`
  * flags, non-greedy `.*?`, explicit whitespace classes — never `\s`,
  * whose Java form includes \x0B while RE2's does not), so a DuckDB
  * oracle replays the chain; the entity stage is mirrored on the
  * planted fixture literals (the q15/q31 stem-map device: DuckDB has
  * no HTML decoder, the oracle decodes the refs the fixture plants).
  *
  * Extraction pipeline, in order (order is semantic — comments can
  * contain markup, scripts can contain `<` comparisons, entity decode
  * must run after tag stripping so planted `&lt;tag&gt;` text never
  * re-parses as markup):
  *   1. drop `<!-- … -->` comments and `<![CDATA[ … ]]>` sections
  *   2. drop `<script>`/`<style>` elements INCLUDING content
  *   3. newline at block boundaries (`</p> </div> </li> </tr> </td>
  *      </th> </h1-6> </title> <br>` — the br branch is word-anchored,
  *      `br(/?|[ \t]…)`, so `<brand>` is NOT a line break)
  *   4. strip every remaining tag
  *   5. decode character references in ONE left-to-right pass, no
  *      rescan of replacements (real parser semantics: `&amp;lt;` and
  *      `&#38;lt;` both yield the literal `&lt;`): numeric `&#nnn;` /
  *      `&#xhh;` for any valid codepoint (tab/LF/CR or ≥32, ≤U+10FFFF,
  *      non-surrogate; NBSP→plain space) plus the FULL HTML4
  *      252-entity named table (case-sensitive, semicolon required —
  *      [[graft.functions.TextKernels.htmlEntityTable]])
  *   6. normalize: collapse intra-line whitespace, trim line edges,
  *      drop empty lines
  *
  * Scale shape: map-side only — no shuffle, no driver traffic; the
  * chain fuses into the scan projection and runs at parquet-read
  * throughput. 100 TB of HTML is exactly as partitionable as its scan.
  *
  * Deliberate bounds (documented, spec-pinned): named entities outside
  * the HTML4 table (unknown names, wrong case, missing semicolon) pass
  * through verbatim, as do malformed / truncated / out-of-range
  * numeric refs; malformed markup (an unclosed `<`) is left in place
  * rather than guessed at — a cleaning-stage filter catches the
  * stragglers, which beats silently eating document text.
  */
object Html {

  /** The extracted-text Column: [[extractText]]'s kernel, exposed so
    * queries can compose it inline (and the oracle can mirror it
    * subexpression by subexpression). */
  def extractExpr(html: Column): Column = {
    // 1. comments + CDATA (content dropped)
    val noComment = regexp_replace(
      regexp_replace(html, "(?s)<!--.*?-->", ""),
      "(?s)<!\\[CDATA\\[.*?\\]\\]>", "")
    // 2. script/style elements, content and all
    val noScript = regexp_replace(noComment,
      "(?is)<script[^>]*>.*?</script>", "")
    val noStyle = regexp_replace(noScript,
      "(?is)<style[^>]*>.*?</style>", "")
    // 3. block boundaries → newline (before generic stripping, so the
    // block structure survives as line structure)
    val blocks = regexp_replace(noStyle,
      "(?i)<(/p|/div|/li|/tr|/td|/th|/h[1-6]|/title|br(/?|[ \\t][^>]*))>",
      "\n")
    // 4. strip every remaining tag
    val noTags = regexp_replace(blocks, "<[^>]*>", "")
    // 5. character references, one native single-pass decode
    val decoded = call_function("decode_html_refs", noTags)
    // 6. whitespace normalization: collapse runs (explicit class, no
    // \s), trim line edges ((?m) anchors are engine-identical), drop
    // empty lines, trim outer newlines
    val squeezed = regexp_replace(decoded, "[ \\t\\f\\r]+", " ")
    val trimmed = regexp_replace(squeezed, "(?m)^ +| +$", "")
    val joined = regexp_replace(trimmed, "\n{2,}", "\n")
    regexp_replace(joined, "^\n+|\n+$", "")
  }

  /** HTML → line-segmented plain text: one row per input document with
    * the extracted text, its line count and char count (the shape the
    * q75/q83 line cleaners consume). */
  def extractText(docs: DataFrame, idCol: String,
      htmlCol: String): DataFrame =
    withLineStats(docs, idCol, extractExpr(col(htmlCol)))

  /** Markdown → plain text — the OTHER markup front door (GitHub/docs
    * corpora arrive as .md): same regexp_replace-chain discipline as
    * [[extractExpr]], RE2-compatible throughout. Steps, in order:
    *  1. drop fenced code blocks (``` … ```) INCLUDING content — code
    *     goes to a code pipeline, not the text one — and inline code
    *     spans (`…` keeps the span text, backticks stripped)
    *  2. images `![alt](url)` → alt text; links `[text](url)` → text
    *  3. strip heading markers (#…), blockquote markers (>), list
    *     bullets (-, *, +, 1.) at line starts; setext underlines
    *     (=== / --- lines) and horizontal rules dropped
    *  4. strip emphasis runs (*, _, ~) around words
    *  5. whitespace normalization as in [[extractExpr]]
    * Deliberate bounds: HTML embedded in markdown passes through (run
    * [[extractExpr]] after if needed); reference-style links and
    * tables keep their cell text with pipes stripped. */
  def markdownExpr(md: Column): Column = {
    val noFence = regexp_replace(md, "(?s)```.*?```", "")
    val noInline = regexp_replace(noFence, "`([^`\n]*)`", "$1")
    val noImg = regexp_replace(noInline,
      "!\\[([^\\]]*)\\]\\([^)]*\\)", "$1")
    val noLink = regexp_replace(noImg,
      "\\[([^\\]]*)\\]\\([^)]*\\)", "$1")
    val noRule = regexp_replace(noLink,
      "(?m)^[ \\t]*(={3,}|-{3,}|\\*{3,})[ \\t]*$", "")
    val noMark = regexp_replace(noRule,
      "(?m)^[ \\t]*(#{1,6}[ \\t]+|>[ \\t]*|[-*+][ \\t]+|[0-9]+\\.[ \\t]+)",
      "")
    val noEmph = regexp_replace(noMark, "[*_~]{1,3}([^*_~\n]+)[*_~]{1,3}",
      "$1")
    val noPipe = regexp_replace(noEmph, "[ \\t]*\\|[ \\t]*", " ")
    val squeezed = regexp_replace(noPipe, "[ \\t\\f\\r]+", " ")
    val trimmed = regexp_replace(squeezed, "(?m)^ +| +$", "")
    val joined = regexp_replace(trimmed, "\n{2,}", "\n")
    regexp_replace(joined, "^\n+|\n+$", "")
  }

  /** Markdown → line-segmented plain text (the [[extractText]] shape). */
  def markdownText(docs: DataFrame, idCol: String,
      mdCol: String): DataFrame =
    withLineStats(docs, idCol, markdownExpr(col(mdCol)))

  /** The extraction family's canonical line count over an extracted
    * text column (empty text = 0 lines) — ONE definition, shared by
    * [[extractText]]/[[markdownText]] and the composed front door
    * (q234), so the empty-text convention can never silently diverge
    * between them. */
  def lineCount(text: Column): Column =
    when(text === "", 0).otherwise(size(split(text, "\n"))).cast("long")

  private def withLineStats(docs: DataFrame, idCol: String,
      text: Column): DataFrame =
    docs.select(col(idCol), text.as("text"))
      .select(col(idCol), col("text"),
        lineCount(col("text")).as("n_lines"),
        length(col("text")).cast("long").as("n_chars"))
}
