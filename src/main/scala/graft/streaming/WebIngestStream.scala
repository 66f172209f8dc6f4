package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

import graft.functions.TextFunctions
import graft.pipeline.{Domains, Html, TextMetrics}

/** The web front door as a CONTINUOUS-INGEST topology — the streaming
  * face of the composed batch pipeline (q234): pages arrive as raw
  * bytes from a crawl frontier and flow through charset detect/decode →
  * HTML→text extraction → canonical-URL first-arrival dedup → term
  * blocklist → quality gate → per-domain cap, emitting one admission
  * verdict per arrival (the audit-ledger discipline throughout). The
  * reference ships its pipelines as continuous Storm topologies; this
  * is the same always-on shape for the ingest brief.
  *
  * Stage semantics vs the batch composition:
  *  - charset/extract/blocklist/quality are STATELESS column
  *    expressions (shared verbatim with the batch operators — the
  *    [[enrich]] projection runs identically on a batch frame, which is
  *    what the TopologiesSpec parity pin exploits);
  *  - canonical-URL dedup is FIRST-ARRIVAL (the [[DomainCapStream]]
  *    rule: an ingest gate cannot buffer the corpus to pick the
  *    newest snapshot the way batch q228/q234 do) — arrival order
  *    across micro-batches, doc_id order within one;
  *  - the domain cap charges quota ONLY for pages that passed every
  *    earlier gate (a url-dup or blocked page never consumes it).
  *
  * Verdict precedence matches batch q234 exactly:
  * dropped_url_dup → dropped_blocklist → dropped_quality →
  * dropped_domain_cap → kept. With the OPTIONAL robots fetch gate
  * (q246's rules, a stream-static broadcast join + per-row
  * longest-match), dropped_robots precedes everything and a
  * robots-blocked arrival never claims the canonical-URL
  * first-arrival slot — a fetch the origin forbids must not shadow a
  * future allowed snapshot.
  *
  * State: one boolean per canonical URL + one counter per domain (two
  * keyed stateful stages CHAINED — never branched-and-unioned, which
  * would instantiate the upstream state store once per branch).
  * PRECONDITION — doc-distinct stream (the [[DomainCapStream]] note):
  * at-least-once redelivery consumes quota and duplicates ledger rows. */
object WebIngestStream {

  case class PageArrival(doc_id: Long, raw: Array[Byte], url: String)
  case class EnrichedPage(doc_id: Long, charset: String, canon_url: String,
    domain: String, n_lines: Long, blocked: Boolean, q_ok: Boolean,
    robots_ok: Boolean)
  case class FlaggedPage(doc_id: Long, charset: String, canon_url: String,
    domain: String, n_lines: Long, verdict0: String)
  case class PageVerdict(doc_id: Long, charset: String, canon_url: String,
    domain: String, n_lines: Long, verdict: String)

  /** The stateless stage: raw bytes + url → charset label, extracted
    * line stats, canonical URL, registrable domain, blocklist and
    * quality verdict inputs. Pure column expressions (works unchanged
    * on batch frames); text never leaves the projection. */
  def enrich(pages: DataFrame, terms: Seq[String], phrases: Seq[String],
      suffixes: Seq[String],
      robotsRules: Option[DataFrame] = None): DataFrame = {
    require(terms.nonEmpty || phrases.nonEmpty,
      "enrich: need at least one blocklist term or phrase")
    require(suffixes.nonEmpty, "enrich: need a public-suffix list")
    // robots fetch-gate input (optional): one bounded rules array per
    // HOST via a stream-static broadcast join + a per-row longest-match
    // decision (an append-mode stream cannot run the per-URL argmax
    // aggregate the batch q246 uses)
    val withRobots = robotsRules match {
      case Some(rules) =>
        // materialize the collected rules relation ONCE as a local
        // frame: the stream-static join re-executes its static subtree
        // on EVERY micro-batch, and a .cache() here would leak one
        // block-manager entry per stream construction (nothing can
        // unpersist it). The relation is bounded by design (one rules
        // array per domain, the same thing broadcast ships), so a
        // driver-side localization costs what the broadcast costs.
        val spark = pages.sparkSession
        val rbd = graft.pipeline.Robots.rulesByDomain(rules)
          .withColumnRenamed("domain", "_host")
        val local = spark.createDataFrame(
          java.util.Arrays.asList(rbd.collect(): _*), rbd.schema)
        pages.withColumn("_host", Domains.hostOf(col("url")))
          .join(broadcast(local), Seq("_host"), "left")
          .withColumn("_robots_ok", graft.pipeline.Robots.allowedExpr(
            col("_rules"), graft.pipeline.Robots.pathQueryOf(col("url"))))
          .drop("_host", "_rules")
      case None => pages.withColumn("_robots_ok", lit(true))
    }
    val p1 = withRobots.select(col("doc_id"),
        call_function("decode_page", col("raw")).as("_p"),
        Domains.canonicalizeUrl(col("url")).as("canon_url"),
        col("_robots_ok"))
      .select(col("doc_id"), col("_p.charset").as("charset"),
        Html.extractExpr(col("_p.text")).as("text"), col("canon_url"),
        col("_robots_ok"))
    val toks = TextFunctions.tokenize(col("text"))
    val blocked =
      arrays_overlap(filter(toks, w => length(w) > 0),
        array(terms.map(lit): _*)) ||
        arrays_overlap(TextFunctions.shingles(toks, 2),
          array(phrases.map(lit): _*))
    val quality = TextMetrics.qualityColumns("text").toMap.apply("quality")
    p1.select(col("doc_id"), col("charset"), col("canon_url"),
      Domains.registrableDomainExpr(Domains.hostOf(col("canon_url")),
        suffixes).as("domain"),
      Html.lineCount(col("text")).as("n_lines"),
      blocked.as("blocked"),
      (quality === 1.0).as("q_ok"),
      col("_robots_ok").as("robots_ok"))
  }

  /** First-arrival canonical-URL gate: the first page per canonical URL
    * proceeds to the stateless verdicts, every later arrival is
    * dropped_url_dup (even when the first was itself dropped — the
    * batch rule: one winner per canonical URL, everyone else is a
    * dup). One boolean per URL.
    *
    * `ttl` (default NONE = dedup-forever, the batch-parity contract):
    * with a TTL the state is BOUNDED — RocksDB holds one entry per
    * canonical URL seen within the horizon (arrival rate × TTL), not
    * per URL ever seen, which is the mode a months-running ingest
    * needs. DOCUMENTED SEMANTICS DEVIATION (the idiomatic-window-mode
    * discipline): a URL re-arriving after its entry expired is treated
    * as a first arrival again (re-crawl admission — often the desired
    * refresh behavior); within the horizon, verdicts are IDENTICAL to
    * the unbounded gate (TopologiesSpec pins both the parity and the
    * post-expiry re-admission). */
  class UrlFirstProcessor(ttl: TTLConfig = TTLConfig.NONE)
      extends StatefulProcessor[String, EnrichedPage, FlaggedPage] {
    @transient private var seen: ValueState[Boolean] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      seen = getHandle.getValueState[Boolean]("seen",
        Encoders.scalaBoolean, ttl)

    override def handleInputRows(key: String, rows: Iterator[EnrichedPage],
        timers: TimerValues): Iterator[FlaggedPage] = {
      // robots-blocked arrivals take dropped_robots AHEAD of every
      // other verdict and never claim the first-arrival slot — a fetch
      // the origin forbids must not shadow a future allowed snapshot
      var taken = seen.exists()
      // only a NON-robots arrival may write state: a robots-blocked
      // arrival must neither claim the slot nor refresh an existing
      // entry's TTL (a batch of only-blocked arrivals leaves the
      // dedup horizon untouched)
      var wrote = false
      val sorted = rows.toVector.sortBy(_.doc_id)
      val out = sorted.map { p =>
        val v0 =
          if (!p.robots_ok) "dropped_robots"
          else if (taken) { wrote = true; "dropped_url_dup" }
          else {
            taken = true; wrote = true
            if (p.blocked) "dropped_blocklist"
            else if (!p.q_ok) "dropped_quality"
            else "pass"
          }
        FlaggedPage(p.doc_id, p.charset, p.canon_url, p.domain,
          p.n_lines, v0)
      }
      if (wrote) seen.update(true)
      out.iterator
    }
  }

  /** Per-domain cap over SURVIVORS: quota is charged only for pages
    * whose verdict0 is "pass" — earlier-gate drops ride through with
    * their verdicts unchanged (one ledger row per arrival either way).
    * One counter per domain (the [[DomainCapStream]] state shape). */
  private def domainGate(cap: Int)(key: String, rows: Iterator[FlaggedPage],
      count: Option[Long]): (Option[Long], Iterator[PageVerdict]) = {
    var n = count.getOrElse(0L)
    val out = rows.toVector.sortBy(_.doc_id).map { p =>
      val v =
        if (p.verdict0 != "pass") p.verdict0
        else {
          n += 1
          if (n <= cap) "kept" else "dropped_domain_cap"
        }
      PageVerdict(p.doc_id, p.charset, p.canon_url, p.domain,
        p.n_lines, v)
    }
    (Some(n), out.iterator)
  }

  /** WARC containers → [[PageArrival]]s: the adapter that makes the
    * continuous gate run on the actual crawl container format — a
    * stream of (container id, WARC bytes) rows (file source over
    * `.warc`/`.warc.gz` shards, one row per container) explodes
    * through [[graft.sources.Warc.records]]/httpResponses map-side,
    * keeps the 2xx fetches (a non-200 body is an error page, not a
    * document — the drop is the standard crawl-ingest rule, counted
    * upstream by the fetcher, so it is a filter here rather than a
    * ledger verdict), and derives the doc id deterministically from
    * (uri, container, record index) via xxhash64 — a streaming source
    * cannot mint monotonic ids, and the hash keeps redelivered
    * containers mapping to the SAME ids (the gate's doc-distinct
    * precondition then holds per delivery; collisions are 2⁻⁶⁴-class
    * and documented). Compose as
    * `gate(fromWarc(stream), …)` for the end-to-end crawl topology. */
  def fromWarc(containers: DataFrame, idCol: String, bytesCol: String,
      gzipped: Boolean = false): Dataset[PageArrival] = {
    import containers.sparkSession.implicits._
    graft.sources.Warc.httpResponses(
        graft.sources.Warc.records(containers, idCol, bytesCol, gzipped))
      .filter(col("http_status") >= 200 && col("http_status") < 300)
      .select(
        xxhash64(col("target_uri"), col("container_id"), col("rec_idx"))
          .as("doc_id"),
        col("body").as("raw"), col("target_uri").as("url"))
      .as[PageArrival]
  }

  /** Arrivals → per-page admission ledger, append mode.
    *
    * `urlTtl`: None (default) = dedup-forever URL state (batch
    * parity); Some(d) = the BOUNDED-STATE mode — URL entries expire d
    * after their last update (processing time), so a long-running
    * ingest's store size tracks the arrival rate × horizon instead of
    * growing forever; see [[UrlFirstProcessor]] for the documented
    * re-admission deviation. The domain-cap counter is |domains|-
    * bounded by construction and never expires. Operational note: TTL
    * requires TimeMode.ProcessingTime, under which the micro-batch
    * engine triggers CONTINUOUSLY (timer/TTL sweeps) — correct for a
    * long-running ingest, but `processAllAvailable()` never observes
    * an idle query; tests/tools should await sink row counts (the
    * TopologiesSpec pattern) or use an explicit trigger. */
  def gate(pages: Dataset[PageArrival], terms: Seq[String],
      phrases: Seq[String], suffixes: Seq[String],
      cap: Int,
      urlTtl: Option[java.time.Duration] = None,
      robotsRules: Option[DataFrame] = None): Dataset[PageVerdict] = {
    require(cap >= 1, "gate: cap must be >= 1")
    import pages.sparkSession.implicits._
    val (ttlConf, urlTimeMode) = urlTtl match {
      case Some(d) => (TTLConfig(d), TimeMode.ProcessingTime())
      case None => (TTLConfig.NONE, TimeMode.None())
    }
    val flagged = enrich(pages.toDF(), terms, phrases, suffixes, robotsRules)
      .as[EnrichedPage]
      .groupByKey(_.canon_url)
      .transformWithState(new UrlFirstProcessor(ttlConf),
        urlTimeMode, OutputMode.Append())
    ValueFold(flagged.groupByKey(_.domain))(domainGate(cap))
  }
}
