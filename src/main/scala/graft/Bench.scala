package graft

import scala.util.control.NonFatal

import graft.telemetry.Events

/** Benchmark main: runs the headline queries on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line {"metric":...,"queries":{name:sec,...},...}.
  * Each query is forced with a noop-format write — full materialization of
  * every output column (a bare count() would let Catalyst drop the
  * top-level sorts the oracles pay for). Failed queries report their
  * elapsed time AND are listed in "failed" so a crash is never mistaken
  * for a fast run.
  *
  * Each query runs SPARK_GRAFT_RUNS times (default 3) and reports the
  * per-query MIN — single-run numbers at local[32] swing 2–4× with cache
  * pressure and JIT state (single-run numbers here repeatedly produced
  * phantom regressions before min-of-n landed), and
  * min-of-n is the standard way to strip that noise. The raw per-run
  * times live in bench_detail.json so a reader can see the spread.
  *
  * Stdout hygiene: the consumer keeps only the last ~2000 chars of
  * stdout and must find a parseable JSON line there. So (a) everything
  * the JVM would print during the run is redirected to stderr, (b) the
  * Spark log level is forced to ERROR (a WARN from plan-string
  * truncation once landed in the tail), (c) the line is printed to the REAL stdout
  * only after spark.stop(), so nothing can follow it, and (d) build.sbt
  * sets OutputStrategy.StdoutOutput + showSuccess:=false so sbt neither
  * prefixes the line with "[info] " nor appends "[success] ...".
  * The key set is FIXED — "failed" and "runs" are always present — so
  * the schema never varies between runs.
  *
  * Self-diagnosis against environment noise (external re-runs of the
  * same binary have measured 2.73× across-the-board slowdowns that were
  * pure container artifacts): "cal" in the line is a fixed-size
  * in-memory calibration aggregate (min-of-3) timed after warm-up —
  * a degraded/throttled container shows up there, independent of any
  * query code. "memcal" is its
  * memory-side sibling: a fixed-size persist+scan through the unified
  * storage pool, sensitive to heap pressure and eviction where cal is
  * CPU-only. "cal_q" in the per-query detail map is the third leg: a
  * fixed micro-aggregate timed immediately before EACH query, so a
  * co-tenant burst that hits mid-sweep is timestamped to the exact
  * sweep position (whole-sweep cal/memcal run once and cannot see it).
  * bench_detail.json adds per-run times, calibration runs,
  * total JVM GC millis, peak RSS, and a per-query map of
  * {cal_q_ms, rss_kb, gc_ms, cached_kb, resident cache families,
  * codegen compiles, operator events} so
  * sweep-position residency AND contention effects are attributable
  * from the artifact alone.
  *
  * Before timing, every input table is scanned once (count) so the first
  * measured query doesn't absorb one-time costs — parquet footer reads,
  * FS cache population, executor/codegen warm-up — that no steady-state
  * deployment pays per query. */
object Bench {

  /** Pick the largest headline form that fits the consumer's tail
    * window. `mk` renders the full line given (queries-json,
    * failed-json); tiers, in order:
    *   1. full query names;
    *   2. unique qNN key prefixes (compaction cuts at the underscore,
    *      so "q100" vs "q10" stay distinct keys);
    *   3. `"queries":{}` — per-query times live ONLY in
    *      bench_detail.json; total/cal/failed still tell the round
    *      story, and the key SCHEMA is unchanged (the consumer's
    *      parser never sees a key appear or vanish).
    * Tier 3's length is bounded by the failed list alone, so the
    * format survives ANY future query count without re-litigating the
    * cap as queries are added (the headroom concern, closed by scheme).
    * Returns (line, tier) — BenchHeadlineSpec pins the tier cutovers. */
  def fitHeadline(mk: (String, String) => String,
      entries: Seq[(String, Double)], failedSorted: Seq[String],
      cap: Int = 1990): (String, Int) = {
    def qmap(f: String => String) = entries.map { case (k, v) =>
      "\"" + f(k) + f"""\":$v%.2f""" }.mkString("{", ",", "}")
    def flist(f: String => String) =
      failedSorted.map(n => "\"" + f(n) + "\"").mkString("[", ",", "]")
    val id = identity[String] _
    val pre = (s: String) => s.takeWhile(_ != '_')
    val tiers = Seq(
      (mk(qmap(id), flist(id)), 1),
      (mk(qmap(pre), flist(pre)), 2),
      (mk("{}", flist(pre)), 3))
    tiers.find(_._1.length <= cap).getOrElse(tiers.last)
  }

  /** The ONE detail-sidecar template — shared by [[main]] and
    * BenchDetailSchemaSpec, which pins the key set (r20, VERDICT item
    * 7: bench_detail.json is the per-query artifact the tier-3
    * headline defers to, so its schema is now spec-pinned instead of
    * implied). `raw` is the all_runs map JSON, `perQuery` the
    * telemetry map JSON, `fl` the failed list JSON. */
  def renderDetail(total: Double, runs: Int, cal: Double, calRaw: String,
      memcal: Double, memCalRaw: String, gcMs: Long, rssPeakKb: Long,
      raw: String, perQuery: String, fl: String, sf: String): String =
    f"""{"metric":"total","value":$total%.3f,"unit":"sec","runs":$runs,"cal":$cal%.3f,"cal_runs":$calRaw,"memcal":$memcal%.3f,"memcal_runs":$memCalRaw,"gc_ms":$gcMs,"rss_peak_kb":$rssPeakKb,"all_runs":$raw,"per_query":$perQuery,"failed":$fl,"sf":"$sf"}"""

  /** One query's `per_query` entry in the detail sidecar — shared by
    * [[main]] and BenchDetailSchemaSpec, which pins its key set.
    * `codegenCompiles` is the number of Janino compiles across the
    * query's runs (a warm query should compile next to nothing).
    * `events` are the query's operator events, each tagged with the run
    * that emitted it (a cache release, with the run it follows). */
  final case class QueryTelemetry(calQms: Double, rssKb: Long, gcMs: Long,
      cachedKb: Long, fams: Seq[String], codegenCompiles: Long,
      events: Seq[Events.Event]) {
    def json: String =
      f"""{"cal_q_ms":$calQms%.1f,"rss_kb":$rssKb,"gc_ms":$gcMs,"cached_kb":$cachedKb,""" +
        "\"fams\":" + fams.map("\"" + _ + "\"").mkString("[", ",", "]") +
        s""","codegen_compiles":$codegenCompiles,"events":""" +
        events.map(_.json).mkString("[", ",", "]") + "}"
  }

  /** Per-query min-of-runs extracted from a detail-sidecar JSON text —
    * the minimal parser behind the stderr top-movers block (crashed
    * runs are `null` and skipped; a query whose runs all crashed is
    * absent). Regex-scoped to the `all_runs` map: its values are the
    * only `"qNN...":[numbers]` arrays in the document. */
  def parseDetailBest(txt: String): Map[String, Double] = {
    val i = txt.indexOf("\"all_runs\"")
    if (i < 0) Map.empty
    else {
      val m = java.util.regex.Pattern
        .compile("\"(q[^\"]+)\":\\[([0-9.,nul ]*)\\]")
        .matcher(txt.substring(i))
      val b = Map.newBuilder[String, Double]
      while (m.find()) {
        val ts = m.group(2).split(",").flatMap(s => s.trim.toDoubleOption)
        if (ts.nonEmpty) b += (m.group(1) -> ts.min)
      }
      b.result()
    }
  }

  /** The capped top-movers block (r20, VERDICT item 7): per-query
    * deltas of this sweep vs the previous sidecar, largest first, at
    * most `cap` lines, only moves that clear BOTH 0.3 s and 25% —
    * purely observational stderr (the stdout contract and the timing
    * methodology are untouched). `failed` queries (any run crashed)
    * are skipped: when every run crashed, the time is the crash time,
    * not a reading.
    * Returns the lines so the spec can pin the format and the caps. */
  def topMovers(prev: Map[String, Double], now: Map[String, Double],
      failed: Set[String], cap: Int = 10): Seq[String] =
    (now -- failed).toSeq.flatMap { case (k, t) =>
      prev.get(k).collect {
        case p if (t - p).abs >= 0.3 && (t - p).abs >= 0.25 * math.max(p, 0.001) =>
          (k, p, t)
      }
    }.sortBy { case (_, p, t) => -(t - p).abs }.take(cap)
      .map { case (k, p, t) => f"[bench] mover $k: $p%.2f -> $t%.2f s" }

  /** The ONE headline template — shared by [[main]] and
    * BenchHeadlineSpec so the spec's asserted tier cutovers can never
    * drift from the live line (an earlier field addition was hand-synced
    * into the spec's private copy; this removes the drift channel). */
  def renderHeadline(total: Double, runs: Int, cal: Double, memcal: Double,
      sf: String)(queries: String, failedList: String): String =
    f"""{"metric":"total","value":$total%.3f,"unit":"sec","runs":$runs,"cal":$cal%.3f,"memcal":$memcal%.3f,"queries":$queries,"failed":$failedList,"sf":"$sf"}"""

  def main(args: Array[String]): Unit = {
    val realOut = System.out
    // Anything printed during the run (Spark, libs, stray warnings) goes
    // to stderr; only the final JSON line touches the real stdout.
    System.setOut(System.err)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    // min-of-3 by default: this container shows 4× single-query swings
    // between consecutive identical-binary runs; two samples still let a
    // double-hit outlier through, three rarely do (~1 min extra total)
    val runs = sys.env.getOrElse("SPARK_GRAFT_RUNS", "3").toInt
    val spark = Tables.session(s"local[$cpus]", cpus)
    spark.sparkContext.setLogLevel("ERROR") // keep WARNs out of the tail
    Tables.names.foreach { n =>
      try Tables.load(spark, sfDir, n).count()
      catch { case NonFatal(e) => // missing table: the query will report
        System.err.println(s"[bench] warm-up scan of '$n' failed: ${e.getMessage}")
      }
    }
    // Calibration: fixed-size, input-independent, whole-stage-codegen'd
    // in-memory aggregate. Its time depends only on the machine's usable
    // CPU, so a throttled/contended container is provable from the
    // artifact (local baseline ≈0.1–0.3 s at 32 cores).
    import org.apache.spark.sql.functions.{col, sum}
    def calOnce(): Double = {
      val t0 = System.nanoTime()
      spark.range(500L * 1000 * 1000)
        .select(sum(col("id") * 2L + 1L)).collect()
      (System.nanoTime() - t0) / 1e9
    }
    calOnce() // codegen warm-up, not measured
    val calRuns = (1 to runs).map(_ => calOnce())
    val cal = calRuns.min
    // Memory canary: cal is CPU-bound and blind to memory pressure (one
    // external sweep ran 25% slower with 3× RSS while cal moved only
    // +9% — memory-side degradation needs its own instrument). This
    // one persists a fixed ~320 MB relation into the unified storage
    // pool and scans it twice — heap pressure, eviction/recompute, or a
    // host with degraded memory bandwidth shows up HERE while cal stays
    // flat. Fixed size, input-independent; local baseline ≈0.3–0.8 s at
    // 32 cores / 8 GiB heap.
    def memCalOnce(): Double = {
      val df = spark.range(20L * 1000 * 1000)
        .select(col("id"), (col("id") * 2654435761L + 12345L).as("a"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
      val t0 = System.nanoTime()
      df.count() // populate the cache
      // mod keeps the 20M-row sum ~2e13, far from Long overflow
      (1 to 2).foreach(_ => df.select(sum(col("a") % 1000003L + col("id"))).collect())
      val dt = (System.nanoTime() - t0) / 1e9
      df.unpersist(blocking = true)
      dt
    }
    memCalOnce() // warm-up (codegen + block-manager paths), not measured
    val memCalRuns = (1 to runs).map(_ => memCalOnce())
    val memcal = memCalRuns.min
    // Per-query contention canary: the whole-sweep cal/memcal pair can
    // adjudicate a degraded container but cannot TIMESTAMP a co-tenant
    // burst that hits mid-sweep (both run once, before the sweep). This
    // is the same fixed in-memory aggregate at 1/10 scale (~15 ms at 32
    // healthy cores), timed immediately before each query and recorded
    // per-query in the detail sidecar — a spike in one query's time
    // with a flat cal_q is code/residency; a spike WITH a cal_q spike
    // is the environment, self-adjudicating from the artifact alone.
    def calQOnce(): Double = {
      val t0 = System.nanoTime()
      spark.range(50L * 1000 * 1000)
        .select(sum(col("id") * 2L + 1L)).collect()
      (System.nanoTime() - t0) / 1e9
    }
    calQOnce() // dedicated warm-up (plan differs from calOnce by range size)
    // Per-query telemetry for the sidecar: current RSS (not the
    // monotonic HWM), cumulative JVM GC millis, and Spark storage-pool
    // occupancy — so a sweep-position residency effect (a contiguous
    // stretch of queries running hot under a resident cache) is
    // attributable from the artifact alone.
    def statusKb(field: String): Long = // closes the fd (called per query)
      try scala.jdk.CollectionConverters.ListHasAsScala(
        java.nio.file.Files.readAllLines(
          java.nio.file.Paths.get("/proc/self/status"))).asScala
        .collectFirst { case l if l.startsWith(field + ":") =>
          l.split("\\s+")(1).toLong }.getOrElse(-1L)
      catch { case NonFatal(_) => -1L }
    def rssNowKb(): Long = statusKb("VmRSS")
    def gcNowMs(): Long = scala.jdk.CollectionConverters.ListHasAsScala(
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans)
      .asScala.map(_.getCollectionTime.max(0L)).sum
    def compilesNow(): Long = org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME.getCount
    def cachedKb(): Long =
      try {
        val info = spark.sparkContext.getRDDStorageInfo
        (info.map(_.memSize).sum + info.map(_.diskSize).sum) / 1024
      } catch { case NonFatal(_) => -1L }
    // SPARK_GRAFT_ONLY=q42_repetition,q66_pmi — iterate on a subset
    // without paying the full sweep; the external harness never sets it
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    var failed = List.empty[String]
    // Numeric sweep order (q100 after q99): lexicographic order ran the
    // q1xx block FIRST, building family caches at position ~0 whose last
    // consumers sorted at the very end — every family stayed resident
    // across almost the whole sweep (measured: a q15–q22 stretch ran
    // 2–5× its solo times purely from that residency).
    val sweep = SparkEntry.benchQueries.toSeq
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .sortBy { case (n, _) => SparkEntry.sweepOrder(n) }
    val sweepNames = sweep.map(_._1)
    // Release positions are COMPUTED from the declared consumer sets and
    // the actual (filtered, sorted) sweep: family released right after
    // the max sweep index over its consumers — by construction every
    // release point is >= its last consumer's position, for any query
    // set and any naming. CacheLifecycleSpec pins the declared sets to
    // the empirical `cache_touch` events.
    val famSpans: Seq[(String, Int, Int, () => Unit)] =
      SparkEntry.cacheFamilies.toSeq.flatMap { case (fam, cf) =>
        cf.consumers.filterNot(SparkEntry.queries.contains).foreach { m =>
          System.err.println(
            s"[bench] WARNING: cache family '$fam' declares unknown consumer '$m'")
        }
        val idxs = cf.consumers.map(sweepNames.indexOf).filter(_ >= 0)
        if (idxs.isEmpty) None else Some((fam, idxs.min, idxs.max, cf.release))
      }
    val releaseAt: Map[Int, Seq[(String, () => Unit)]] =
      famSpans.groupBy(_._3).map { case (i, fs) =>
        i -> fs.map { case (fam, _, _, rel) => (fam, rel) }
      }
    // Families whose declared consumer span covers sweep position `pos` —
    // the cache-occupancy column: built at the first consumer, dropped
    // right after the last.
    def residentFams(pos: Int): Seq[String] =
      famSpans.collect { case (fam, lo, hi, _) if lo <= pos && pos <= hi => fam }
        .sorted
    releaseAt.toSeq.sortBy(_._1).foreach { case (i, fams) =>
      System.err.println(s"[bench] release plan: ${fams.map(_._1).mkString(",")} " +
        s"after #$i ${sweepNames(i)}")
    }
    val results = sweep.zipWithIndex.map { case ((name, fn), pos) =>
      val calQms = calQOnce() * 1000.0 // contention canary at THIS position
      val gc0 = gcNowMs()
      val compiles0 = compilesNow()
      val (timed, runEvents) = (1 to runs).map { i =>
        val t0 = System.nanoTime()
        val (ok, evs) = Events.scoped(name) {
          try { fn(spark, sfDir).write.mode("overwrite").format("noop").save(); true }
          catch { case NonFatal(e) =>
            if (!failed.contains(name)) failed ::= name // any failing run marks it
            System.err.println(s"[bench] $name run $i failed: ${e.getMessage}")
            false
          }
        }
        val dt = (System.nanoTime() - t0) / 1e9
        ((dt, ok), evs.map(e => e.copy(fields = e.fields :+ ("run" -> i))))
      }.unzip
      // A crashed run often "finishes" in near-zero time; letting it into
      // the min would report the crash duration as the query's time. Use
      // the min over SUCCESSFUL runs; only when every run failed fall back
      // to the raw min (the query is in "failed" either way).
      val good = timed.collect { case (t, true) => t }
      val best = if (good.nonEmpty) good.min else timed.map(_._1).min
      // Telemetry snapshot BEFORE the release hook: this is the state the
      // query actually ran under (resident families + their bytes).
      val tele = QueryTelemetry(calQms, rssNowKb(), gcNowMs() - gc0, cachedKb(),
        residentFams(pos), compilesNow() - compiles0, runEvents.flatten)
      // bounded cache story: drop a family's shared caches once the
      // sweep is past its computed last consumer (outside the timed runs)
      val releases = releaseAt.getOrElse(pos, Nil).map { case (fam, rel) =>
        rel()
        Events.Event(Some(name), "cache_release", fam,
          Seq("persistent_rdds" -> spark.sparkContext.getPersistentRDDs.size, "run" -> runs))
      }
      // Periodic driver GC OUTSIDE the timed runs: transient
      // localCheckpoint RDDs (e.g. Dsir.selectTopK's feature frame) are
      // reclaimed by the ContextCleaner only when the driver GC collects
      // their DataFrame references, so their storage lifetime was
      // GC-timing-dependent — r16 dropped q100's checkpoint by q101, r17
      // (half the driver GC) carried it to q125 and held 28-vs-15
      // persistent RDDs at the q185 release point, which read as a
      // residency regression when nothing had changed. A GC every 16
      // positions bounds the linger deterministically and keeps
      // cached_kb / RDD-count telemetry comparable across rounds.
      if ((pos & 15) == 15) System.gc()
      (name, best, timed, tele.copy(events = tele.events ++ releases))
    }
    // crashed runs emit null, not their near-zero crash duration — a
    // consumer computing spread/mean from all_runs must not absorb them
    val raw = results.map { case (k, _, ts, _) =>
      "\"" + k + "\":" + ts.map { case (t, ok) =>
        if (ok) f"$t%.3f" else "null"
      }.mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    // Per-query residency telemetry (the adjudication columns: WHICH queries ran
    // with WHAT resident, and what RSS/GC they saw — the three columns
    // that distinguish a cache-release bug from container memory
    // pressure).
    val perQuery = results.map { case (k, _, _, t) => "\"" + k + "\":" + t.json }
      .mkString("{", ",", "}")
    val fl = failed.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = results.map(_._2).sum
    val sf = sfDir.split("/sf").last
    val calRaw = calRuns.map(t => f"$t%.3f").mkString("[", ",", "]")
    val gcMs = gcNowMs()
    val rssPeakKb = statusKb("VmHWM")
    // The stdout contract is ONE parseable JSON line, and the consumer
    // only keeps the last ~2000 chars of output — with 70+ queries the
    // per-run detail blew that budget (early sweeps arrived truncated), so
    // the raw runs + telemetry go to a sidecar file and the line stays
    // compact (re-measure its length whenever queries are added).
    val memCalRaw = memCalRuns.map(t => f"$t%.3f").mkString("[", ",", "]")
    val detail = renderDetail(total, runs, cal, calRaw, memcal, memCalRaw,
      gcMs, rssPeakKb, raw, perQuery, fl, sf)
    // Top movers vs the PREVIOUS sidecar (read before overwrite):
    // bounded stderr observability for per-query regressions that the
    // tier-3 headline cannot carry. Never touches stdout or timing.
    try {
      val prev = parseDetailBest(new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("bench_detail.json")), "UTF-8"))
      val now = results.map { case (k, v, _, _) => (k, v) }.toMap
      val movers = topMovers(prev, now, failed.toSet)
      if (movers.nonEmpty) movers.foreach(System.err.println)
      else if (prev.nonEmpty)
        System.err.println("[bench] movers vs prev detail: none over 0.3s+25%")
    } catch { case NonFatal(_) => () } // first run / unreadable prev: silent
    try java.nio.file.Files.write(java.nio.file.Paths.get("bench_detail.json"),
      detail.getBytes("UTF-8"))
    catch { case NonFatal(e) => System.err.println(s"[bench] detail write failed: ${e.getMessage}") }
    // The line is the LAST stdout line, so the consumer's 2000-char tail
    // clips preceding lines, not the JSON — the hard cap is line+\n <= 2000.
    // fitHeadline picks full names → qNN prefixes → no per-query map
    // (bench_detail.json always carries full names + per-run times).
    // SPARK_GRAFT_HEADLINE_CAP: test-only override (the external
    // harness never sets it)
    // to force a lower tier end-to-end — the tier-3 dry-run knob.
    val cap = sys.env.getOrElse("SPARK_GRAFT_HEADLINE_CAP", "1990").toInt
    val (line, tier) = fitHeadline(
      renderHeadline(total, runs, cal, memcal, sf),
      results.map { case (k, v, _, _) => (k, v) }, failed.sorted, cap)
    if (tier > 1) System.err.println(
      s"[bench] full-name headline over $cap chars: using tier-$tier form" +
        (if (tier == 3) " (per-query times in bench_detail.json only)" else ""))
    System.err.println(s"[bench] headline line length = ${line.length} chars (hard cap $cap)")
    if (line.length > cap)
      System.err.println("[bench] WARNING: headline line exceeds the consumer tail window!")
    spark.stop()
    // Printed last, to the real stdout, after Spark is fully shut down:
    // nothing else can land in the consumer's tail window after this.
    realOut.println(line)
    realOut.flush()
  }
}
