package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.telemetry.Events

/** Pins the bench_detail.json sidecar SCHEMA and the top-movers stderr
  * block (r20, VERDICT r19 item 7): at 250+ queries the stdout headline
  * is the tier-3 form (`"queries":{}`), so the sidecar is the ONLY
  * per-query artifact — consumers (the driver's PERF comparison, the
  * judge's adjudications) need its key set stable across rounds. The
  * template lives in [[Bench.renderDetail]] so this spec and the live
  * sidecar cannot drift. */
class BenchDetailSchemaSpec extends AnyFunSuite {

  private val sample = Bench.renderDetail(
    total = 12.345, runs = 3, cal = 0.2, calRaw = "[0.200,0.210,0.220]",
    memcal = 0.7, memCalRaw = "[0.700,0.710,0.720]", gcMs = 1234L,
    rssPeakKb = 5678L,
    raw = """{"q01_a":[1.000,2.000,null],"q02_b":[0.500,0.400,0.450]}""",
    perQuery = Seq(
        "q01_a" -> Bench.QueryTelemetry(55.0, 1L, 2L, 3L, Seq("tf"), 40L, Seq(
          Events.Event(Some("q01_a"), "fixpoint", "withRoots", Seq("rounds" -> 3, "run" -> 1)),
          Events.Event(Some("q01_a"), "cache_release", "tf",
            Seq("persistent_rdds" -> 2, "run" -> 3)))),
        "q02_b" -> Bench.QueryTelemetry(60.0, 1L, 2L, 3L, Nil, 0L, Nil))
      .map { case (k, t) => "\"" + k + "\":" + t.json }.mkString("{", ",", "}"),
    fl = """["q01_a"]""", sf = "0.1")

  test("renderDetail emits parseable JSON with the pinned key set") {
    // json4s rides in on the Spark classpath — no new dependency
    val parsed = org.json4s.jackson.JsonMethods.parse(sample)
    val keys = parsed.asInstanceOf[org.json4s.JObject].obj.map(_._1)
    assert(keys == List("metric", "value", "unit", "runs", "cal",
      "cal_runs", "memcal", "memcal_runs", "gc_ms", "rss_peak_kb",
      "all_runs", "per_query", "failed", "sf"),
      s"detail schema drifted: $keys")
    // per-query telemetry object key set is pinned too
    val pq = (parsed \ "per_query" \ "q01_a")
      .asInstanceOf[org.json4s.JObject].obj.map(_._1)
    assert(pq == List("cal_q_ms", "rss_kb", "gc_ms", "cached_kb", "fams",
      "codegen_compiles", "events"))
    val ev = (parsed \ "per_query" \ "q01_a" \ "events")(0)
    assert(ev.asInstanceOf[org.json4s.JObject].obj.map(_._1) ==
      List("query", "kind", "name", "rounds", "run"))
  }

  test("parseDetailBest extracts min-of-runs and skips crashed (null) runs") {
    val best = Bench.parseDetailBest(sample)
    assert(best == Map("q01_a" -> 1.0, "q02_b" -> 0.4))
    // unreadable / schema-less text degrades to empty, never throws
    assert(Bench.parseDetailBest("not json").isEmpty)
    assert(Bench.parseDetailBest("").isEmpty)
  }

  test("topMovers: both thresholds required, sorted by |delta|, capped") {
    val prev = Map("a" -> 1.0, "b" -> 0.5, "c" -> 4.0, "d" -> 0.1)
    val now = Map(
      "a" -> 1.25, // +0.25 s: under the 0.3 s floor — excluded
      "b" -> 0.62, // +24%: under the 25% floor — excluded
      "c" -> 1.0, // -3.0 s and -75%: in, largest delta first
      "d" -> 0.5, // +0.4 s and +400%: in
      "e" -> 9.9) // no previous reading — excluded
    val lines = Bench.topMovers(prev, now, failed = Set.empty)
    assert(lines == Seq(
      "[bench] mover c: 4.00 -> 1.00 s",
      "[bench] mover d: 0.10 -> 0.50 s"))
    assert(Bench.topMovers(prev, now, failed = Set.empty, cap = 1).size == 1)
  }

  test("topMovers: a crashed query is never reported as a mover") {
    // every run of "a" crashed, so its near-zero time is no reading
    val prev = Map("a" -> 5.0, "b" -> 1.0)
    val now = Map("a" -> 0.001, "b" -> 2.0)
    assert(Bench.topMovers(prev, now, failed = Set("a")) ==
      Seq("[bench] mover b: 1.00 -> 2.00 s"))
  }
}
