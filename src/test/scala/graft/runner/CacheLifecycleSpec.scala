package graft.runner

import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkEntry, TestSpark}
import graft.telemetry.Events

/** Pins the declared cache-family consumer sets (SparkEntry.cacheFamilies)
  * to the EMPIRICAL `cache_touch` events: every query is constructed once,
  * in its own event scope, at sf0.001 in the exact Bench sweep order
  * starting from cold caches, so
  * the recorded map reproduces the sweep's warm/cold pattern — including
  * the transitive cold-build edges (the first clusters consumer also
  * touches minhash). A new query that rides a shared cache without being
  * declared as a consumer fails HERE instead of silently being swept past
  * its family's computed release point in Bench. */
class CacheLifecycleSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("declared cache-family consumers equal empirical touches in sweep order") {
    val dir = "/root/testdata/sf0.001"
    // every declared consumer must be a real query name (catches renames)
    SparkEntry.cacheFamilies.foreach { case (fam, cf) =>
      val unknown = cf.consumers.filterNot(SparkEntry.queries.contains)
      assert(unknown.isEmpty,
        s"family '$fam' declares unknown consumers: ${unknown.mkString(", ")}")
    }
    SparkEntry.cacheFamilies.values.foreach(_.release()) // cold start
    val names = SparkEntry.queries.keys.toSeq.sortBy(SparkEntry.sweepOrder)
    try {
      // construction touches caches
      val touches = names.flatMap(n => Events.scoped(n)(SparkEntry.queries(n)(spark, dir))._2)
        .filter(_.kind == "cache_touch")
      val empirical = touches.groupMap(_.name)(_.query.get).map { case (f, qs) => f -> qs.toSet }
      val declared = SparkEntry.cacheFamilies.map { case (k, f) => k -> f.consumers }
      val fams = (empirical.keySet ++ declared.keySet).toSeq.sorted
      val diffs = fams.flatMap { f =>
        val e = empirical.getOrElse(f, Set.empty)
        val d = declared.getOrElse(f, Set.empty)
        if (e == d) None
        else Some(s"family '$f': undeclared=${(e -- d).toSeq.sorted.mkString(",")} " +
          s"stale=${(d -- e).toSeq.sorted.mkString(",")}")
      }
      assert(diffs.isEmpty, "declared/empirical consumer mismatch:\n" +
        diffs.mkString("\n"))
    } finally SparkEntry.cacheFamilies.values.foreach(_.release())
  }
}
