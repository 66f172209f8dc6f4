package graft.queries

import graft.telemetry.Events

/** A shared query-family cache: the set of `SparkEntry.queries` names
  * that consume it, plus the hook that drops it (unpersist + reference
  * drop). `consumers` is the single source of truth the Bench sweep uses
  * to COMPUTE each family's release position from the actual sweep order
  * (sort the real query list, take the max index over consumers) — round
  * 9's hand-maintained release-after-name map silently went stale when a
  * new consumer sorted past the named release point (q1xx names sorted
  * before q2x and held family caches resident across the whole sweep).
  * CacheLifecycleSpec verifies the declared sets against the EMPIRICAL
  * `cache_touch` events, so a forgotten consumer fails `sbt test`
  * instead of silently inflating the bench. */
final case class CacheFamily(consumers: Set[String], release: () => Unit)

object CacheRegistry {
  /** Every cache getter calls this on every access (not just first
    * population): it records a `cache_touch` event in the active query
    * scope, so constructing each query once in its own scope yields the
    * exact query→family consumption map with no hand maintenance. */
  def touch(family: String): Unit = Events.record("cache_touch", family)
}
