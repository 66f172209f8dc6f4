package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.streaming.ValueFold

/** Ordered-funnel analysis — the sequential-pattern operator of product
  * analytics (signup → click → purchase conversion): step i is reached
  * at the EARLIEST event of its type at-or-after the step-(i−1) time
  * and within `maxGap` of it; a user enters the funnel at their first
  * `steps(0)` event.
  *
  * Scale shape: ONE hash exchange on the user key. Each step time is a
  * per-user window aggregate whose predicate references the previous
  * step's window column — every Window node shares the same partition
  * spec, so Catalyst stacks them on a single exchange, and the final
  * per-user collapse is already co-partitioned (no second shuffle; the
  * plan audit in PLANS.md shows exactly one Exchange before the
  * presentation sort). No self-joins per step — the join formulation
  * re-shuffles the full event relation once per funnel stage, which is
  * the difference between 1 and |steps| corpus shuffles at 100 TB.
  *
  * Determinism: `min` per step; no tie-breaking needed. */
object Funnel {

  /** @return one row per funnel-entering user: the key, `t0..tn`
    *         (nullable step timestamps) and `steps_completed` (1-based,
    *         BIGINT) */
  def funnel(events: DataFrame, userCol: String, tsCol: String,
      typeCol: String, steps: Seq[String],
      maxGap: String = "24 hours"): DataFrame = {
    require(steps.nonEmpty, "funnel: at least one step")
    val w = Window.partitionBy(col(userCol))
    val gap = expr(s"INTERVAL $maxGap")
    var d = events.select(col(userCol), col(tsCol).as("_ts"),
      col(typeCol).as("_et"))
    steps.zipWithIndex.foreach { case (s, i) =>
      val cond =
        if (i == 0) col("_et") === s
        else col("_et") === s && col(s"_t${i - 1}").isNotNull &&
          col("_ts") >= col(s"_t${i - 1}") &&
          col("_ts") <= col(s"_t${i - 1}") + gap
      d = d.withColumn(s"_t$i", min(when(cond, col("_ts"))).over(w))
    }
    val firstAggs = steps.indices.map(i => first(col(s"_t$i")).as(s"t$i"))
    d.groupBy(col(userCol))
      .agg(firstAggs.head, firstAggs.tail: _*)
      .filter(col("t0").isNotNull)
      .withColumn("steps_completed",
        steps.indices.map(i =>
          when(col(s"t$i").isNotNull, 1L).otherwise(0L)).reduce(_ + _))
  }

  /** One funnel event: (user, event type, event-time micros). */
  case class FunnelEvent(user_id: Long, event_type: String, ts_us: Long)
  /** Emitted whenever a user's funnel advances: the step index (0-based)
    * and the event-time that reached it. */
  case class FunnelAdvance(user_id: Long, step: Int, ts_us: Long)
  private[operators] case class FunnelState(reached: List[Long])

  /** Streaming form — live conversion tracking with checkpointed
    * per-user state (W6: survives restart, where a Storm bolt's buffer
    * would not). Emits a [[FunnelAdvance]] row the moment a user's
    * funnel advances a step; state is the list of reached step times
    * (≤ |steps| longs per user — bounded, no event buffering).
    *
    * Parity with [[funnel]] holds for streams delivered in event-time
    * order per user: within a micro-batch events process in ts order
    * (arrival order is undefined under retries — the same documented
    * device as [[graft.streaming.PunctuationWindow]]), but a
    * cross-batch LATE event cannot retro-advance an earlier step
    * (streaming monotonicity — the standard funnel-tracking trade). */
  def funnelStreaming(events: Dataset[FunnelEvent], steps: Seq[String],
      maxGapUs: Long): Dataset[FunnelAdvance] = {
    require(steps.nonEmpty, "funnelStreaming: at least one step")
    import events.sparkSession.implicits._
    ValueFold(events.groupByKey(_.user_id)) {
      (user, it, prior: Option[FunnelState]) =>
        var reached = prior.map(_.reached).getOrElse(Nil)
        val out = List.newBuilder[FunnelAdvance]
        // ties at one ts process in STEP order (non-step events last),
        // so an equal-ts next-step event still advances — the same
        // inclusive bound the batch form's (ts, side) window order has
        def stepIdx(t: String) = { val i = steps.indexOf(t)
          if (i < 0) Int.MaxValue else i }
        it.toSeq.sortBy(e => (e.ts_us, stepIdx(e.event_type))).foreach { e =>
          val next = reached.length
          if (next < steps.length && e.event_type == steps(next)) {
            val eligible =
              if (next == 0) true
              else e.ts_us >= reached.head &&
                e.ts_us <= reached.head + maxGapUs
            if (eligible) {
              reached = e.ts_us :: reached
              out += FunnelAdvance(user, next, e.ts_us)
            }
          }
        }
        (Option.when(reached.nonEmpty)(FunnelState(reached)),
          out.result().iterator)
    }
  }
}
