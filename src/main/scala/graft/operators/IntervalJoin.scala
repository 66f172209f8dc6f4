package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.streaming.ValueFold

/** Interval-overlap aggregation — the range-join shape Spark has no
  * native operator for: per interval [start, end] (inclusive), the
  * count of same-key events with `start <= ts <= end` (ad-attribution
  * windows, session containment, SLA windows).
  *
  * A naive formulation is an equi-key join with a range predicate —
  * Catalyst plans it as a per-key cross product, quadratic in per-key
  * row counts. This is the scalable UNION-AND-SWEEP form (the
  * [[AsOfJoin]] device extended to two probes): interval endpoints and
  * events union into one relation, ONE window pass per key computes
  * the running event count, and each interval's overlap count is the
  * difference of the counts its two probes observed —
  * `n = c(end⁺) − c(start⁻)`. Exactly one shuffle keyed by the join
  * key; no cross product; O(1) window state per row; both sides may be
  * corpus-sized (no broadcast requirement).
  *
  * Inclusive-bound determinism: the sweep orders (ts, side) with
  * start-probes BEFORE events at equal ts and end-probes AFTER —
  * an event exactly at `start` or `end` counts, for any partitioning.
  * Counts are exact integers, so the result hashes identically across
  * engines (the DuckDB oracle runs the naive range join — a different
  * algorithm entirely — and must agree bit-for-bit).
  */
object IntervalJoin {

  /** @param intervals one row per interval; `idCol` must be unique
    * @param events    point rows; only `keys` + `tsCol` are read
    * @param keys      equi-join key columns (present on both sides)
    * @param idCol     interval identity column (long-castable, unique)
    * @param startCol/endCol/tsCol event-time columns (same type)
    * @return intervals.* + `n_events` (events in [start, end], inclusive) */
  def intervalCount(intervals: DataFrame, events: DataFrame,
      keys: Seq[String], idCol: String, startCol: String, endCol: String,
      tsCol: String): DataFrame = {
    require(keys.nonEmpty, "intervalCount: at least one key column")
    val k: Seq[Column] = keys.map(col)
    // inverted interval (end < start) would silently emit a NEGATIVE
    // count (its end-probe runs before its start-probe); raise loudly
    // per row instead — woven INTO the emitted column so ColumnPruning
    // cannot drop the check (the nbRelevance assert_true device)
    val checkedStart = when(
      assert_true(col(startCol) <= col(endCol),
        lit("intervalCount: interval with start > end")).isNull,
      col(startCol))
    // side order encodes the inclusive bounds: start-probe (0) sees the
    // count BEFORE equal-ts events (so they land inside), event (1),
    // end-probe (2) sees the count AFTER them
    val sp = intervals.select(k ++ Seq(checkedStart.as("__ts"),
      lit(0).as("__side"), col(idCol).cast("long").as("__iid")): _*)
    val ev = events.select(k ++ Seq(col(tsCol).as("__ts"),
      lit(1).as("__side"), lit(null).cast("long").as("__iid")): _*)
    val ep = intervals.select(k ++ Seq(col(endCol).as("__ts"),
      lit(2).as("__side"), col(idCol).cast("long").as("__iid")): _*)
    val w = Window.partitionBy(k: _*)
      .orderBy(col("__ts"), col("__side"), col("__iid"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val swept = sp.unionByName(ev).unionByName(ep)
      .withColumn("__c",
        sum(when(col("__side") === 1, 1L).otherwise(0L)).over(w))
    // both probes pivot out of ONE pass over the swept relation (two
    // filtered self-references would execute the union+window twice);
    // the aggregate is interval-sized — each __iid has exactly one
    // start and one end probe
    val probes = swept.filter(col("__side") =!= 1)
      .groupBy(col("__iid"))
      .agg(max(when(col("__side") === 0, col("__c"))).as("__c0"),
        max(when(col("__side") === 2, col("__c"))).as("__c1"))
    intervals
      .join(probes, col(idCol).cast("long") === col("__iid"))
      .withColumn("n_events", col("__c1") - col("__c0"))
      .drop("__iid", "__c0", "__c1")
  }

  /** Idiomatic STOCK formulation of streaming attribution — Spark's
    * native watermarked stream-stream inner join (the documented
    * impression/click pattern), beside the [[attributionStreaming]]
    * fold kernel. Each probe row (a purchase) joins every same-key
    * event with `probeTs − window <= ts <= probeTs` (inclusive both
    * ends, the q152 trailing-window semantics); the output is one MATCH
    * row per (probe, event) pair — downstream counts per probe id.
    *
    * This is the formulation a Spark user reaches for first, and the
    * state-size trade vs the fold kernel is why the kernel exists:
    * the native join buffers BOTH sides in the state store until the
    * watermark passes (events for `window + watermark delay`, probes
    * for the delay) and emits |matches| rows — O(events-in-window) per
    * probe — where the fold holds ONE window of timestamps per key and
    * emits one count row per probe. Zero-match probes never emit here
    * (inner join); the fold emits their 0 rows. Exactly-bounded state
    * requires BOTH inputs watermarked and the range condition tying the
    * two event-time columns, which this helper pins by construction.
    *
    * @param probes  streaming frame: keys + `idCol` + `probeTsCol`
    * @param events  streaming frame: keys + `tsCol`
    * @param window  trailing-window SQL interval literal (e.g. "1 hour")
    * @param delay   watermark delay for both sides (e.g. "0 seconds")
    * @return keys + `idCol` + `probeTsCol` + matched `tsCol` */
  def attributionStreamingNative(probes: DataFrame, events: DataFrame,
      keys: Seq[String], idCol: String, probeTsCol: String, tsCol: String,
      window: String, delay: String): DataFrame = {
    require(keys.nonEmpty, "attributionStreamingNative: at least one key")
    val p = probes.withWatermark(probeTsCol, delay).alias("__p")
    val e = events.withWatermark(tsCol, delay).alias("__e")
    val keyCond = keys.map(k => col(s"__p.$k") === col(s"__e.$k"))
      .reduce(_ && _)
    val rangeCond =
      col(s"__e.$tsCol") >= col(s"__p.$probeTsCol") - expr(s"INTERVAL $window") &&
      col(s"__e.$tsCol") <= col(s"__p.$probeTsCol")
    p.join(e, keyCond && rangeCond, "inner")
      .select(keys.map(k => col(s"__p.$k")) ++
        Seq(col(s"__p.$idCol"), col(s"__p.$probeTsCol"), col(s"__e.$tsCol")): _*)
  }

  /** One stream row: `probe = false` is a point event; `probe = true`
    * asks for the count of events in `[ts_us − window, ts_us]`. A row
    * that is both (the purchase that both counts and probes) is fed
    * twice. */
  case class PointEvent(key: Long, ts_us: Long, id: Long, probe: Boolean)
  case class WindowCount(key: Long, probe_id: Long, ts_us: Long,
    n_events: Long)
  private[operators] case class WinState(tss: Vector[Long])

  /** Streaming attribution-window counting — the arrival-time twin of
    * [[intervalCount]] for trailing windows ending AT the probe (the
    * q152 shape run as continuous ingest): per-key state holds the
    * event timestamps still inside any future probe's window; each
    * probe counts the in-window entries; state prunes below
    * `maxSeen − window`, so resident state is bounded by one window's
    * events per key (checkpointed, restart-safe).
    *
    * Parity with the batch sweep holds for streams delivered in
    * event-time order per key (the [[AsOfJoin.asOfStreaming]] trade):
    * within a micro-batch rows process in (ts, probe, id) order —
    * events before probes at equal ts, exactly the batch side order —
    * and the inclusive `[ts − w, ts]` membership test mirrors the
    * probe ordering on both boundaries. A late cross-batch event
    * cannot rewrite an emitted count (streaming monotonicity). */
  def attributionStreaming(events: Dataset[PointEvent],
      windowUs: Long): Dataset[WindowCount] = {
    require(windowUs >= 0, "attributionStreaming: windowUs must be >= 0")
    import events.sparkSession.implicits._
    ValueFold(events.groupByKey(_.key)) {
      (key, it, prior: Option[WinState]) =>
        var buf = prior.map(_.tss).getOrElse(Vector.empty)
        var maxSeen = if (buf.nonEmpty) buf.last else Long.MinValue
        val out = List.newBuilder[WindowCount]
        it.toSeq.sortBy(e => (e.ts_us, e.probe, e.id)).foreach { e =>
          if (!e.probe) {
            buf :+= e.ts_us
            if (e.ts_us > maxSeen) maxSeen = e.ts_us
          } else {
            val lo = e.ts_us - windowUs
            out += WindowCount(key, e.id, e.ts_us,
              buf.count(t => t >= lo && t <= e.ts_us).toLong)
            if (e.ts_us > maxSeen) maxSeen = e.ts_us // probes advance pruning too
          }
        }
        // prune: entries below every future probe's window (arrivals
        // in event-time order ⇒ future probes have ts >= maxSeen); an
        // emptied buffer clears the key
        val keep = buf.filter(_ >= maxSeen - windowUs)
        (Option.when(keep.nonEmpty)(WinState(keep)), out.result().iterator)
    }
  }
}
