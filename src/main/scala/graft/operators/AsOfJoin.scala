package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.streaming.ValueFold

/** Event-time as-of join — the temporal lookup Spark has no native
  * operator for: for each left row, attach the most recent right row
  * with the same key and `right.ts <= left.ts` (inclusive).
  *
  * Implementation is the scalable union-and-sweep form, not a join:
  * both sides union into one relation tagged by side, a single window
  * pass per key carries the latest right payload forward (`last(...,
  * ignoreNulls)` over a running frame), and left rows project it out.
  *
  * Scale shape: exactly ONE shuffle, keyed by the join key — no range
  * cross product, no per-row backward scan, no broadcast requirement on
  * either side (both may be corpus-sized). The window's running `last`
  * is O(1) state per row. Skew is bounded by per-key event counts, the
  * same bound any per-key sessionization already carries (q10/q38).
  *
  * Determinism: ordering is (ts, side, tiebreak) with right rows first
  * at equal ts, so (a) a right row exactly AT the left ts is matched
  * (inclusive as-of, the common market-data convention), and (b) among
  * right rows sharing one ts the highest tiebreak value wins — no
  * partitioning-dependent result, which the hash gate requires.
  */
object AsOfJoin {

  /** @param left      rows to enrich (all columns preserved)
    * @param right     lookup-side rows
    * @param keys      equi-join key columns (present on both sides)
    * @param tsCol     event-time column name (present on both sides)
    * @param tieCol    right-side column breaking equal-ts ties (max wins)
    * @param payload   right-side columns to attach
    * @return left.* plus a `matched` struct of `payload` columns — null
    *         where no right row at-or-before the left row's ts exists */
  def asOf(left: DataFrame, right: DataFrame, keys: Seq[String],
      tsCol: String, tieCol: String, payload: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "asOf: at least one key column")
    require(payload.nonEmpty, "asOf: at least one payload column")
    val payStruct = struct(payload.map(col): _*)
    val payType = right.select(payStruct.as("p")).schema("p").dataType
    val keyCols: Seq[Column] = keys.map(col)

    val r = right.select(keyCols ++ Seq(
      col(tsCol).as("__ts"), lit(0).as("__side"),
      col(tieCol).cast("long").as("__tie"),
      payStruct.as("__pay"), lit(null).cast("binary").as("__row")): _*)
    // Left rows ride as a struct so arbitrary left schemas survive the
    // union; right rows carry a null in that slot.
    val leftStruct = struct(left.columns.map(col).toSeq: _*)
    val l = left.select(keyCols ++ Seq(
      col(tsCol).as("__ts"), lit(1).as("__side"),
      lit(Long.MaxValue).as("__tie"),
      lit(null).cast(payType).as("__pay"), leftStruct.as("__row")): _*)
    // Spark unions by position; both branches were built column-aligned,
    // but unionByName makes the invariant explicit.
    val tagged = r.withColumn("__row", lit(null).cast(l.schema("__row").dataType))
      .unionByName(l)

    val w = Window.partitionBy(keyCols: _*)
      .orderBy(col("__ts"), col("__side"), col("__tie"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val enriched = tagged
      .withColumn("matched", last(col("__pay"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
    enriched.select(left.columns.map(c => col(s"__row.$c").as(c)).toSeq
      :+ col("matched"): _*)
  }

  /** One stream event: side 0 = lookup/right, side 1 = probe/left; `id`
    * is the payload identifier and the equal-ts tiebreak (max wins). */
  case class AsOfEvent(key: Long, side: Int, ts_us: Long, id: Long)
  /** Emitted for each left event: the matched right id/ts, null-free
    * variant uses matched = -1 when nothing preceded. */
  case class AsOfMatch(key: Long, left_id: Long, ts_us: Long,
      matched_id: Option[Long], matched_ts: Option[Long])
  private[operators] case class AsOfState(rightTs: Long, rightId: Long)

  /** Streaming form — real-time enrichment: each left event is matched
    * against the LATEST right event seen so far for its key (state is
    * one (ts, id) pair per key — O(1), checkpointed; a Storm bolt's
    * in-memory last-value map, made restart-safe).
    *
    * Parity with [[asOf]] holds for streams delivered in event-time
    * order per key: within a micro-batch events process in (ts, side,
    * id) order — right before left at equal ts, max id among equal-ts
    * rights — exactly the batch window order; a cross-batch LATE right
    * event cannot rewrite matches already emitted (streaming
    * monotonicity, same trade as [[Funnel.funnelStreaming]]). */
  def asOfStreaming(events: Dataset[AsOfEvent]): Dataset[AsOfMatch] = {
    import events.sparkSession.implicits._
    ValueFold(events.groupByKey(_.key)) {
      (key, it, prior: Option[AsOfState]) =>
        var latest = prior
        val out = List.newBuilder[AsOfMatch]
        it.toSeq.sortBy(e => (e.ts_us, e.side, e.id)).foreach { e =>
          if (e.side == 0) {
            if (latest.forall(s => e.ts_us > s.rightTs ||
                (e.ts_us == s.rightTs && e.id >= s.rightId)))
              latest = Some(AsOfState(e.ts_us, e.id))
          } else {
            out += AsOfMatch(key, e.id, e.ts_us,
              latest.map(_.rightId), latest.map(_.rightTs))
          }
        }
        (latest, out.result().iterator)
    }
  }
}
