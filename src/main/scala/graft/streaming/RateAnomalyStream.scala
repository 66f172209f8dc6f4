package graft.streaming

import org.apache.spark.sql.Dataset

/** Streaming twin of q109's event-rate anomaly detector
  * ([[graft.queries.CoreQueries.rateAnomalyOf]]): per-event-type hourly
  * counts scored against a trailing baseline of the last 6 OBSERVED
  * windows, as O(1)-per-key [[ValueFold]] state (the current
  * open hour plus a 6-deep count history — the same bounded-state
  * discipline as [[graft.operators.AsOfJoin.asOfStreaming]]).
  *
  * Emission: one row per CLOSED hour (an hour closes when a later-hour
  * event arrives for that key), in append mode. The batch twin scores
  * every observed hour including each key's last; a consumer comparing
  * the two drops the still-open final hour per key. Late events into an
  * already-closed hour are dropped — the streaming monotonicity trade
  * documented on the as-of and funnel forms.
  *
  * The z arithmetic is the batch form verbatim: integer sums, one
  * double division chain, variance clamped at zero before sqrt, and
  * HALF_UP rounding to 6 decimals on the identical double — so emitted
  * values are bit-equal to the batch rows (StreamingSpec pins this). */
object RateAnomalyStream {

  case class RateEvent(event_type: String, ts_us: Long)
  case class RateWindow(event_type: String, window_start_us: Long,
    n_events: Long, n_prev: Long, baseline_mean: Option[Double],
    z: Option[Double])
  case class RateState(hourStart: Long, count: Long, history: List[Long])

  private val HourUs = 3600L * 1000000L

  // two-stage like the batch column: double → DECIMAL(28,10) (HALF_UP)
  // → round(…, 6) — a single setScale(6) could double-round differently
  private def round6(v: Double): Double =
    BigDecimal(v).setScale(10, BigDecimal.RoundingMode.HALF_UP)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Score one closed window against its history (batch arithmetic). */
  def scoreWindow(key: String, hourStart: Long, count: Long,
      history: List[Long]): RateWindow = {
    val n = history.length
    if (n < 3) RateWindow(key, hourStart, count, n.toLong, None, None)
    else {
      val sp = history.sum
      val ssp = history.map(c => c * c).sum
      val mean = sp.toDouble / n.toDouble
      val varD = math.max(
        (ssp.toDouble - sp.toDouble * sp.toDouble / n.toDouble) / n.toDouble, 0.0)
      val std = math.sqrt(varD)
      val z = if (std > 0.0) Some(round6((count.toDouble - mean) / std)) else None
      RateWindow(key, hourStart, count, n.toLong, Some(round6(mean)), z)
    }
  }

  /** Raw events → scored closed hours, keyed state bounded at 7 longs
    * per event type. */
  def anomalies(events: Dataset[RateEvent]): Dataset[RateWindow] = {
    import events.sparkSession.implicits._
    ValueFold(events.groupByKey(_.event_type)) {
      (key, it, prior: Option[RateState]) =>
        var st = prior
        val out = List.newBuilder[RateWindow]
        it.toSeq.sortBy(_.ts_us).foreach { e =>
          val h = e.ts_us - java.lang.Math.floorMod(e.ts_us, HourUs)
          st match {
            case None =>
              st = Some(RateState(h, 1L, Nil))
            case Some(s) if h == s.hourStart =>
              st = Some(s.copy(count = s.count + 1))
            case Some(s) if h > s.hourStart =>
              out += scoreWindow(key, s.hourStart, s.count, s.history)
              st = Some(RateState(h, 1L, (s.count :: s.history).take(6)))
            case Some(_) => // late event into a closed hour: dropped
          }
        }
        (st, out.result().iterator)
    }
  }
}
