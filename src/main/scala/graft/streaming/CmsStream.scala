package graft.streaming

import org.apache.spark.sql.Dataset

/** Streaming count-min sketch — the continuous-ingest face of
  * [[graft.pipeline.Sketches.cmsCounters]]: hashed occurrence updates
  * (the [[graft.pipeline.Sketches.cmsHashed]] (r, bucket, w) shape,
  * computed batch-side per micro-batch) stream in, and a [[ValueFold]]
  * value per (r, bucket) key accumulates the counter. A CMS
  * counter is an order-independent SUM, so the streamed matrix is
  * BIT-IDENTICAL to the batch sketch over the same occurrences — any
  * arrival order, any batch boundaries (CmsStreamSpec pins every
  * counter equal). Each touched counter emits its new value with a
  * generation number (downstream keeps the latest — the
  * TrendingTopKStream upsert contract); a point query
  * est(x) = min over r of counter(r, hash_r(x)) reads d rows of the
  * downstream table. State is d×w longs TOTAL — the item stream never
  * lands in state. */
object CmsStream {

  case class CounterUpdate(r: Long, bucket: Long, w: Long)
  case class CounterValue(r: Long, bucket: Long, counter: Long, gen: Long)
  case class CounterState(counter: Long, gen: Long)

  /** Hashed updates → counter values, append-mode (latest gen per
    * (r, bucket) supersedes). */
  def counters(updates: Dataset[CounterUpdate]): Dataset[CounterValue] = {
    import updates.sparkSession.implicits._
    ValueFold(updates.groupByKey(u => (u.r, u.bucket))) {
      (key, rows, state: Option[CounterState]) =>
        val prior = state.getOrElse(CounterState(0L, 0L))
        val next = CounterState(prior.counter + rows.map(_.w).sum, prior.gen + 1)
        (Some(next),
          Iterator.single(CounterValue(key._1, key._2, next.counter, next.gen)))
    }
  }
}
