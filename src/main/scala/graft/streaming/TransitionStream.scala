package graft.streaming

import org.apache.spark.sql.Dataset

/** Streaming twin of q184's Markov transition extraction
  * ([[graft.queries.CoreQueries.markovTransitionsOf]]): per-user
  * (prev_type, next_type) pairs from an unbounded event stream, with
  * O(1) state per user — the LAST seen (ts, event_id, event_type)
  * triple, nothing else. The batch twin materializes each user's whole
  * ordered history behind a lag window; here a user's history never
  * exists anywhere, so the kernel runs at any stream length.
  *
  * Ordering contract: events within a micro-batch are sorted by
  * (ts_us, event_id) before folding; an event arriving OLDER than the
  * stored last event (out-of-order across micro-batches) is dropped —
  * the same streaming monotonicity trade documented on the as-of,
  * funnel and rate-anomaly twins. Under in-order delivery per user the
  * emitted transition multiset equals the batch lag-window's exactly
  * (StreamingSpec pins this across a mid-user batch split, including
  * the cross-batch boundary transition).
  *
  * Downstream aggregation to the q184 matrix (counts + row-normalized
  * probabilities) is a plain streaming groupBy the caller owns —
  * emission here is one row per transition so the twin composes with
  * any window or trigger policy. */
object TransitionStream {

  case class TransEvent(user_id: Long, event_type: String, ts_us: Long,
    event_id: Long)
  case class Transition(prev_type: String, next_type: String)
  case class LastSeen(ts_us: Long, event_id: Long, event_type: String)

  /** Raw per-user events → transition pairs, state bounded at one
    * (long, long, string) per user. */
  def transitions(events: Dataset[TransEvent]): Dataset[Transition] = {
    import events.sparkSession.implicits._
    ValueFold(events.groupByKey(_.user_id)) {
      (_, it, prior: Option[LastSeen]) =>
        var last = prior
        val out = List.newBuilder[Transition]
        it.toSeq.sortBy(e => (e.ts_us, e.event_id)).foreach { e =>
          last match {
            case Some(l) if e.ts_us > l.ts_us ||
                (e.ts_us == l.ts_us && e.event_id > l.event_id) =>
              out += Transition(l.event_type, e.event_type)
              last = Some(LastSeen(e.ts_us, e.event_id, e.event_type))
            case Some(_) => // out-of-order across batches: dropped
            case None =>
              last = Some(LastSeen(e.ts_us, e.event_id, e.event_type))
          }
        }
        (last, out.result().iterator)
    }
  }
}
