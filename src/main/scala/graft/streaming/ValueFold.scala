package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, KeyValueGroupedDataset}
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** Keep one value per key across micro-batches: the reference bolts'
  * in-memory per-key state, made restart-safe by the query's checkpointed
  * operator state. Each micro-batch calls `step` once per key that has
  * input, with the key's rows and its value so far; `step` returns the
  * key's next value (`None` clears it) and the rows to emit. An unchanged
  * value is not written again.
  *
  * This is `transformWithState` with one `ValueState`, no timers and
  * append output, on the session's RocksDB state store
  * ([[graft.Tables.session]]). */
object ValueFold {

  def apply[K, I, S: Encoder, O: Encoder](grouped: KeyValueGroupedDataset[K, I])(
      step: (K, Iterator[I], Option[S]) => (Option[S], Iterator[O])): Dataset[O] =
    grouped.transformWithState(new Processor(step, implicitly[Encoder[S]]),
      TimeMode.None(), OutputMode.Append())

  private class Processor[K, I, S, O](
      step: (K, Iterator[I], Option[S]) => (Option[S], Iterator[O]),
      encoder: Encoder[S]) extends StatefulProcessor[K, I, O] {
    @transient private var value: ValueState[S] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      value = getHandle.getValueState[S]("value", encoder, TTLConfig.NONE)

    override def handleInputRows(key: K, rows: Iterator[I],
        timers: TimerValues): Iterator[O] = {
      val prior = if (value.exists()) Some(value.get()) else None
      val (next, out) = step(key, rows, prior)
      if (next != prior) next.fold(value.clear())(value.update)
      out
    }
  }
}
