package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** W1/W2/W3 — the reference's hand-rolled event-time windows
  * (DiscussionTreeBolt.java:45-49,107-110,150-174;
  * InteractionGraphBolt.java:41-44,91-94,107-130), reproduced exactly:
  *
  *  - *first-event-aligned*: the window starts at the timestamp of the
  *    first event after a reset — NOT epoch-aligned like `window()`;
  *  - *punctuation-flushed* (W2): a window closes only when an event with
  *    ts >= start + length arrives; an idle stream never flushes;
  *  - the closing event is INCLUDED in the flushed window (the bolt
  *    inserts before the deadline check) and its ts becomes the emitted
  *    `end`; the next window starts at the *next* event;
  *  - no lateness handling (W3): events older than `start` still join the
  *    current buffer; nothing is ever dropped.
  *
  * Streaming: `flatMapGroupsWithState` with per-key state — the upgrade
  * over the reference is that state is keyed (parallel-safe, checkpointed)
  * where the bolt required parallelism 1 and lost state on restart (W6).
  * It is the one `flatMapGroupsWithState` operator left beside the
  * [[ValueFold]] streams. A port to their one-`ValueState` shape,
  * measured over 5 alternating `role_stream` pairs (4 vCPU), dropped
  * drain throughput from a median of 804 to 683 msgs/s (−15%), raised
  * lag p50 from 3614 to 4099 ms and CPU per message from 4.1 to 4.8 ms —
  * too close to the benchmark's 25% bound. The open window is due to
  * become a `ValueState` start plus a `ListState` of events
  * (O(micro-batch) state writes, not O(open window)); the fold moves to
  * `transformWithState` once, with that change.
  * Batch: the same fold via `flatMapGroups` for backfill/oracle runs.
  *
  * Determinism note: the bolt processes in arrival order; under
  * parallelism and retries arrival order is undefined, so this engine
  * fixes processing order = (ts, payload) within a batch (documented
  * deviation, SURVEY.md §7.4).
  */
object PunctuationWindow {

  case class Event(key: String, tsMicros: Long, payload: String)
  case class WindowState(startMicros: Long, events: List[Event])
  case class Flush(key: String, startMicros: Long, endMicros: Long,
    n_events: Long, payloads: Seq[String])

  /** One step of the DiscussionTreeBolt.execute fold: feed an event into
    * the window state, optionally emitting a flush. */
  private def step(state: Option[WindowState], e: Event,
      lengthMicros: Long): (Option[Flush], Option[WindowState]) =
    state match {
      case None =>
        (None, Some(WindowState(e.tsMicros, List(e))))
      case Some(ws) =>
        if (e.tsMicros >= ws.startMicros + lengthMicros) {
          // closing event joins the flushed window; buffer resets to empty
          val evs = (e :: ws.events).reverse
          (Some(Flush(e.key, ws.startMicros, e.tsMicros,
            evs.size.toLong, evs.map(_.payload))), None)
        } else {
          (None, Some(ws.copy(events = e :: ws.events)))
        }
    }

  /** The exact per-event fold of DiscussionTreeBolt.execute. Returns
    * (flushes, finalState). */
  private[streaming] def fold(sorted: Iterator[Event], lengthMicros: Long,
      init: Option[WindowState]): (List[Flush], Option[WindowState]) = {
    var state = init
    var flushes = List.empty[Flush]
    sorted.foreach { e =>
      val (f, next) = step(state, e, lengthMicros)
      f.foreach(flushes ::= _)
      state = next
    }
    (flushes.reverse, state)
  }

  /** Batch variant: complete (flushed) windows only — parity with the
    * reference, which never emits a trailing partial buffer.
    *
    * Shuffle-sort by (key, ts, payload) and stream the fold over each
    * partition's iterator — Spark's sort spills, and resident memory is
    * one OPEN WINDOW's buffer, not one key's whole history (a
    * flatMapGroups + in-memory sort would materialize the largest key —
    * fatal for a low-cardinality key at scale; the reference's global
    * single buffer is exactly that shape). */
  def batch(events: Dataset[Event], lengthMicros: Long): Dataset[Flush] = {
    import events.sparkSession.implicits._
    events
      .repartition(col("key"))
      .sortWithinPartitions(col("key"), col("tsMicros"), col("payload"))
      .mapPartitions { it =>
        new Iterator[Flush] {
          private var pending: List[Flush] = Nil
          private var state: Option[WindowState] = None
          private var curKey: String = null
          private def advance(): Unit = {
            while (pending.isEmpty && it.hasNext) {
              val e = it.next()
              if (e.key != curKey) {
                curKey = e.key
                state = None // trailing partial buffer of the previous key drops
              }
              val (f, next) = step(state, e, lengthMicros)
              f.foreach(pending ::= _)
              state = next
            }
          }
          override def hasNext: Boolean = { advance(); pending.nonEmpty }
          override def next(): Flush = {
            advance()
            val f = pending.head
            pending = pending.tail
            f
          }
        }
      }
  }

  /** COUNT-ONLY batch fold (r20): identical window boundaries and
    * counts to [[batch]] — the fold's flush decision reads only
    * timestamps, never the buffer — but the state is (start, n)
    * instead of the accumulated event list, so a consumer that drops
    * `payloads` (q18 emits key/start/end/n_events only) never builds
    * and discards per-window payload lists. Returns the
    * [[toDataFrame]] column shape minus `payloads`. The sort STILL
    * orders by (key, ts, payload): processing order — and therefore
    * which event closes a window — must match [[batch]] exactly. */
  def batchCounts(events: Dataset[Event], lengthMicros: Long): DataFrame = {
    import events.sparkSession.implicits._
    events
      .repartition(col("key"))
      .sortWithinPartitions(col("key"), col("tsMicros"), col("payload"))
      .mapPartitions { it =>
        new Iterator[(String, Long, Long, Long)] {
          private var pending: List[(String, Long, Long, Long)] = Nil
          private var startMicros = -1L
          private var n = 0L
          private var open = false
          private var curKey: String = null
          private def advance(): Unit = {
            while (pending.isEmpty && it.hasNext) {
              val e = it.next()
              if (e.key != curKey) {
                curKey = e.key
                open = false // trailing partial buffer of the previous key drops
              }
              if (!open) { startMicros = e.tsMicros; n = 1L; open = true }
              else if (e.tsMicros >= startMicros + lengthMicros) {
                pending ::= ((e.key, startMicros, e.tsMicros, n + 1L))
                open = false
              } else n += 1L
            }
          }
          override def hasNext: Boolean = { advance(); pending.nonEmpty }
          override def next(): (String, Long, Long, Long) = {
            advance()
            val f = pending.head
            pending = pending.tail
            f
          }
        }
      }
      .toDF("key", "startMicros", "endMicros", "n_events")
      .select(col("key"),
        timestamp_micros(col("startMicros")).as("window_start"),
        timestamp_micros(col("endMicros")).as("window_end"),
        col("n_events"))
  }

  /** Streaming variant: event-driven emission via flatMapGroupsWithState
    * (NoTimeout — flush only on punctuation, exactly W2). */
  def streaming(events: Dataset[Event], lengthMicros: Long): Dataset[Flush] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.key)
      .flatMapGroupsWithState[WindowState, Flush](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: String, it: Iterator[Event], state: GroupState[WindowState]) =>
          val sorted = it.toSeq.sortBy(e => (e.tsMicros, e.payload)).iterator
          val (flushes, next) = fold(sorted, lengthMicros, state.getOption)
          next match {
            case Some(s) => state.update(s)
            case None => state.remove()
          }
          flushes.iterator
      }
  }

  /** Idiomatic mode (SURVEY §2.7 W1/W3): epoch-aligned tumbling windows
    * with a watermark — the stock Structured Streaming formulation,
    * offered alongside the parity fold. Deviations from the reference,
    * by design: windows align to the epoch (not the first event), late
    * events beyond the watermark are dropped (the reference accepts
    * everything), and windows emit on watermark passage rather than on
    * the closing event. Works on batch and streaming frames alike. */
  def idiomaticTumbling(df: DataFrame, keyCol: String, tsCol: String,
      windowLength: String, lateness: String = "0 seconds"): DataFrame = {
    val watermarked =
      if (df.isStreaming) df.withWatermark(tsCol, lateness) else df
    watermarked
      .groupBy(col(keyCol).as("key"), window(col(tsCol), windowLength))
      .agg(count(lit(1)).as("n_events"))
      .select(col("key"), col("window.start").as("window_start"),
        col("window.end").as("window_end"), col("n_events"))
  }

  /** Adapter: a DataFrame with (key, ts, payload) columns → typed events. */
  def fromColumns(df: DataFrame, keyCol: String, tsCol: String,
      payloadCol: String): Dataset[Event] = {
    import df.sparkSession.implicits._
    df.select(col(keyCol).cast("string").as("key"),
      unix_micros(col(tsCol)).as("tsMicros"),
      col(payloadCol).cast("string").as("payload")).as[Event]
  }

  /** Flush rows back to a DataFrame with timestamp columns. */
  def toDataFrame(flushes: Dataset[Flush]): DataFrame =
    flushes.toDF()
      .select(col("key"),
        timestamp_micros(col("startMicros")).as("window_start"),
        timestamp_micros(col("endMicros")).as("window_end"),
        col("n_events"), col("payloads"))
}
