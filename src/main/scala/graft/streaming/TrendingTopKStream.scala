package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{MapState, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** Streaming top-k trending tokens on Spark 4.1's `transformWithState`
  * (the arbitrary-state API succeeding `flatMapGroupsWithState`,
  * RocksDB-backed): keyed by window start, a `MapState[token, count]`
  * accumulates token counts and every batch that touches a window
  * re-emits that window's refreshed top-k leaderboard in Update mode —
  * the live-dashboard companion to the append-mode windowed counts of
  * [[graft.pipeline.TextMetrics.trendingTokens]] (q90).
  *
  * State discipline: per window key the state is the window's OBSERVED
  * vocabulary (exactly the cardinality the batch aggregate holds for
  * that window) plus one generation counter; `MapState` puts each
  * token in its own state-store entry, so updates touch only the
  * arriving tokens — no read-modify-write of a monolithic blob, the
  * reason to prefer `transformWithState` over a
  * `flatMapGroupsWithState` Map-valued GroupState here. Emission is
  * deterministic: rank orders by (count desc, token asc), and the
  * emitted `gen` counts the batches that touched the key, so a
  * downstream upsert (or a test) can select each window's latest
  * leaderboard without wall-clock timestamps.
  *
  * StreamingSpec pins parity: the final-generation leaderboard equals
  * the batch top-k over the same events, across multi-batch feeds that
  * split windows mid-stream. */
object TrendingTopKStream {

  case class TokenEvent(window_start_us: Long, token: String)
  case class TopKRow(window_start_us: Long, gen: Long, rank: Long,
    token: String, cnt: Long)

  class TopKProcessor(k: Int)
      extends StatefulProcessor[Long, TokenEvent, TopKRow] {
    @transient private var counts: MapState[String, Long] = _
    @transient private var gen: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      counts = getHandle.getMapState[String, Long]("counts",
        Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)
      gen = getHandle.getValueState[Long]("gen",
        Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(key: Long, rows: Iterator[TokenEvent],
        timers: TimerValues): Iterator[TopKRow] = {
      rows.foreach { e =>
        val c = if (counts.containsKey(e.token)) counts.getValue(e.token)
          else 0L
        counts.updateValue(e.token, c + 1L)
      }
      val g = (if (gen.exists()) gen.get() else 0L) + 1L
      gen.update(g)
      // refresh the leaderboard: one pass over the window's
      // vocabulary-bounded state, deterministic (cnt desc, token asc)
      counts.iterator().toVector
        .sortBy { case (t, c) => (-c, t) }
        .take(k)
        .zipWithIndex
        .map { case ((t, c), i) => TopKRow(key, g, i + 1L, t, c) }
        .iterator
    }
  }

  /** (window, token) events → per-window running top-`k` leaderboards,
    * Update-mode (each emission supersedes the key's previous
    * generation). */
  def topTokens(events: Dataset[TokenEvent], k: Int = 5): Dataset[TopKRow] = {
    require(k >= 1, "topTokens: k must be >= 1")
    import events.sparkSession.implicits._
    events.groupByKey(_.window_start_us)
      .transformWithState(new TopKProcessor(k),
        TimeMode.None(), OutputMode.Update())
  }
}
