package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{ListState, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** Streaming MinHash-LSH near-dup CANDIDATE detection — the stateful
  * arrival-time face of [[graft.pipeline.Dedup.lshCandidates]] /
  * `incrementalDedup`: documents stream in as banded signature rows
  * (the [[graft.pipeline.Dedup.lshBands]] shape, computed batch-side
  * per micro-batch), and per (band, band_key) a RocksDB-backed
  * `ListState` holds every doc id seen in that bucket so far. A new
  * arrival emits one candidate pair per bucket-mate — cross-batch AND
  * within-batch — which downstream exact-Jaccard verification consumes
  * exactly as in the batch pipeline.
  *
  * Contract notes, mirroring the batch form: pairs are emitted
  * (min, max)-ordered; a pair sharing several band keys emits once per
  * shared key (the batch form's pre-`distinct` multiplicity — the
  * verify stage dedups, StreamingSpec compares sets).
  *
  * `maxBucket` — TOMBSTONE-ON-OVERFLOW, batch-parity semantics: batch
  * `capOccupancy` sees the whole relation and excludes EVERY row of an
  * overloaded key, so an overloaded bucket contributes ZERO pairs.
  * Append mode cannot physically retract rows already emitted while
  * the bucket was below the cap, so the streaming form emits explicit
  * RETRACTIONS instead: the moment a bucket would exceed `maxBucket`,
  * every pair previously emitted from it is re-emitted with
  * `tombstone = true`, the bucket's state is cleared, and the key is
  * tombstoned — all later arrivals on it are dropped without emission.
  * A pair is emitted at most once per (band, pair) bucket, so the
  * NET candidate set `{(a,b) | emitted ∧ ¬tombstoned}` equals the
  * batch `lshCandidates(banded, maxBucket)` set for any arrival order
  * and any batch split (IncrementalDedupStreamSpec pins this).
  * PRECONDITION — doc-distinct band rows: the parity claim holds when
  * each (band, band_key, doc_id) row appears once across the stream.
  * Batch `capOccupancy` counts RAW rows (a duplicate row double-counts
  * toward `maxBucket`) while this processor dedups re-arrivals before
  * counting, so duplicated band rows — e.g. at-least-once source
  * redelivery — can cap a bucket in batch but not here. The lshBands
  * shape is doc-distinct by construction (one signature row per doc);
  * feed an exactly-once or deduplicated stream, or `distinct` the
  * banded relation before the batch comparison.
  * Downstream verify joins filter `!tombstone` pairs against the
  * tombstoned set (an anti-join on (doc_a, doc_b, band)).
  *
  * `transformWithState` (Spark 4.1, RocksDB state store) rather than
  * `flatMapGroupsWithState`: ListState appends per arrival instead of
  * rewriting a monolithic GroupState value, so a hot bucket costs
  * O(arrivals) writes, not O(occupancy²). */
object NearDupStream {

  case class BandRow(doc_id: Long, band: Int, band_key: String)
  case class CandPair(doc_a: Long, doc_b: Long, band: Int,
    tombstone: Boolean = false)

  class BandProcessor(maxBucket: Int)
      extends StatefulProcessor[(Int, String), BandRow, CandPair] {
    @transient private var seen: ListState[Long] = _
    @transient private var dead: ValueState[Boolean] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      seen = getHandle.getListState[Long]("docs",
        Encoders.scalaLong, TTLConfig.NONE)
      dead = getHandle.getValueState[Boolean]("tombstoned",
        Encoders.scalaBoolean, TTLConfig.NONE)
    }

    override def handleInputRows(key: (Int, String),
        rows: Iterator[BandRow], timers: TimerValues): Iterator[CandPair] = {
      if (maxBucket != Int.MaxValue && dead.exists()) Iterator.empty
      else {
        val prior = seen.get().toVector
        // deterministic within-batch order; re-arrivals of a known id
        // emit no self-pair and are not re-added
        val fresh = rows.map(_.doc_id).toVector.distinct.sorted
          .filterNot(prior.contains)
        if (prior.length + fresh.length > maxBucket) {
          // tombstone-on-overflow: retract every pair this bucket ever
          // emitted (all pairs among `prior` — each was emitted exactly
          // once, when its later member arrived), clear state, and kill
          // the key; the net candidate set now matches batch
          // capOccupancy's total exclusion of the overloaded key
          val out = Vector.newBuilder[CandPair]
          for (i <- prior.indices; j <- (i + 1) until prior.length)
            out += CandPair(math.min(prior(i), prior(j)),
              math.max(prior(i), prior(j)), key._1, tombstone = true)
          seen.clear()
          dead.update(true)
          out.result().iterator
        } else {
          val out = Vector.newBuilder[CandPair]
          for (d <- fresh; o <- prior)
            out += CandPair(math.min(d, o), math.max(d, o), key._1)
          for (i <- fresh.indices; j <- (i + 1) until fresh.length)
            out += CandPair(fresh(i), fresh(j), key._1)
          fresh.foreach(seen.appendValue)
          out.result().iterator
        }
      }
    }
  }

  /** Banded rows → candidate pairs, append-mode. */
  def candidates(bands: Dataset[BandRow],
      maxBucket: Int = Int.MaxValue): Dataset[CandPair] = {
    require(maxBucket >= 1, "candidates: maxBucket must be >= 1")
    import bands.sparkSession.implicits._
    bands.groupByKey(r => (r.band, r.band_key))
      .transformWithState(new BandProcessor(maxBucket),
        TimeMode.None(), OutputMode.Append())
  }
}
