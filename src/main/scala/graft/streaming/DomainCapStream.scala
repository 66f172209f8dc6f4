package graft.streaming

import org.apache.spark.sql.Dataset

/** Streaming per-domain document caps — the ingest-time face of
  * [[graft.pipeline.Domains.capPerDomain]]: documents arrive
  * continuously (a crawl frontier), and each registrable domain admits
  * at most `cap` documents; everything later is rejected at the door
  * instead of stored and dropped by a batch pass.
  *
  * Semantics — FIRST-ARRIVAL, deliberately different from the batch
  * form: batch capPerDomain sees the whole corpus and picks a
  * deterministic hash-order sample; an ingest gate cannot (it would
  * have to buffer everything). Admission here is by arrival order
  * across micro-batches, doc_id order within one batch — so per-domain
  * ADMITTED COUNTS always match the batch cap (min(cap, n_domain)),
  * while the admitted SET depends on arrival order (the spec pins
  * both: exact admissions on a fixed batch sequence, count parity vs
  * the batch operator on any sequence).
  * PRECONDITION — doc-distinct stream (the [[NearDupStream]] note):
  * the within-batch `.distinct` covers same-batch duplicates ONLY. A
  * CROSS-batch redelivery of an already-counted doc_id consumes quota
  * again AND emits a SECOND Admission row for the same doc with a
  * different pick_order — the ledger's one-row-per-document shape
  * corrupts silently rather than failing. Feed exactly-once or dedup
  * upstream (`dropDuplicatesWithinWatermark` on doc_id, or the
  * [[IncrementalDedupStream]] gate); tracking admitted ids in state
  * was considered and rejected — it turns O(|domains|) state into
  * O(|docs|), which is the cost the cap gate exists to avoid.
  *
  * State per domain: ONE counter (a [[ValueFold]] `Long`) — O(|domains|)
  * total, the smallest state any cap gate can hold. Every arrival is
  * emitted with its admission verdict (the audit-ledger discipline of
  * the batch form). */
object DomainCapStream {

  case class DocArrival(doc_id: Long, domain: String)
  case class Admission(doc_id: Long, domain: String, pick_order: Long,
    admitted: Boolean)

  /** Arrivals → admission ledger, append-mode. */
  def admissions(docs: Dataset[DocArrival],
      cap: Int): Dataset[Admission] = {
    require(cap >= 1, "admissions: cap must be >= 1")
    import docs.sparkSession.implicits._
    ValueFold(docs.groupByKey(_.domain)) {
      (key, rows, count: Option[Long]) =>
        val n0 = count.getOrElse(0L)
        // deterministic within-batch order: doc_id ascending
        val fresh = rows.map(_.doc_id).toVector.distinct.sorted
        (Some(n0 + fresh.length), fresh.iterator.zipWithIndex.map { case (d, i) =>
          val order = n0 + i + 1
          Admission(d, key, order, order <= cap)
        })
    }
  }
}
