package graft.streaming

import org.apache.spark.sql.Dataset

/** Streaming EXACT-dedup — the stateful arrival-time face of the exact
  * arm of [[graft.pipeline.Dedup.incrementalDedup]] (q88's daily-batch
  * shape run as a continuous ingest): documents stream in as
  * (doc_id, text_hash) rows, a [[ValueFold]] value per hash
  * holds the FIRST doc id seen with that content, and every later
  * arrival of the same hash emits a `DupEvent(doc_id, dup_of = first)`.
  *
  * Together with [[NearDupStream]] (the LSH candidate arm over the same
  * ingest) this is the full q88 verdict pipeline in streaming form:
  * exact verdicts come straight off this operator; near verdicts come
  * from NearDupStream candidates verified by the batch Jaccard join
  * downstream (exactly how a production pipeline splits it — candidates
  * are logged continuously, verification is a cheap bounded batch join).
  * IncrementalDedupStreamSpec pins the parity: corpus as batch 1, the
  * new daily slice as batch 2, filtered events equal q88's
  * dup_exact/dup_near verdict sets.
  *
  * Determinism: within a micro-batch, arrivals for a hash are processed
  * in doc-id order, so the smallest id becomes the canonical first —
  * the same min-id representative rule as batch [[graft.pipeline.Dedup.exact]]. */
object IncrementalDedupStream {

  case class HashedDoc(doc_id: Long, text_hash: String)
  case class DupEvent(doc_id: Long, dup_of: Long)

  /** (doc_id, text_hash) rows → duplicate events, append-mode. */
  def exactDups(docs: Dataset[HashedDoc]): Dataset[DupEvent] = {
    import docs.sparkSession.implicits._
    ValueFold(docs.groupByKey(_.text_hash)) {
      (_, rows, first: Option[Long]) =>
        val ids = rows.map(_.doc_id).toVector.distinct.sorted
        val out = Vector.newBuilder[DupEvent]
        var canonical = first
        ids.foreach { id =>
          canonical match {
            case None => canonical = Some(id)
            case Some(f) if id != f => out += DupEvent(id, f)
            case _ => () // re-arrival of the canonical doc itself
          }
        }
        (canonical, out.result().iterator)
    }
  }
}
