package graft.streaming

import org.apache.spark.sql.Dataset

/** Streaming Gram/covariance maintenance — the continuous-ingest face
  * of [[graft.pipeline.Similarity.gramCovariance]]: quantized vectors
  * stream in per group, a [[ValueFold]] value holds the
  * d(d+1)/2 upper-triangle integer sums + d dim sums + the row count,
  * and every micro-batch that touches a group emits the refreshed
  * triangle with a generation counter (downstream keeps the latest —
  * covariance/whitening stats that stay current as the corpus grows,
  * without ever replaying it). Integer sums are order-independent, so
  * the streamed state is BIT-IDENTICAL to the batch accumulation over
  * the same rows — any arrival order, any batch boundaries
  * (GramStreamSpec pins every sum equal to batch gramCovariance).
  *
  * State per group is ~d²/2 longs; the vectors themselves never land
  * in state. Overflow: same n·maxAbs² bound as the batch form — the
  * fold checks it per update and FAILS the query rather than
  * wrap (a poisoned running sum is worse than a dead stream). */
object GramStream {

  case class QuantVec(group: String, qv: Seq[Long])
  case class GramState(acc: Seq[Long], dims: Seq[Long], n: Long, gen: Long)
  case class GramRow(group: String, i: Int, j: Int, sum_ij: Long,
      sum_i: Long, sum_j: Long, n: Long, gen: Long)

  /** Quantized vectors → running Gram rows, append-mode (latest gen per
    * (group, i, j) supersedes). */
  def running(vecs: Dataset[QuantVec]): Dataset[GramRow] = {
    import vecs.sparkSession.implicits._
    ValueFold(vecs.groupByKey(_.group)) {
      (key, rows, existing: Option[GramState]) =>
        var acc = existing.map(_.acc.toArray).orNull
        var dims = existing.map(_.dims.toArray).orNull
        var n = existing.map(_.n).getOrElse(0L)
        val gen = existing.map(_.gen).getOrElse(0L) + 1
        var d = if (dims == null) 0 else dims.length
        rows.foreach { r =>
          val v = r.qv
          if (acc == null) {
            d = v.length
            acc = new Array[Long](d * (d + 1) / 2)
            dims = new Array[Long](d)
          }
          require(v.length == d, s"GramStream: dim drift ${v.length} != $d")
          var ma = 0L
          var i = 0
          while (i < d) {
            val a = math.abs(v(i)); if (a > ma) ma = a; i += 1
          }
          require(ma <= 1518500249L &&
              (ma == 0L || n + 1 <= (Long.MaxValue / 4) / (ma * ma)),
            s"GramStream: n=${n + 1} rows at maxAbs=$ma risks int64 " +
              "overflow - lower the quantization scale")
          var idx = 0
          i = 0
          while (i < d) {
            val vi = v(i)
            dims(i) += vi
            var j = i
            while (j < d) { acc(idx) += vi * v(j); j += 1; idx += 1 }
            i += 1
          }
          n += 1
        }
        val out = Vector.newBuilder[GramRow]
        var idx = 0
        var i = 0
        while (i < d) {
          var j = i
          while (j < d) {
            out += GramRow(key, i, j, acc(idx), dims(i), dims(j), n, gen)
            j += 1; idx += 1
          }
          i += 1
        }
        (Some(GramState(acc.toSeq, dims.toSeq, n, gen)), out.result().iterator)
    }
  }
}
