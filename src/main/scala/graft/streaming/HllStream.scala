package graft.streaming

import org.apache.spark.sql.Dataset

/** Streaming HyperLogLog — the continuous-ingest face of
  * [[graft.pipeline.Sketches.hllDistinct]]: hashed items (the shared
  * [[graft.pipeline.Sketches.hllHashed]] (group, bucket, rho) shape,
  * computed batch-side per micro-batch) stream in, a [[ValueFold]]
  * value holds the m registers per group, and every micro-batch
  * that touches a group emits a fresh estimate with a generation
  * counter (the TrendingTopKStream downstream-upsert contract).
  *
  * Because an HLL register is an order-independent MAX, the streaming
  * sketch is BIT-IDENTICAL to the batch sketch over the same items —
  * any arrival order, any batch boundaries (HllStreamSpec pins est,
  * zeros and r_max equal to the batch output, including the rounded
  * double). State per group is m longs — the item set never lands in
  * state, which is the whole reason to sketch a 100 TB stream.
  *
  * The estimate arithmetic mirrors the batch expression tree op-for-op:
  * exact int64 harmonic sum via shifts, one IEEE divide, the ln
  * small-range branch, and the two-stage HALF_UP decimal rounding
  * (the RateAnomalyStream.round6 device, at scale 2). */
object HllStream {

  case class HashedItem(group: String, bucket: Long, rho: Long)
  case class Regs(v: Seq[Long], gen: Long)
  case class HllEstimate(group: String, n_regs_set: Long, zeros: Long,
      r_max: Long, est: Double, gen: Long)

  private[streaming] def estimate(regs: Array[Long], m: Int,
      alphaNum: Double): (Long, Long, Double) = {
    val rMax = regs.max
    var s = 0L
    var zeros = 0L
    var j = 0
    while (j < m) {
      s += 1L << (rMax - regs(j)).toInt
      if (regs(j) == 0L) zeros += 1
      j += 1
    }
    val raw = (alphaNum * m.toDouble * m.toDouble) *
      (1L << rMax.toInt).toDouble / s.toDouble
    val est =
      if (raw <= 2.5 * m && zeros > 0) m.toDouble * math.log(m.toDouble / zeros.toDouble)
      else raw
    val rounded = BigDecimal(est)
      .setScale(10, BigDecimal.RoundingMode.HALF_UP)
      .setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble
    (zeros, rMax, rounded)
  }

  /** Hashed items → per-group estimates, update-style append (one row
    * per touched group per micro-batch; the latest `gen` supersedes). */
  def estimates(items: Dataset[HashedItem], m: Int = 64,
      alphaNum: Double = 0.709): Dataset[HllEstimate] = {
    require(m >= 16, "estimates: m must be >= 16")
    import items.sparkSession.implicits._
    ValueFold(items.groupByKey(_.group)) {
      (key, rows, existing: Option[Regs]) =>
        val regs = existing.map(_.v.toArray).getOrElse(new Array[Long](m))
        val gen = existing.map(_.gen).getOrElse(0L) + 1
        rows.foreach { r =>
          val b = r.bucket.toInt
          if (r.rho > regs(b)) regs(b) = r.rho
        }
        val (zeros, rMax, est) = estimate(regs, m, alphaNum)
        (Some(Regs(regs.toSeq, gen)),
          Iterator.single(HllEstimate(key, m - zeros, zeros, rMax, est, gen)))
    }
  }
}
