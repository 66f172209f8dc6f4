package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed exact global ranking — the scale device behind the
  * rank-based reports (quality-calibration deciles, norm-percentile
  * bands). A naive `row_number().over(Window.orderBy(...))` funnels the
  * whole relation through ONE task (Exchange SinglePartition + a
  * single-task sort) — fine at test scale, a wall at corpus scale.
  *
  * [[bucketedGlobalRank]] computes the SAME rank in two partitioned
  * levels:
  *
  *  1. a coarse histogram: map each row to one of `nBuckets` buckets by
  *     a monotone value→bucket function (min/max come from a 1-row
  *     broadcast aggregate). IEEE subtract/divide/multiply and floor
  *     are weakly monotone, so bucket order agrees with value order and
  *     equal values always share a bucket;
  *  2. per-bucket offsets: the bucket histogram is `nBuckets`-bounded;
  *     its exclusive prefix sum is computed window-free by a broadcast
  *     non-equi self-join (no Exchange SinglePartition over anything
  *     row-scale). Global rank = bucket offset + rank WITHIN the
  *     bucket, a `Window.partitionBy(bucket)` — parallelism ~nBuckets,
  *     per-task work ~n/nBuckets, the sort spills.
  *
  * The result is bit-identical to the single-task form for any
  * partitioning (ranks are a pure function of the (value, tie)
  * ordering), so oracle-hashed outputs are unaffected. Skew caveat: a
  * value that dominates the distribution concentrates its ties in one
  * bucket; for measure-like values (surprisal, norms) occupancy stays
  * ~uniform, but COUNT-like values are Zipf (count=1 alone is ~60% of
  * a web vocabulary — Lotka's law), so tie-heavy callers pass a
  * `tieProxyCol`: a bucket whose rows all share ONE value is ordered
  * purely by the tie column, so it can be subdivided by any weakly
  * monotone numeric proxy of the tie (for strings,
  * [[stringPrefixProxy]]) without moving a single rank — the
  * sub-bucket boundary falls exactly where the tie order falls.
  * Multi-valued buckets are never split (a proxy split there would
  * interleave different values).
  */
object Ranks {

  /** Weakly monotone numeric proxy of a STRING column under Spark's
    * binary (unsigned UTF-8 byte) string order — which DuckDB shares —
    * for [[bucketedGlobalRank]]'s `tieProxyCol`: the first 6 bytes of
    * the UTF-8 encoding, zero right-padded, read as an unsigned 48-bit
    * integer. Six bytes, not eight: the device's bucket arithmetic is
    * double, and 2^48 sits inside the 53-bit mantissa so the cast is
    * exact (8 bytes would round and break monotonicity). Truncation
    * only COARSENS (strings sharing a 6-byte prefix tie in the proxy
    * and stay in one sub-bucket, ordered in-bucket by the string
    * itself); zero-padding keeps prefixes ordered before their
    * extensions, matching binary string order. */
  def stringPrefixProxy(c: Column): Column =
    conv(hex(rpad(encode(c, "UTF-8"), 6, Array[Byte](0))), 16, 10)
      .cast("long")

  /** Skew-aware bucket map for ranking INTEGER COUNTS DESCENDING (the
    * caller ranks by valueCol = −count): Zipf/Lotka count distributions
    * put ~60% of a vocabulary at count=1 and a long tie-heavy tail at
    * small counts, so a LINEAR bucket map mixes counts 1..maxCount/nB
    * into one multi-valued bucket that [[bucketedGlobalRank]]'s
    * tie-proxy may never split (splitting is only exact for
    * single-valued buckets). Here the tail gets EXACT per-count buckets
    * — count c ≤ exactTail maps to its own bucket (single-valued by
    * construction, so the proxy always splits it) — and the sparse head
    * (c > exactTail, at most ~V/exactTail types by Zipf) spreads over
    * nBuckets linear buckets. Monotone w.r.t. −count ascending:
    * descending counts map to weakly increasing bucket ids in
    * [0, nBuckets + exactTail). */
  def zipfCountBuckets(countCol: Column, maxCount: Long,
      nBuckets: Int = 1024, exactTail: Long = 1024L): Column = {
    require(nBuckets >= 1 && exactTail >= 1,
      "zipfCountBuckets: nBuckets and exactTail must be >= 1")
    val headSpan = math.max(1L, maxCount - exactTail).toDouble
    when(countCol <= exactTail,
        lit(nBuckets.toLong) + (lit(exactTail) - countCol))
      .otherwise(least(lit(nBuckets - 1L),
        floor((lit(maxCount.toDouble) - countCol.cast("double")) /
          lit(headSpan) * nBuckets)))
      .cast("int")
  }

  /** Appends `rankCol` = the 1-based global `row_number` ordered by
    * (`valueCol` asc, `tieCol` asc), without a corpus-cardinality
    * single-task sort. `valueCol` may be any numeric type (bucketing
    * casts to double — weakly monotone, ties preserved; the within-
    * bucket sort orders by the ORIGINAL column so no precision is
    * lost). Internal columns are dropped before returning.
    *
    * `tieProxyCol` (optional, for tie-heavy value distributions): the
    * name of a NUMERIC column that is weakly monotone w.r.t. `tieCol`'s
    * ascending order (nulls, if any, lowest) — see [[stringPrefixProxy]]
    * for strings. When set, any bucket whose rows all carry ONE
    * non-null, non-NaN value is subdivided into up to `nSubBuckets`
    * sub-buckets by the proxy (exact: such a bucket is ordered purely
    * by the tie, and a monotone proxy split respects that order), at
    * the cost of one extra bounded aggregate pass. Buckets holding more
    * than one value — or any null/NaN value — are never split.
    *
    * `bucketCol` (optional): the name of a caller-computed INT bucket
    * column replacing the device's linear value map — required weakly
    * monotone w.r.t. `valueCol` ascending (nulls first, NaN last,
    * encoded by the caller) with bounded cardinality. A null bucket
    * ranks ahead of every non-null bucket, as `asc_nulls_first` orders
    * it. Use when the value distribution defeats a
    * linear map — e.g. Zipf counts, where the linear last bucket mixes
    * counts 1..maxCount/nBuckets and so is never single-valued; see
    * [[zipfCountBuckets]]. */
  def bucketedGlobalRank(df: DataFrame, valueCol: String, tieCol: String,
      rankCol: String = "_rn", nBuckets: Int = 1024,
      tieProxyCol: Option[String] = None,
      nSubBuckets: Int = 256,
      bucketCol: Option[String] = None): DataFrame = {
    require(nBuckets >= 1, s"bucketedGlobalRank: nBuckets must be >= 1")
    require(nSubBuckets >= 1, s"bucketedGlobalRank: nSubBuckets must be >= 1")
    val v = col(valueCol).cast("double")
    val vFinite = when(v.isNotNull && !isnan(v), v)
    val coarse = bucketCol match {
      case Some(bc) =>
        // A null bucket ranks ahead of every non-null one (asc_nulls_first):
        // Long.MinValue sits below every int bucket id, and every internal
        // key stays non-null.
        df.withColumn("_b", coalesce(col(bc).cast("long"), lit(Long.MinValue)))
      case None =>
        // Lazy 1-row stats (r20, the former eager head() was a Spark job at
        // every PLAN CONSTRUCTION — Explain, tests, bench setup): lo/hi ride
        // a broadcast 1-row aggregate joined below, i.e. exactly
        // [[bucketedGroupRank]]'s stats device with a constant group. The
        // bucket arithmetic is unchanged — the same IEEE doubles arrive as
        // column values instead of driver literals, so assignments (and the
        // rank, which is exact for ANY monotone bucketing) stay
        // bit-identical. Total subtree work is unchanged too: before, the
        // stats subtree ran once in its own job and the histogram/rank
        // branches re-ran df anyway; now all of it sits in ONE job and the
        // broadcast is reused across branches. min/max exclude NaN
        // explicitly (Spark's max treats NaN as greatest, which would poison
        // the bucket arithmetic for every row).
        //
        // Null/NaN rows get explicit buckets matching Spark's total order for
        // an ascending sort — nulls FIRST (bucket 0, asc_nulls_first inside
        // the bucket), NaN LAST (> +Infinity in Spark's ordering → last
        // bucket) — so the rank stays bit-identical to the single-task
        // Window.orderBy(asc) even on nullable or NaN-bearing metrics.
        // Degeneracy, not a bug: an empty/all-null/all-NaN column collapses
        // to _rhi null or _rhi <= _rlo and ranks serially in one bucket.
        val stats = df.agg(min(vFinite).as("_rlo"), max(vFinite).as("_rhi"))
        df.join(broadcast(stats))
          .withColumn("_b",
            when(col("_rhi").isNull || col("_rhi") <= col("_rlo"), lit(0))
              .when(v.isNull, lit(0))
              .when(isnan(v), lit(nBuckets - 1))
              .otherwise(least(lit(nBuckets - 1L),
                floor((v - col("_rlo")) / (col("_rhi") - col("_rlo")) *
                  nBuckets)).cast("int")))
          .drop("_rlo", "_rhi")
    }
    tieProxyCol match {
      case None =>
        val bucketed = coarse
        val hist = bucketed.groupBy(col("_b")).agg(count(lit(1)).as("_bcnt"))
        // Exclusive prefix sum over the nBuckets-bounded histogram — a
        // broadcast non-equi self-join instead of a global window, so the
        // device's plan carries no unpartitioned Window at all.
        val prior = hist.select(col("_b").as("_pb"), col("_bcnt").as("_pcnt"))
        // coalesce on the probe key so the non-equi condition admits NO
        // isnotnull inference either (same pushdown-inlining hazard as the
        // join below; _pb is a groupBy key over non-null _b, so the wrap is
        // an identity).
        val offsets = hist.join(broadcast(prior),
            coalesce(col("_pb"), lit(Int.MaxValue)) < col("_b"), "left")
          .groupBy(col("_b"))
          .agg(sum(coalesce(col("_pcnt"), lit(0L))).as("_cum"))
        val wIn = Window.partitionBy(col("_b"))
          .orderBy(col(valueCol).asc_nulls_first, col(tieCol).asc)
        // LEFT join on NULL-SAFE equality, not an inner join on Seq (r20):
        // offsets is built FROM bucketed, so every _b matches and the result
        // is row-identical — but an inner join (and even a left join's plain
        // `=`) lets InferFiltersFromConstraints plant `isnotnull(_b)` on one
        // side, and predicate pushdown re-inlines the caller's bucket
        // expression below its projection into a Filter in every subtree
        // copy. With SNM's 8-term canonical-key prefix that meant 8 extra
        // full-text regex pairs per row per subtree (q200 4.8 → 13.0 s).
        // `<=>` admits no isnotnull inference on either side; keys are
        // non-null by construction so it plans the same hash join.
        bucketed.join(broadcast(offsets.withColumnRenamed("_b", "_ob")),
            col("_b") <=> col("_ob"), "left")
          .withColumn(rankCol,
            col("_cum") + row_number().over(wIn).cast("long"))
          .drop("_b", "_ob", "_cum")
      case Some(proxyName) =>
        val p = col(proxyName).cast("double")
        // One bounded pass: per-coarse-bucket value min/max, bad-row
        // (null/NaN value) count, and proxy min/max — nBuckets rows,
        // broadcast back. A bucket is SPLITTABLE iff it holds exactly
        // one finite value (vlo == vhi, zero bad rows): its rows are
        // then ordered purely by the tie, so a monotone-proxy cut
        // never separates rows the (value, tie) order keeps adjacent.
        // The single-valuedness test runs on the ORIGINAL column, not
        // the double cast: two distinct longs past 2^53 (or wide
        // decimals) collide after the cast, and declaring such a
        // bucket splittable would interleave their ranks — the one
        // place a cast collision would become a correctness bug (the
        // bucket map itself only coarsens).
        val bstats = coarse.groupBy(col("_b")).agg(
          min(col(valueCol)).as("_vlo"), max(col(valueCol)).as("_vhi"),
          sum(when(v.isNull || isnan(v), 1L).otherwise(0L)).as("_nbad"),
          min(p).as("_plo"), max(p).as("_phi"))
        val splittable = col("_nbad") === 0L && col("_vlo").isNotNull &&
          col("_vlo") === col("_vhi") && col("_phi") > col("_plo")
        // LEFT + null-safe keys here and below for the same
        // no-isnotnull-pushdown reason as the no-proxy arm (bstats/offsets
        // are complete over coarse's _b domain by construction, so the
        // result is row-identical to the inner join).
        val bucketed = coarse.join(
            broadcast(bstats.withColumnRenamed("_b", "_sbb")),
            col("_b") <=> col("_sbb"), "left")
          .drop("_sbb")
          .withColumn("_sb",
            when(!splittable || p.isNull, lit(0))
              .otherwise(least(lit(nSubBuckets - 1L),
                floor((p - col("_plo")) / (col("_phi") - col("_plo")) *
                  nSubBuckets)).cast("int")))
          .drop("_vlo", "_vhi", "_nbad", "_plo", "_phi")
        val hist = bucketed.groupBy(col("_b"), col("_sb"))
          .agg(count(lit(1)).as("_bcnt"))
        // Offsets in two bounded levels (an O((nBuckets·nSub)²) flat
        // non-equi self-join would blow up): the coarse level keeps the
        // broadcast-join prefix sum; the sub level is a PARTITIONED
        // running sum over the bounded histogram.
        val perB = hist.groupBy(col("_b")).agg(sum(col("_bcnt")).as("_tot"))
        val prior = perB.select(col("_b").as("_pb"), col("_tot").as("_pcnt"))
        val bOff = perB.join(broadcast(prior),
            coalesce(col("_pb"), lit(Int.MaxValue)) < col("_b"), "left")
          .groupBy(col("_b"))
          .agg(sum(coalesce(col("_pcnt"), lit(0L))).as("_bcum"))
        val wSub = Window.partitionBy(col("_b")).orderBy(col("_sb"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val offsets = hist
          .withColumn("_scum", coalesce(sum(col("_bcnt")).over(wSub), lit(0L)))
          .join(broadcast(bOff.withColumnRenamed("_b", "_bb")),
            col("_b") <=> col("_bb"), "left")
          .select(col("_b"), col("_sb"), (col("_bcum") + col("_scum")).as("_cum"))
        val wIn = Window.partitionBy(col("_b"), col("_sb"))
          .orderBy(col(valueCol).asc_nulls_first, col(tieCol).asc)
        bucketed.join(
            broadcast(offsets.withColumnRenamed("_b", "_ob")
              .withColumnRenamed("_sb", "_osb")),
            col("_b") <=> col("_ob") && col("_sb") <=> col("_osb"), "left")
          .withColumn(rankCol,
            col("_cum") + row_number().over(wIn).cast("long"))
          .drop("_b", "_sb", "_ob", "_osb", "_cum")
    }
  }

  /** Per-group exact rank without a per-group single-task sort — the
    * grouped form of [[bucketedGlobalRank]] for relations whose GROUPS
    * are few (a dimension: sources, splits, languages) but whose
    * per-group cardinality is corpus-scale (vocabulary, documents). A
    * bare `Window.partitionBy(group).orderBy(value)` funnels each
    * group through one task; here each group gets its own bucket
    * histogram, so parallelism is groups × nBuckets and per-task work
    * is group-size / nBuckets.
    *
    * Mechanism mirrors the global device with per-group lo/hi carried
    * by a BROADCAST stats join instead of driver literals (the group
    * relation is dimension-bounded by precondition — so are the
    * histogram and offset relations, groups × nBuckets rows). Ranks
    * are bit-identical to the single-task grouped window for any
    * partitioning: the bucket map is weakly monotone per group, nulls
    * rank first, NaN last, and the within-bucket sort orders by the
    * ORIGINAL column. */
  def bucketedGroupRank(df: DataFrame, valueCol: String, tieCol: String,
      groupCol: String, rankCol: String = "_rn",
      nBuckets: Int = 1024): DataFrame = {
    require(nBuckets >= 1, s"bucketedGroupRank: nBuckets must be >= 1")
    val v = col(valueCol).cast("double")
    val vFinite = when(v.isNotNull && !isnan(v), v)
    val stats = df.groupBy(col(groupCol))
      .agg(min(vFinite).as("_lo"), max(vFinite).as("_hi"))
    val bucketed = df.join(broadcast(stats), Seq(groupCol))
      .withColumn("_b",
        when(col("_hi").isNull || col("_hi") <= col("_lo"), lit(0))
          .when(v.isNull, lit(0))
          .when(isnan(v), lit(nBuckets - 1))
          .otherwise(least(lit(nBuckets - 1L),
            floor((v - col("_lo")) / (col("_hi") - col("_lo")) * nBuckets))
            .cast("int")))
    val hist = bucketed.groupBy(col(groupCol), col("_b"))
      .agg(count(lit(1)).as("_bcnt"))
    // Exclusive prefix sum over the histogram. Unlike the GLOBAL form
    // (whose histogram window would be unpartitioned — hence its
    // broadcast self-join), the grouped histogram admits a PARTITIONED
    // window: the relation is dimension-bounded (groups × nBuckets
    // rows, corpus-independent), so a per-group running sum is
    // scale-safe and strictly fewer plan nodes than the join form
    // (the broadcast self-join + re-aggregate it replaces).
    val wCum = Window.partitionBy(col(groupCol)).orderBy(col("_b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = hist
      .withColumn("_cum", coalesce(sum(col("_bcnt")).over(wCum), lit(0L)))
      .select(col(groupCol), col("_b"), col("_cum"))
    val wIn = Window.partitionBy(col(groupCol), col("_b"))
      .orderBy(col(valueCol).asc_nulls_first, col(tieCol).asc)
    bucketed.join(broadcast(offsets), Seq(groupCol, "_b"))
      .withColumn(rankCol,
        col("_cum") + row_number().over(wIn).cast("long"))
      .drop("_b", "_cum", "_lo", "_hi")
  }
}
