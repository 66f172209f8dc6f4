package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.plans.Fixpoint

/** Discussion-tree construction (A1/J4): the Spark-native re-expression of
  * the reference's windowed reply/retweet tree builder
  * (roleAnalysisTopology/.../bolts/DiscussionTreeBolt.java:107-174).
  *
  * The Storm bolt mutates a per-window `HashMap` of trees tuple-at-a-time;
  * here trees are a *relation*: `nodes(node_id, user_id, screen_name, ts,
  * parent_id, root_id, depth, observed, retweet)`. Tree assembly becomes
  * (1) dummy-root synthesis via an anti-join (J4,
  * DiscussionTreeBolt.java:130-148), and (2) root resolution via
  * pointer-doubling joins — O(log depth) shuffles, no driver-side
  * iteration over rows, so it scales to arbitrarily many trees (the
  * per-window data is keyed by root; nothing is global).
  */
object DiscussionTree {

  /** Build the node relation from normalized tweets
    * ([[graft.sources.TweetSource.normalized]] output). Parent pointers to
    * tweets absent from the batch synthesize *unobserved dummy roots*
    * carrying the reply-target user (DiscussionTreeBolt.java:136-143);
    * duplicates collapse to one dummy (min user for determinism — the
    * reference keeps the first arrival, which is nondeterministic under
    * parallelism; documented deviation). */
  def nodes(normalized: DataFrame): DataFrame = {
    val obs = normalized.select(
      col("tweet_id").as("node_id"),
      col("author_id").as("user_id"),
      col("author_screen_name").as("screen_name"),
      col("ts"),
      col("ancestor_id").as("parent_id"),
      lit(true).as("observed"),
      col("retweet"))
    val dummies = normalized
      .filter(col("ancestor_id").isNotNull)
      .join(obs.select(col("node_id").as("present_id")),
        col("ancestor_id") === col("present_id"), "left_anti")
      .groupBy(col("ancestor_id").as("node_id"))
      .agg(
        min(col("in_reply_to_user_id_str")).as("user_id"),
        min(col("in_reply_to_screen_name")).as("screen_name"))
      .select(col("node_id"), col("user_id"), col("screen_name"),
        lit(null).cast("timestamp").as("ts"),
        lit(null).cast("string").as("parent_id"),
        lit(false).as("observed"), lit(false).as("retweet"))
    obs.unionByName(dummies)
  }

  /** Resolve `root_id` and `depth` for every node via pointer doubling:
    * each iteration replaces a node's ancestor pointer with its ancestor's
    * ancestor, so convergence takes ceil(log2(maxDepth)) shuffle joins
    * rather than maxDepth — the standard scalable formulation of
    * transitive parent lookup.
    *
    * The input is cached HERE for its two consumptions (loop seed + the
    * final join) and unpersisted before returning; the result arrives
    * eagerly checkpointed, so downstream consumers replay a block read,
    * not the loop, and a long-lived session accumulates no cache entries
    * per call.
    *
    * Each frontier is checkpointed (materialized + lineage truncated)
    * by the [[graft.plans.Fixpoint]] driver, NOT merely cached: every
    * doubling step references the previous frontier twice, so the
    * *logical plan tree* grows as 2^i — with plain caching, Catalyst
    * analysis and the eager plan-string rendering on every downstream
    * query go exponential (measured: >100 s of pure planning on the role
    * query at sf0.1; caching doesn't help because cache substitution
    * happens only after the full tree is analyzed; GraphX checkpoints
    * for the same reason). The same self-join doubles the frontier's size
    * estimate's bit length per round; the driver's checkpoint clamps it,
    * and so does the final one, so downstream plans see an estimate
    * that fits in a Long. A parent-pointer cycle (malformed data) can
    * never converge: pointers keep moving, so the loop THROWS at
    * `maxIters` rather than silently emitting wrong roots.
    *
    * A round ticks every row whose pointer still moved (`b_dist > 0`)
    * while the frontier materializes, so each round is exactly ONE job. */
  def withRoots(nodeDfIn: DataFrame, maxIters: Int = 20): DataFrame = {
    val nodeDf = nodeDfIn.cache()
    try Fixpoint.checkpoint(withRootsLoop(nodeDf, maxIters))
    finally nodeDf.unpersist(false)
  }

  private def withRootsLoop(nodeDf: DataFrame, maxIters: Int): DataFrame = {
    val seed = Fixpoint.checkpoint(nodeDf.select(
      col("node_id"),
      coalesce(col("parent_id"), col("node_id")).as("anc"),
      when(col("parent_id").isNull, 0L).otherwise(1L).as("dist")))
    val roots = Fixpoint.iterate("withRoots", seed, maxIters) { (cur, tick) =>
      val b = cur.select(col("node_id").as("b_id"), col("anc").as("b_anc"),
        col("dist").as("b_dist"))
      cur.join(b, cur("anc") === b("b_id"))
        .filter(tick(col("b_dist") > 0))
        .select(col("node_id"), col("b_anc").as("anc"),
          (col("dist") + col("b_dist")).as("dist"))
    }
    val resolved = roots.select(col("node_id").as("r_id"),
      col("anc").as("root_id"), col("dist").as("depth"))
    nodeDf.join(resolved, col("node_id") === col("r_id")).drop("r_id")
  }

  /** Per-tree rollup: size and max depth per root — the relational
    * "summary" of each assembled tree. */
  def treeStats(rootedNodes: DataFrame): DataFrame =
    rootedNodes.groupBy(col("root_id")).agg(
      count(lit(1)).as("tree_size"),
      max(col("depth")).as("max_depth"),
      count(when(!col("observed"), 1)).as("dummy_roots"))

  /** A1 — nested-JSON tree assembly, bottom-up by depth level: level-d
    * nodes absorb their children's JSON, ordered by (ts, node_id) —
    * SURVEY.md's determinism rule replacing the reference's arrival order.
    * Output: one row per root with the reference's recursive Tweet shape
    * (DiscussionTreeBolt.java:189-200). maxDepth bounds the rollup. */
  def assembleTrees(rootedNodes: DataFrame, maxDepth: Int = 12): DataFrame = {
    val flat = rootedNodes.withColumn("self_json",
      to_json(struct(
        col("user_id").as("author_id"),
        col("screen_name").as("author_screen_name"),
        col("node_id").as("tweet_id"),
        date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ssXXX").as("timestamp"),
        col("parent_id").as("in_reply_to"),
        col("observed"), col("retweet"))))
    val deepest = maxDepth
    // levels[d] = nodes at depth d with their completed JSON
    var below: DataFrame = null // (parent_id, json, ts, node_id) of completed level d+1
    var d = deepest
    while (d >= 0) {
      val level = flat.filter(col("depth") === d)
      val completed =
        if (below == null)
          // deepest level still carries an (empty) replies array — the
          // reference's Jackson serialization always emits the key
          // (DiscussionTreeBolt.java:189-200 Tweet.replies is never null)
          level.withColumn("json", concat(
            expr("substring(self_json, 1, length(self_json) - 1)"),
            lit(",\"replies\":[]}")))
        else {
          val kids = below
            .withColumn("item", struct(col("ts").as("o1"), col("node_id").as("o2"), col("json")))
            .groupBy(col("parent_id").as("k_pid"))
            .agg(concat_ws(",", transform(array_sort(collect_list(col("item"))),
              x => x.getField("json"))).as("kids_json"))
          level.join(kids, col("node_id") === col("k_pid"), "left")
            .withColumn("json", concat(
              expr("substring(self_json, 1, length(self_json) - 1)"),
              lit(",\"replies\":["), coalesce(col("kids_json"), lit("")), lit("]}")))
            .drop("k_pid", "kids_json")
        }
      below = completed.select(col("parent_id"), col("json"), col("ts"), col("node_id"))
      d -= 1
    }
    // depth-0 rows are the roots
    below.select(col("node_id").as("root_id"), col("ts"), col("json").as("tree_json"))
  }

  /** Nodes deeper than `maxDepth` are excluded from [[assembleTrees]]'s
    * rollup; callers should check this count and raise maxDepth (or log)
    * when nonzero rather than silently truncating trees. */
  def droppedBeyondDepth(rootedNodes: DataFrame, maxDepth: Int = 12): Long =
    rootedNodes.filter(col("depth") > maxDepth).count()
}
