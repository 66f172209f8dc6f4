package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.plans.Fixpoint
import graft.telemetry.Events

/** Interaction-graph construction (A2): re-expression of
  * roleAnalysisTopology/.../bolts/InteractionGraphBolt.java:96-196.
  *
  * The bolt's nested `HashMap<author, HashMap<action, List<Interaction>>>`
  * becomes a long-format relation `(author_id, action, target_user_id, ts)`
  * produced by three select/explode branches union'ed together — each
  * branch prunes to exactly the columns it reads, so the scan stays
  * column-pruned and the union is shuffle-free. The verbose and flat
  * graphs are groupBy aggregations keyed by (author, action): parallel-safe
  * where the Storm bolt required parallelism 1 (SURVEY.md §2.7 W8).
  */
object InteractionGraph {

  val ACTION_REPLIED = "replied_to"
  val ACTION_MENTIONED = "mentioned"
  val ACTION_RETWEETED = "retweeted"

  /** Long-format interactions from normalized tweets
    * ([[graft.sources.TweetSource.normalized]]):
    *  - replied_to: in_reply_to_user_id_str (InteractionGraphBolt.java:133-141)
    *  - mentioned: each entities.user_mentions[].id_str (:145-155, keeps
    *    duplicates — one interaction per mention occurrence)
    *  - retweeted: retweeted_status.user.id_str (:158-166)
    */
  def interactions(normalized: DataFrame): DataFrame = {
    val replied = normalized
      .filter(col("in_reply_to_user_id_str").isNotNull)
      .select(col("author_id"), col("author_screen_name"),
        lit(ACTION_REPLIED).as("action"),
        col("in_reply_to_user_id_str").as("target_user_id"), col("ts"))
    val mentioned = normalized
      .filter(col("mentioned_user_ids").isNotNull)
      .select(col("author_id"), col("author_screen_name"),
        lit(ACTION_MENTIONED).as("action"),
        explode(col("mentioned_user_ids")).as("target_user_id"), col("ts"))
      .filter(col("target_user_id").isNotNull)
    val retweeted = normalized
      .filter(col("retweeted_user_id").isNotNull)
      .select(col("author_id"), col("author_screen_name"),
        lit(ACTION_RETWEETED).as("action"),
        col("retweeted_user_id").as("target_user_id"), col("ts"))
    replied.unionByName(mentioned).unionByName(retweeted)
  }

  /** Verbose graph: per (author, action) the full interaction list with
    * timestamps, ordered by (ts, target) — SURVEY's determinism rule in
    * place of the bolt's arrival order. */
  def verboseGraph(inter: DataFrame): DataFrame =
    inter
      .withColumn("item", struct(col("ts"), col("target_user_id").as("user_id")))
      .groupBy("author_id", "action")
      .agg(array_sort(collect_list(col("item"))).as("interactions"))

  /** Flat graph: per (author, action) the distinct target set
    * (InteractionGraphBolt.java:179-196 HashSet dedup), sorted. */
  def flatGraph(inter: DataFrame): DataFrame =
    inter.groupBy("author_id", "action")
      .agg(array_sort(collect_set(col("target_user_id"))).as("targets"))

  /** Scalar summary used by the hash-checked oracle path (arrays hash
    * differently across engines; counts do not). screen_name is the
    * T10-cleaned author screen name (constant per author). */
  def flatCounts(inter: DataFrame): DataFrame =
    inter.groupBy("author_id", "action")
      .agg(
        max(col("author_screen_name")).as("screen_name"),
        count(lit(1)).as("n_interactions"),
        countDistinct(col("target_user_id")).as("n_targets"),
        min(col("ts")).as("first_ts"),
        max(col("ts")).as("last_ts"))

  /** Exact per-vertex triangle counts over the UNDIRECTED interaction
    * graph — the clustering/cohesion metric of social-graph analysis
    * (how many of a user's neighbor pairs also interact).
    *
    * DEGREE-ORIENTED enumeration (the standard distributed-triangle
    * device): each undirected edge is oriented from its
    * (degree, id)-smaller endpoint to the larger, so every triangle is
    * generated exactly once as two out-edges of its order-minimum
    * vertex plus the closing oriented edge — and the wedge self-join
    * fans out per LOW-degree vertex, bounding the blow-up by
    * O(Σ min-degree per edge) ≈ O(E^1.5) instead of the hub-quadratic
    * O(Σ deg²) a naive shared-vertex join pays. Exactly-once
    * enumeration makes the counts integers both engines agree on; the
    * oracle enumerates by ID order instead (a different orientation —
    * same triangle set, adversarially different mechanism).
    *
    * Shape: one distinct on the (min, max) edge relation, one
    * vertex-keyed degree aggregate joined back (AQE broadcasts it when
    * small), one source-keyed wedge self-join, one edge-keyed closing
    * semi-join, one explode + count. No driver collection anywhere. */
  def triangleCounts(inter: DataFrame): DataFrame = {
    val (edges, deg) = undirectedGraph(inter)
    trianglesFrom(edges, deg)
  }

  /** Local clustering coefficient per vertex: closed wedges over
    * possible wedges, `2·T(v) / (deg(v)·(deg(v)−1))` — the standard
    * cohesion metric on top of [[triangleCounts]]. Every vertex with
    * deg ≥ 2 is reported (zero triangles included — the interesting
    * low end); registers are exact integers and the coefficient is one
    * IEEE divide of bit-identical operands, rounded in the decimal
    * domain (the house rule), so the relation hashes across engines.
    * Shares ONE materialized graph with the triangle pass. */
  def clusteringCoefficients(inter: DataFrame): DataFrame = {
    val (edges, deg) = undirectedGraph(inter)
    trianglesFrom(edges, deg)
      .join(deg.withColumnRenamed("n", "user_id"), Seq("user_id"), "right")
      .filter(col("d") >= 2)
      .select(col("user_id"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        expr("(d * (d - 1)) div 2").as("n_wedges"), // exact integer div
        round(((coalesce(col("n_triangles"), lit(0L)) * 2).cast("double") /
            (col("d") * (col("d") - 1)).cast("double"))
            .cast("decimal(28,10)"), 6)
          .cast("double").as("coeff"))
  }

  /** Connected components over the undirected interaction graph by
    * LARGE-STAR / SMALL-STAR alternation (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC 2014) — the
    * O(log² n)-round device for graphs whose DIAMETER is unbounded,
    * where plain neighbor-min propagation
    * ([[graft.pipeline.Dedup.nearDupClusters]]) pays one shuffle round
    * per hop. Each phase is one adjacency groupBy (per-node min) plus
    * one join back — per-round cost is O(E) rows shuffled regardless of
    * diameter, and edges monotonically contract toward stars rooted at
    * each component's minimum id.
    *
    * Phases (ids totally ordered — here lexicographic on the string
    * user ids, matching least/greatest everywhere else in this file):
    *  - large-star at u: every neighbor v > u re-attaches to
    *    m = min(Γ(u) ∪ {u});
    *  - small-star at u: the smaller neighborhood N = {v ∈ Γ(u), v < u}
    *    plus u itself re-attach to min(N).
    * Fixpoint of the composition = disjoint stars whose centers are
    * component minima (their Theorem 1) — labels read directly off the
    * final edge relation. Convergence is detected exactly by the
    * [[graft.plans.Fixpoint]] driver's tick, riding each round's
    * materialization: it fires whenever large-star moves an edge
    * (m ≠ a) or small-star emits a within-neighborhood edge (every
    * fromN row is new). Zero ticks ⟺ next ≡ edges exactly — each
    * phase re-emits every edge from one endpoint's view, and any
    * re-attachment strictly decreases the multiset sum of
    * smaller-endpoint ranks, so a changed round can never reproduce
    * the input set. `maxRounds` is a loud guard only. Per-vertex output:
    * (user_id, component = min id in the component). */
  def connectedComponents(inter: DataFrame, maxRounds: Int = 30): DataFrame = {
    val edges = Fixpoint.iterate("connectedComponents", undirectedEdges(inter),
      maxRounds)((e, tick) => smallStar(largeStar(e, tick), tick))
    // star fixpoint: every edge is (component-min, member). The min-agg
    // is an identity safety net (and one cheap shuffle on star edges).
    val children = edges.groupBy(col("v").as("user_id"))
      .agg(min(col("u")).as("component"))
    val roots = edges.select(col("u").as("user_id"), col("u").as("component"))
      .distinct()
    children.unionByName(roots)
  }

  /** Large-star phase: neighbors LARGER than u attach to the minimum of
    * u's closed neighborhood. Every input edge is re-emitted exactly
    * once (from its smaller endpoint's view), so connectivity is
    * preserved and the output stays normalized u < v. */
  private def largeStar(edges: DataFrame, tick: Column => Column): DataFrame = {
    val adj = edges.select(col("u").as("a"), col("v").as("b"))
      .unionByName(edges.select(col("v").as("a"), col("u").as("b")))
    val m = adj.groupBy(col("a")).agg(min(col("b")).as("mn"))
      .select(col("a"), least(col("mn"), col("a")).as("m"))
    adj.filter(col("b") > col("a"))
      .join(m, "a")
      .filter(tick(col("m") =!= col("a"))) // tick iff the edge re-attached
      .select(col("m").as("u"), col("b").as("v")) // m <= a < b
      .distinct()
  }

  /** Small-star phase: the smaller neighborhood N(u) = {v < u} plus u
    * itself attach to min(N(u)). Every edge is covered from its LARGER
    * endpoint's view; output stays normalized u < v. */
  private def smallStar(edges: DataFrame, tick: Column => Column): DataFrame = {
    val sm = edges.select(col("v").as("a"), col("u").as("b")) // b < a
    val m = sm.groupBy(col("a")).agg(min(col("b")).as("m"))
    val fromN = sm.join(m, "a")
      .filter(col("b") =!= col("m"))
      // every fromN row is a within-neighborhood re-attachment → tick
      .filter(tick(lit(true)))
      .select(col("m").as("u"), col("b").as("v")) // m = min(N) < b
    val fromU = m.select(col("m").as("u"), col("a").as("v")) // m < a
    fromN.unionByName(fromU).distinct()
  }

  /** Degree assortativity of the undirected interaction graph — the
    * Pearson correlation of endpoint degrees over edges (Newman 2002):
    * do hubs interact with hubs (r > 0, social networks' signature) or
    * with leaves (r < 0)? Registers are exact int64 sums over the 2m
    * directed endpoint pairs — by symmetry Σx = Σy and Σx² = Σy², so
    * the correlation needs NO square root:
    * r = (2m·Σxy − (Σx)²) / (2m·Σx² − (Σx)²), one IEEE divide of
    * bit-identical integer operands, rounded in the decimal domain.
    * Multiplies wear loud int64 guards (Spark's non-ANSI `*` wraps
    * silently where DuckDB raises — the skewReport device). One row
    * out; a degenerate regular graph (zero denominator) reports NULL. */
  def degreeAssortativity(inter: DataFrame): DataFrame = {
    val (edges, deg) = undirectedGraph(inter)
    val pairs = edges
      .unionByName(edges.select(col("v").as("u"), col("u").as("v")))
      .join(deg.withColumnRenamed("n", "u").withColumnRenamed("d", "dx"), "u")
      .join(deg.withColumnRenamed("n", "v").withColumnRenamed("d", "dy"), "v")
    val nodeAgg = deg.agg(count(lit(1)).as("n_nodes"), max(col("d")).as("max_degree"))
    val guarded = pairs.select(
      when(assert_true(col("dx") <= lit(3037000498L) && col("dy") <= lit(3037000498L),
        lit("degreeAssortativity: degree product exceeds int64 — " +
          "rescale degrees before the correlation")).isNull,
        col("dx") * col("dy")).as("xy"),
      col("dx"),
      (col("dx") * col("dx")).as("xx")) // dx <= 3037000498 ⇒ dx² < 2^63
    val sums = guarded.agg(
      count(lit(1)).as("n_pairs"),
      sum(col("dx")).as("sum_d"),
      sum(col("xy")).as("sum_dxdy"),
      sum(col("xx")).as("sum_d2"))
    val num = col("n_pairs") * col("sum_dxdy") - col("sum_d") * col("sum_d")
    val den = col("n_pairs") * col("sum_d2") - col("sum_d") * col("sum_d")
    val numChecked = when(
      assert_true(
        greatest(col("sum_dxdy"), col("sum_d2")) <=
          lit(Long.MaxValue) / greatest(col("n_pairs"), lit(1L)) &&
          col("sum_d") <= lit(3037000498L),
        lit("degreeAssortativity: register product exceeds int64 — " +
          "rescale (sample edges or bucket degrees) before the correlation")).isNull,
      num)
    sums.crossJoin(broadcast(nodeAgg))
      .select(col("n_nodes"),
        expr("n_pairs div 2").as("n_edges"),
        col("max_degree"),
        col("sum_d"), col("sum_dxdy"), col("sum_d2"),
        when(den === 0L, lit(null).cast("double"))
          .otherwise(round((numChecked.cast("double") / den.cast("double"))
              .cast("decimal(28,10)"), 6)
            .cast("double")).as("assortativity"))
  }

  /** Common-neighbor link prediction ("people you may know"): for each
    * user, the top-`k` users they do NOT interact with, ranked by how
    * many shared interaction partners they have — the classic triadic-
    * closure recommender and the simplest link-prediction baseline.
    *
    * Scale shape: the wedge join is inherently O(Σ deg²) — that cost IS
    * the operator — but the quadratic term is dominated by hub
    * vertices, so `maxHubDegree` drops super-node INTERMEDIATES before
    * the self-join (the standard production mitigation; a celebrity
    * account connecting everyone to everyone predicts nothing). Dropped
    * hubs are reported loudly (the capOccupancy discipline). Candidate
    * ranking windows partition per source user; existing edges and
    * self-pairs are anti-joined out. Counts are exact integers; ties
    * break by candidate id. */
  def commonNeighborRecs(inter: DataFrame, k: Int = 5,
      maxHubDegree: Int = Int.MaxValue): DataFrame = {
    require(k >= 1, "commonNeighborRecs: k must be >= 1")
    val (edges, deg) = undirectedGraph(inter)
    val mids =
      if (maxHubDegree == Int.MaxValue) deg
      else {
        require(maxHubDegree >= 1, "commonNeighborRecs: maxHubDegree must be >= 1")
        val over = deg.filter(col("d") > maxHubDegree).localCheckpoint(true)
        Events.guard("commonNeighborRecs", over, maxHubDegree, "d")(r =>
          s"${r.getString(0)}:${r.getLong(1)}")
        deg.filter(col("d") <= maxHubDegree)
      }
    val adj = edges.select(col("u").as("a"), col("v").as("b"))
      .unionByName(edges.select(col("v").as("a"), col("u").as("b")))
    // wedges through capped intermediates: a —x— b, a ≠ b
    val viaMid = adj.select(col("b").as("x"), col("a"))
      .join(mids.select(col("n").as("x")), Seq("x"), "left_semi")
    val cand = viaMid
      .join(viaMid.select(col("x"), col("a").as("b")), Seq("x"))
      .filter(col("a") =!= col("b"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("common_neighbors"))
      // drop pairs that already interact (both orientations are present
      // in adj, so one anti-join on the directed form covers both)
      .join(adj, Seq("a", "b"), "left_anti")
    val w = Window.partitionBy(col("a"))
      .orderBy(col("common_neighbors").desc, col("b").asc)
    cand.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("a").as("user_id"), col("rank"), col("b").as("rec_id"),
        col("common_neighbors"))
  }

  /** Multi-source BFS hop distance over the undirected interaction
    * graph: distance (in hops) from every vertex to its NEAREST seed,
    * seeds = the `nSeeds` highest-degree users (ties by id) — the
    * "influencer reach" / network-distance-to-hub metric, and the
    * relational form of any seeded reachability question
    * (contamination spread, moderation blast radius).
    *
    * Frontier expansion, not path enumeration: each round joins the
    * CURRENT frontier to the adjacency list, anti-joins the last two
    * frontiers (all a new neighbor can touch — see the loop invariant),
    * and checkpoints — per-round shuffle cost is O(frontier-adjacent
    * edges), total work O(E) with each edge crossed at most twice,
    * where a walk-style expansion would revisit every node once per
    * longer walk and an accumulated visited set would re-materialize
    * O(V) every round. Rounds =
    * eccentricity of the seed set (social graphs: small), bounded by
    * `maxHops`; vertices not reached within the bound report NULL hops
    * (the "outside the k-hop neighborhood" verdict, not an error —
    * disconnected components are exactly the interesting finding).
    * Visited/frontier relations hold (id, hops) only — no payload ever
    * rides the loop. Output covers EVERY vertex of the graph. */
  def hopDistances(inter: DataFrame, nSeeds: Int = 3,
      maxHops: Int = 20): DataFrame = {
    require(nSeeds >= 1, "hopDistances: nSeeds must be >= 1")
    require(maxHops >= 0, "hopDistances: maxHops must be >= 0")
    val (edges, deg) = undirectedGraph(inter)
    val adj = edges.select(col("u").as("a"), col("v").as("b"))
      .unionByName(edges.select(col("v").as("a"), col("u").as("b")))
    // per-partition top-k + driver merge of nSeeds rows (TakeOrdered),
    // never a global sort
    val seeds = deg.orderBy(col("d").desc, col("n").asc).limit(nSeeds)
      .select(col("n"))
    // BFS invariant: a neighbor of frontier F_k lies in F_{k-1}, F_k, or
    // the new F_{k+1} (adjacency changes distance by at most 1), so the
    // dedup anti-join needs only the last TWO frontiers — per-round
    // state is O(|frontier|), never the accumulated visited set.
    var frontier = seeds.select(col("n"), lit(0L).as("hops"))
      .localCheckpoint(true)
    var prev = frontier.limit(0)
    val levels = scala.collection.mutable.ArrayBuffer(frontier)
    var hop = 0L
    while (hop < maxHops && !frontier.isEmpty) {
      hop += 1
      val next = adj
        .join(frontier.select(col("n").as("a")), Seq("a"), "left_semi")
        .select(col("b").as("n")).distinct()
        .join(frontier.unionByName(prev).select(col("n")), Seq("n"),
          "left_anti")
        .select(col("n"), lit(hop).as("hops"))
        .localCheckpoint(true)
      prev = frontier
      frontier = next
      levels += next
    }
    deg.select(col("n"))
      .join(levels.reduce(_ unionByName _), Seq("n"), "left")
      .select(col("n").as("user_id"), col("hops"))
  }

  /** Deduped undirected edge relation + per-vertex degrees. Both are
    * multiply-referenced bounded working sets (degree aggregate, both
    * wedge sides, closing semi join, the coefficient denominator) —
    * left lazy, Catalyst replays the full upstream per branch (for
    * q169 that is the JSON tweet-adapter parse; measured 17 s vs
    * 1.4 s at sf0.1), so each materializes once (the withRoots
    * device), orders smaller than the interaction log. */
  private def undirectedGraph(inter: DataFrame): (DataFrame, DataFrame) = {
    val edges = undirectedEdges(inter)
    val deg = edges.select(col("u").as("n"))
      .unionByName(edges.select(col("v").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("d"))
      .localCheckpoint()
    (edges, deg)
  }

  /** The deduped, self-loop-free, (min, max)-normalized edge relation —
    * materialized once (it feeds every consumer's multiple branches). */
  private def undirectedEdges(inter: DataFrame): DataFrame =
    inter
      .filter(col("author_id") =!= col("target_user_id"))
      .select(least(col("author_id"), col("target_user_id")).as("u"),
        greatest(col("author_id"), col("target_user_id")).as("v"))
      .distinct()
      .localCheckpoint()

  private def trianglesFrom(edges: DataFrame, deg: DataFrame): DataFrame = {
    // orient by (degree, id): struct comparison gives the total order
    val withDeg = edges
      .join(deg.withColumnRenamed("n", "u").withColumnRenamed("d", "du"), "u")
      .join(deg.withColumnRenamed("n", "v").withColumnRenamed("d", "dv"), "v")
    val oriented = withDeg.select(
      when(struct(col("du"), col("u")) < struct(col("dv"), col("v")),
        struct(col("u").as("s"), col("v").as("t"),
          col("du").as("ds"), col("dv").as("dt")))
        .otherwise(struct(col("v").as("s"), col("u").as("t"),
          col("dv").as("ds"), col("du").as("dt"))).as("e"))
      .select(col("e.s"), col("e.t"), col("e.ds"), col("e.dt"))
      .localCheckpoint()
    // wedges at the order-minimum vertex: two out-edges s→a, s→b with
    // a before b in the SAME total order; the closing edge is then
    // oriented a→b by construction
    val a = oriented.select(col("s"), col("t").as("a"), col("dt").as("da"))
    val b = oriented.select(col("s"), col("t").as("b"), col("dt").as("db"))
    val wedges = a.join(b, Seq("s"))
      .filter(struct(col("da"), col("a")) < struct(col("db"), col("b")))
    val closing = oriented.select(col("s").as("a"), col("t").as("b"))
    val triangles = wedges.join(closing, Seq("a", "b"), "left_semi")
      .select(col("s"), col("a"), col("b"))
    triangles
      .select(explode(array(col("s"), col("a"), col("b"))).as("user_id"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_triangles"))
  }
}
