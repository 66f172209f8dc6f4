package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.telemetry.{Events, EventsSpec}

/** [[InteractionGraph.triangleCounts]] — hand-counted fixtures (K4, a
  * triangle-free star, direction/multiplicity collapse) and a random
  * graph checked against brute-force enumeration. The operator's
  * degree-oriented exactly-once device must agree with naive counting
  * for any partitioning. */
class InteractionGraphSpec extends AnyFunSuite {
  private lazy val spark = graft.TestSpark.spark
  import spark.implicits._

  private def inter(pairs: Seq[(String, String)]) =
    pairs.toDF("author_id", "target_user_id")

  private def counts(pairs: Seq[(String, String)]): Map[String, Long] =
    InteractionGraph.triangleCounts(inter(pairs).repartition(7))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  test("K4 has four triangles, every vertex in three; a star has none") {
    val k4 = for {
      a <- Seq("a", "b", "c", "d"); b <- Seq("a", "b", "c", "d") if a < b
    } yield (a, b)
    assert(counts(k4) == Map("a" -> 3L, "b" -> 3L, "c" -> 3L, "d" -> 3L))
    // hub with 5 leaves: wedges everywhere, no closing edges
    assert(counts((1 to 5).map(i => ("hub", s"leaf$i"))).isEmpty)
  }

  test("direction and multiplicity collapse: both-way and repeated interactions count one edge") {
    // the same triangle reported via duplicated and reversed edges
    val noisy = Seq(("x", "y"), ("y", "x"), ("x", "y"),
      ("y", "z"), ("z", "x"), ("x", "z"),
      ("x", "x")) // self-loop must be dropped
    assert(counts(noisy) == Map("x" -> 1L, "y" -> 1L, "z" -> 1L))
  }

  test("clusteringCoefficients: K4 closes every wedge; a path closes none; deg<2 dropped") {
    val k4 = for {
      a <- Seq("a", "b", "c", "d"); b <- Seq("a", "b", "c", "d") if a < b
    } yield (a, b)
    val gotK4 = InteractionGraph.clusteringCoefficients(inter(k4))
      .collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    // every vertex: deg 3 -> 3 wedges, all closed -> coeff 1.0
    assert(gotK4 == Map("a" -> ((3L, 3L, 1.0)), "b" -> ((3L, 3L, 1.0)),
      "c" -> ((3L, 3L, 1.0)), "d" -> ((3L, 3L, 1.0))))
    // path p-q-r: only q has deg 2 (1 wedge, open); endpoints deg 1 drop
    val gotPath = InteractionGraph.clusteringCoefficients(
        inter(Seq(("p", "q"), ("q", "r"))))
      .collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(gotPath == Map("q" -> ((0L, 1L, 0.0))))
  }

  test("random graph equals brute-force triangle enumeration") {
    val rnd = new scala.util.Random(29)
    val verts = (0 until 18).map(i => s"v$i")
    val pairs = for {
      a <- verts; b <- verts if a < b && rnd.nextDouble() < 0.3
    } yield (a, b)
    // brute force over the undirected deduped edge set
    val es = pairs.toSet
    def edge(a: String, b: String) =
      es.contains(if (a < b) (a, b) else (b, a))
    val want = scala.collection.mutable.Map.empty[String, Long]
    for {
      i <- verts.indices; j <- (i + 1) until verts.length
      k <- (j + 1) until verts.length
      if edge(verts(i), verts(j)) && edge(verts(j), verts(k)) &&
        edge(verts(i), verts(k))
    } Seq(verts(i), verts(j), verts(k)).foreach { v =>
      want(v) = want.getOrElse(v, 0L) + 1L
    }
    assert(counts(pairs) == want.toMap)
  }

  private def components(pairs: Seq[(String, String)]): Map[String, String] =
    InteractionGraph.connectedComponents(inter(pairs).repartition(7))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap

  test("connectedComponents: chain, triangle and pair each label to their min id") {
    // an 8-node chain exercises multi-round star contraction (diameter
    // 7 ≫ the round count the log-contraction needs); direction noise
    // and a self-loop must collapse exactly like the triangle pass
    val chain = (1 until 8).map(i => (s"a$i", s"a${i + 1}"))
    val g = chain ++ Seq(("y", "x"), ("z", "y"), ("x", "z"), // triangle
      ("q", "p"), ("p", "q"), ("p", "p")) // pair + reversed dup + self-loop
    val got = components(g)
    val want = (1 to 8).map(i => s"a$i" -> "a1").toMap ++
      Map("x" -> "x", "y" -> "x", "z" -> "x", "p" -> "p", "q" -> "p")
    assert(got == want)
  }

  test("hopDistances: star+tail BFS levels, unreached NULL, maxHops cap, seed ties") {
    // hub h (deg 6) with 5 leaves and a 3-hop tail, plus a separate
    // pair — single seed is the hub; the pair stays NULL-unreached
    val g = (1 to 5).map(i => ("h", s"l$i")) ++
      Seq(("h", "x1"), ("x1", "x2"), ("x2", "x3"), ("p", "q"))
    def dists(nSeeds: Int, maxHops: Int): Map[String, Option[Long]] =
      InteractionGraph.hopDistances(inter(g).repartition(7), nSeeds, maxHops)
        .collect()
        .map(r => r.getString(0) ->
          (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    val leaves = (1 to 5).map(i => s"l$i" -> Some(1L)).toMap
    assert(dists(1, 20) == leaves ++ Map(
      "h" -> Some(0L), "x1" -> Some(1L), "x2" -> Some(2L),
      "x3" -> Some(3L), "p" -> None, "q" -> None))
    // the cap truncates the tail: x3 is 3 hops out, bound is 2
    assert(dists(1, 2)("x3") == None)
    assert(dists(1, 2)("x2") == Some(2L))
    // two disjoint triangles, all degree 2: both seeds land in the
    // id-ascending triangle (tie-break by id), the other stays NULL
    val twoTri = Seq(("a", "b"), ("b", "c"), ("c", "a"),
      ("d", "e"), ("e", "f"), ("f", "d"))
    val got = InteractionGraph.hopDistances(inter(twoTri), 2, 20)
      .collect()
      .map(r => r.getString(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(got == Map("a" -> Some(0L), "b" -> Some(0L), "c" -> Some(1L),
      "d" -> None, "e" -> None, "f" -> None))
  }

  test("hopDistances agrees with driver-side brute BFS on a random graph") {
    val rnd = new scala.util.Random(53)
    val verts = (0 until 16).map(i => f"v$i%02d")
    val pairs = for {
      a <- verts; b <- verts if a < b && rnd.nextDouble() < 0.12
    } yield (a, b)
    val adj = pairs.flatMap(p => Seq(p, p.swap))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val nodes = pairs.flatMap(p => Seq(p._1, p._2)).distinct.sorted
    val deg = nodes.map(n => n -> adj(n).size.toLong).toMap
    val seeds = nodes.sortBy(n => (-deg(n), n)).take(3)
    // brute BFS from the seed set
    var dist = seeds.map(_ -> 0L).toMap
    var frontier = seeds.toSet
    var h = 0L
    while (frontier.nonEmpty) {
      h += 1
      val hh = h
      frontier = frontier.flatMap(adj).filterNot(dist.contains)
      dist = dist ++ frontier.map(_ -> hh)
    }
    val want = nodes.map(n => n -> dist.get(n)).toMap
    val got = InteractionGraph.hopDistances(inter(pairs).repartition(5))
      .collect()
      .map(r => r.getString(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(got == want)
  }

  test("connectedComponents agrees with the neighbor-min clusterer on a random graph") {
    // two independent algorithms (large/small-star contraction vs
    // nearDupClusters' per-hop min propagation) over the same edges
    val rnd = new scala.util.Random(41)
    val verts = (0 until 40).map(i => f"n$i%02d")
    val pairs = for {
      a <- verts; b <- verts if a < b && rnd.nextDouble() < 0.04
    } yield (a, b)
    val star = components(pairs)
    val nodes = verts.toDF("id")
    val edges = pairs.toDF("doc_a", "doc_b")
    val minLabel = graft.pipeline.Dedup
      .nearDupClusters(nodes, edges, "id")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    // nearDupClusters labels every node (singletons included); the
    // interaction graph has no isolated vertices, so compare on the
    // star-side key set
    assert(star == minLabel.view.filterKeys(star.keySet).toMap)
  }

  test("connectedComponents refuses loudly when maxRounds cannot converge a long chain") {
    val chain = (0 until 63).map(i => (f"n$i%02d", f"n${i + 1}%02d"))
    val e = intercept[IllegalStateException] {
      InteractionGraph.connectedComponents(inter(chain), maxRounds = 1)
    }
    assert(e.getMessage == "connectedComponents did not converge after 1 rounds")
  }

  test("commonNeighborRecs: wedges minus edges, hub cap drops intermediates") {
    def recs(pairs: Seq[(String, String)], cap: Int = Int.MaxValue) =
      InteractionGraph.commonNeighborRecs(inter(pairs).repartition(5),
          k = 5, maxHubDegree = cap)
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getLong(3)))
        .toSet
    // path a-b-c: a and c share b; b has no non-neighbor candidates
    assert(recs(Seq(("a", "b"), ("b", "c"))) ==
      Set(("a", 1L, "c", 1L), ("c", 1L, "a", 1L)))
    // K4: everyone already interacts with everyone — no recommendations
    val k4 = for {
      a <- Seq("a", "b", "c", "d"); b <- Seq("a", "b", "c", "d") if a < b
    } yield (a, b)
    assert(recs(k4).isEmpty)
    // star: all leaf pairs share the hub (cn=1); capping the hub to
    // degree 2 removes it as an intermediate -> nothing left
    val star = (1 to 3).map(i => ("hub", s"l$i"))
    val got = recs(star)
    assert(got == Set(
      ("l1", 1L, "l2", 1L), ("l1", 2L, "l3", 1L),
      ("l2", 1L, "l1", 1L), ("l2", 2L, "l3", 1L),
      ("l3", 1L, "l1", 1L), ("l3", 2L, "l2", 1L)))
    val (capped, evs) = Events.scoped("capped")(recs(star, cap = 2))
    assert(capped.isEmpty)
    // the hub (degree 3) is the one excluded intermediate
    assert(EventsSpec.guards(evs) == Seq(("commonNeighborRecs", 1L, 2)))
  }

  test("degreeAssortativity: star is -1, path is -0.5, regular K4 is NULL") {
    def row(pairs: Seq[(String, String)]) =
      InteractionGraph.degreeAssortativity(inter(pairs)).collect().head
    val star = row((1 to 3).map(i => ("hub", s"leaf$i")))
    // registers: 6 directed pairs, Σd = 12, Σdxdy = 18, Σd² = 30
    assert((star.getLong(0), star.getLong(1), star.getLong(2)) == ((4L, 3L, 3L)))
    assert((star.getLong(3), star.getLong(4), star.getLong(5)) == ((12L, 18L, 30L)))
    assert(star.getDouble(6) == -1.0)
    val path = row(Seq(("a", "b"), ("b", "c"), ("c", "d")))
    assert(path.getDouble(6) == -0.5)
    val k4 = row(for {
      a <- Seq("a", "b", "c", "d"); b <- Seq("a", "b", "c", "d") if a < b
    } yield (a, b))
    assert(k4.isNullAt(6)) // 3-regular: zero variance, undefined
  }
}
