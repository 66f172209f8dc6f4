package graft.operators

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.telemetry.{Events, EventsSpec}

/** J4 dummy-root synthesis, pointer-doubling root resolution (incl. cycle
  * detection), per-tree stats, and A1 nested-JSON assembly on hand-drawn
  * fixtures. */
class DiscussionTreeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(s: Int) = Timestamp.valueOf(f"2024-01-01 00:00:$s%02d")

  /** normalized-shaped fixture rows:
    * (tweet_id, author_id, screen, ts, retweet, ancestor, rUser, rScreen) */
  private def normalized(rows: Seq[(String, String, String, Timestamp,
      Boolean, String, String, String)]): DataFrame =
    rows.toDF("tweet_id", "author_id", "author_screen_name", "ts",
      "retweet", "ancestor_id", "in_reply_to_user_id_str",
      "in_reply_to_screen_name")

  test("J4: replies to unobserved parents synthesize one dummy root each") {
    val df = normalized(Seq(
      ("t1", "u1", "a", ts(1), false, null, null, null),
      ("t2", "u2", "b", ts(2), false, "missing", "ux", "u x"),
      ("t3", "u3", "c", ts(3), false, "missing", "uw", "u w")))
    val nodes = DiscussionTree.nodes(df).collect()
      .map(r => r.getAs[String]("node_id") -> r).toMap
    assert(nodes.size == 4)
    val dummy = nodes("missing")
    assert(!dummy.getAs[Boolean]("observed"))
    // min() dedup across the two repliers: "uw" < "ux"
    assert(dummy.getAs[String]("user_id") == "uw")
    assert(dummy.getAs[String]("screen_name") == "u w")
    assert(dummy.getAs[String]("parent_id") == null)
    assert(nodes("t2").getAs[Boolean]("observed"))
  }

  test("withRoots resolves roots and depths through chains and dummies") {
    val df = normalized(Seq(
      ("t1", "u1", "a", ts(1), false, null, null, null),
      ("t2", "u2", "b", ts(2), false, "t1", "u1", "a"),
      ("t3", "u3", "c", ts(3), false, "t2", "u2", "b"),
      ("t4", "u4", "d", ts(4), false, "t3", "u3", "c"),
      ("t5", "u5", "e", ts(5), false, "gone", "ug", "u g")))
    val rooted = DiscussionTree.withRoots(DiscussionTree.nodes(df))
      .collect().map(r => r.getAs[String]("node_id") ->
        (r.getAs[String]("root_id"), r.getAs[Long]("depth"))).toMap
    assert(rooted("t1") == ("t1", 0L))
    assert(rooted("t4") == ("t1", 3L))
    assert(rooted("t5") == ("gone", 1L))
    assert(rooted("gone") == ("gone", 0L))
  }

  test("withRoots resolves a 200-deep chain (8 doubling rounds, linear plans)") {
    val n = 200
    val rows = ("t000", "u0", "x", ts(0), false,
        null.asInstanceOf[String], null.asInstanceOf[String], null.asInstanceOf[String]) +:
      (1 until n).map(i => (f"t$i%03d", s"u$i", "x", ts(i % 60), false,
        f"t${i - 1}%03d", s"u${i - 1}", "x"))
    val (rootedDf, evs) =
      Events.scoped("chain200")(DiscussionTree.withRoots(DiscussionTree.nodes(normalized(rows))))
    // 8 rounds move pointers (2^8 >= 199) and a 9th finds none moving
    assert(EventsSpec.rounds(evs, "withRoots") == Seq(9))
    // the per-round self-join doubles the estimate's bit length; the
    // returned frame's estimate must still fit in a Long
    assert(rootedDf.queryExecution.optimizedPlan.stats.sizeInBytes <= Long.MaxValue)
    val rooted = rootedDf
      .collect().map(r => r.getAs[String]("node_id") ->
        ((r.getAs[String]("root_id"), r.getAs[Long]("depth")))).toMap
    assert(rooted.size == n)
    assert(rooted.values.forall(_._1 == "t000")) // one tree, one root
    assert(rooted(f"t${n - 1}%03d") == (("t000", (n - 1).toLong)))
    assert(rooted("t100") == (("t000", 100L)))
  }

  test("withRoots throws on a parent-pointer cycle instead of emitting wrong roots") {
    // hand-build a cyclic node relation (the adapter can't produce one)
    val cyclic = Seq(
      ("a", "u1", "x", ts(1), "b", true, false),
      ("b", "u2", "y", ts(2), "a", true, false))
      .toDF("node_id", "user_id", "screen_name", "ts", "parent_id",
        "observed", "retweet")
    assertThrows[IllegalStateException] {
      DiscussionTree.withRoots(cyclic, maxIters = 6).collect()
    }
  }

  test("treeStats counts size, depth and dummies per tree") {
    val df = normalized(Seq(
      ("t1", "u1", "a", ts(1), false, null, null, null),
      ("t2", "u2", "b", ts(2), false, "t1", "u1", "a"),
      ("t3", "u3", "c", ts(3), false, "gone", "ug", "u g")))
    val stats = DiscussionTree.treeStats(
      DiscussionTree.withRoots(DiscussionTree.nodes(df)))
      .collect().map(r => r.getAs[String]("root_id") ->
        (r.getAs[Long]("tree_size"), r.getAs[Long]("max_depth"),
          r.getAs[Long]("dummy_roots"))).toMap
    assert(stats("t1") == (2L, 1L, 0L))
    assert(stats("gone") == (2L, 1L, 1L))
  }

  test("A1: assembleTrees emits the reference's recursive JSON, children ordered") {
    val df = normalized(Seq(
      ("t1", "u1", "a", ts(1), false, null, null, null),
      // two children with the SAME timestamp: order falls to node_id
      ("t3", "u3", "c", ts(2), false, "t1", "u1", "a"),
      ("t2", "u2", "b", ts(2), false, "t1", "u1", "a")))
    val rooted = DiscussionTree.withRoots(DiscussionTree.nodes(df))
    val Array(row) = DiscussionTree.assembleTrees(rooted, maxDepth = 3).collect()
    assert(row.getAs[String]("root_id") == "t1")
    val json = row.getAs[String]("tree_json")
    val expected =
      """{"author_id":"u1","author_screen_name":"a","tweet_id":"t1",""" +
        """"timestamp":"2024-01-01T00:00:01Z","observed":true,"retweet":false,""" +
        """"replies":[""" +
        """{"author_id":"u2","author_screen_name":"b","tweet_id":"t2",""" +
        """"timestamp":"2024-01-01T00:00:02Z","in_reply_to":"t1","observed":true,""" +
        """"retweet":false,"replies":[]},""" +
        """{"author_id":"u3","author_screen_name":"c","tweet_id":"t3",""" +
        """"timestamp":"2024-01-01T00:00:02Z","in_reply_to":"t1","observed":true,""" +
        """"retweet":false,"replies":[]}]}"""
    assert(json == expected)
  }

  test("droppedBeyondDepth flags trees deeper than the assembly bound") {
    val df = normalized(Seq(
      ("t1", "u1", "a", ts(1), false, null, null, null),
      ("t2", "u2", "b", ts(2), false, "t1", "u1", "a"),
      ("t3", "u3", "c", ts(3), false, "t2", "u2", "b")))
    val rooted = DiscussionTree.withRoots(DiscussionTree.nodes(df))
    assert(DiscussionTree.droppedBeyondDepth(rooted, maxDepth = 1) == 1L)
    assert(DiscussionTree.droppedBeyondDepth(rooted, maxDepth = 2) == 0L)
  }
}
