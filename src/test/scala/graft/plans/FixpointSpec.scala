package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.telemetry.{Events, EventsSpec}

/** The shared convergence driver: bounded size estimates by
  * construction, the per-scope round-count event, the loud refusal, and
  * the checkpoint's kept partitioning. */
class FixpointSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def sizeOf(df: DataFrame): BigInt = df.queryExecution.optimizedPlan.stats.sizeInBytes

  /** `df` joined to itself `k` times on `id`: the rows stay the same,
    * the estimate's bit length doubles per join. */
  private def selfJoined(df: DataFrame, k: Int): DataFrame =
    (1 to k).foldLeft(df) { (d, _) =>
      d.join(d.select(col("id").as("_o")), col("id") === col("_o")).drop("_o")
    }

  test("a 30-round self-joining loop keeps its size estimate within a Long every round") {
    val seen = scala.collection.mutable.ArrayBuffer.empty[BigInt]
    val seed = Fixpoint.checkpoint(spark.range(500).select(col("id"), lit(0L).as("r")))
    val (out, evs) = Events.scoped("selfJoin30") {
      Fixpoint.iterate("selfJoin30", seed, maxRounds = 40) { (cur, tick) =>
        seen += sizeOf(cur)
        cur.join(cur.select(col("id").as("_o")), col("id") === col("_o"))
          .filter(tick(col("r") < 29))
          .select(col("id"), (col("r") + 1).as("r"))
      }
    }
    seen += sizeOf(out)
    assert(EventsSpec.rounds(evs, "selfJoin30") == Seq(30))
    assert(seen.length == 31)
    assert(seen.forall(_ <= Long.MaxValue), s"estimates: ${seen.map(_.bitLength)}")
    assert(out.agg(min("r"), max("r"), count(lit(1))).head().toSeq == Seq(30L, 30L, 500L))
    // without the clamp, three self-joins already overflow a Long
    assert(sizeOf(selfJoined(seed, 3).localCheckpoint()) > Long.MaxValue)
  }

  test("checkpoint clamps an overflowing estimate and keeps the output partitioning") {
    // adaptive execution reports a checkpoint's partitioning as unknown,
    // so the partitioning half is only observable without it
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // six joins of fresh relations, no alias on the kept `id`: a
      // checkpoint records its partitioning on the executed plan's
      // attributes, which lose an alias or a self-join's re-instancing
      val wide = (1 to 6).foldLeft(spark.range(500).toDF()) { (d, i) =>
        d.join(spark.range(500).select(col("id").as(s"k$i")), col("id") === col(s"k$i"))
          .drop(s"k$i")
      }.repartition(4, col("id"))
      assert(sizeOf(wide) > Long.MaxValue)
      val ck = Fixpoint.checkpoint(wide)
      assert(sizeOf(ck) == BigInt(Long.MaxValue))
      val agg = ck.groupBy("id").count()
      val plan = agg.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), plan)
      assert(agg.count() == 500L)
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("concurrent loops of the same name each record their rounds in their own scope") {
    // a loop that stops ticking after `k` rounds converges in k + 1
    def loop(k: Int): Seq[Int] = {
      val seed = Fixpoint.checkpoint(spark.range(20).select(col("id"), lit(0L).as("r")))
      EventsSpec.rounds(Events.scoped(s"loop$k") {
        Fixpoint.iterate("sameName", seed, maxRounds = 20) { (cur, tick) =>
          cur.filter(tick(col("r") < k)).select(col("id"), (col("r") + 1).as("r"))
        }
      }._2, "sameName")
    }
    val got = new java.util.concurrent.ConcurrentHashMap[Int, Seq[Int]]()
    val start = new java.util.concurrent.CountDownLatch(1)
    val threads = Seq(2, 7).map { k =>
      val t = new Thread(() => { start.await(); got.put(k, loop(k)) })
      t.start()
      t
    }
    start.countDown()
    threads.foreach(_.join())
    assert(got.get(2) == Seq(3))
    assert(got.get(7) == Seq(8))
  }

  test("iterate refuses loudly, naming the loop, when maxRounds do not converge") {
    val seed = Fixpoint.checkpoint(spark.range(10).toDF("id"))
    val e = intercept[IllegalStateException] {
      Fixpoint.iterate("neverStill", seed, maxRounds = 3)((cur, tick) => cur.filter(tick(lit(true))))
    }
    assert(e.getMessage == "neverStill did not converge after 3 rounds")
  }
}
