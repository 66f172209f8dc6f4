package graft.plans

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{coalesce, lit, udf}
import org.apache.spark.sql.graft.CheckpointStats

import graft.telemetry.Events

/** The one driver-side convergence loop of the iterative operators
  * ([[graft.operators.DiscussionTree.withRoots]],
  * [[graft.operators.InteractionGraph.connectedComponents]],
  * [[graft.pipeline.Dedup.nearDupClusters]]).
  *
  * Each round materializes `step(frame, tick)` as ONE checkpoint job and
  * counts, while it does, the rows the step marked as moved. The step
  * marks them by filtering on `tick(moved)`: an always-true Boolean UDF
  * that adds 1 to the round's accumulator when `moved` is true (null
  * reads as false). Being a filter, the tick keeps every column's type
  * (a passthrough UDF column once re-typed numeric ids to string, ADVICE
  * r19) and cannot be pruned away; `asNondeterministic` stops the
  * optimizer from folding or moving it. The test is `== 0`, so task
  * retries, which can only over-count, never fake convergence.
  *
  * Every round's frame is lineage-truncated (an uncheckpointed loop's
  * plan tree doubles per self-join) through [[checkpoint]], which keeps
  * the leaf's size estimate bounded for any round count. A converged
  * loop records a `fixpoint` event with its round count, the converging
  * round included. */
object Fixpoint {

  /** Eager `localCheckpoint` whose size estimate is clamped to Spark's
    * default once it no longer fits in a Long (see [[CheckpointStats]]);
    * partitioning and smaller estimates are kept. */
  def checkpoint(df: DataFrame): DataFrame = CheckpointStats.clamp(df.localCheckpoint())

  /** Runs `step` from `seed` (already materialized) until a round ticks
    * nothing, and returns that round's frame. Throws, naming `name`, if
    * `maxRounds` rounds do not converge: a loop that is cut short would
    * emit wrong results. */
  def iterate(name: String, seed: DataFrame, maxRounds: Int)(
      step: (DataFrame, Column => Column) => DataFrame): DataFrame = {
    val sc = seed.sparkSession.sparkContext
    var cur = seed
    var moved = -1L
    var round = 0
    while (moved != 0 && round < maxRounds) {
      val acc = sc.longAccumulator(s"$name$round")
      val tick = udf { (m: Boolean) => if (m) acc.add(1L); true }.asNondeterministic()
      cur = checkpoint(step(cur, m => tick(coalesce(m, lit(false)))))
      moved = acc.value
      round += 1
    }
    if (moved != 0)
      throw new IllegalStateException(s"$name did not converge after $maxRounds rounds")
    Events.record("fixpoint", name, "rounds" -> round)
    cur
  }
}
