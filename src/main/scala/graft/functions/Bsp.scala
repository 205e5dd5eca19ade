package graft.functions

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** The bulk-synchronous loop kit shared by the iterative graph operators
  * ([[graft.queries.GraphOps]]) and the star connected components
  * ([[DedupOps.connectedComponents]]): one lineage cut and one bounded
  * fold. Each loop keeps its own cut schedule; both cut at the one
  * cadence [[CheckpointEvery]].
  *
  * Why a cut at all: an iterative plan otherwise stacks one round per
  * iteration, so Catalyst analysis cost, plan depth and lineage-recovery
  * length grow linearly with the round count (a driver/stack risk at
  * 100 TB). An eager `localCheckpoint` bounds all three by one segment.
  * On a real cluster prefer a reliable `checkpoint` dir: local
  * checkpoints die with an executor.
  */
object Bsp {

  /** Rounds between lineage cuts, for every loop in the family. */
  val CheckpointEvery = 3

  /** One loop's lineage cuts. [[apply]] materializes a frame through an
    * eager `localCheckpoint` and frees the PREVIOUS cut's blocks once the
    * new one exists (rounds in between may recompute through the live
    * cut if evicted, so its blocks must stay until then); [[release]]
    * hands the last cut to [[graft.GateCache]], which frees it after the
    * caller's action. The backing RDD is read directly from the
    * checkpointed Dataset's `LogicalRDD` leaf — not by diffing
    * `sc.getPersistentRDDs`, which would misattribute any concurrent
    * persist (parallel gates, streaming state) and unpersist unrelated
    * data. */
  final class Cut {
    private var live = Option.empty[RDD[_]]

    def apply(df: DataFrame): DataFrame = {
      val ck = df.localCheckpoint() // eager: materializes + truncates
      val created = ck.queryExecution.logical.collectFirst {
        case lr: LogicalRDD => lr.rdd
      }
      // A Spark upgrade that changes localCheckpoint's plan shape would
      // make this None and silently leak every cut's blocks for the rest
      // of the run — make that visible.
      if (created.isEmpty) System.err.println(
        "[graft][bsp] WARN: localCheckpoint plan has no LogicalRDD " +
          "leaf; checkpoint blocks cannot be released this round")
      live.foreach(_.unpersist(false))
      live = created
      ck
    }

    def release(): Unit = live.foreach(ck => graft.GateCache.onRelease(() => {
      ck.unpersist(false); ()
    }))
  }

  /** Folds `step` `rounds` times from `init`, cutting after every
    * [[CheckpointEvery]]-th round except the last. At `rounds ≤
    * CheckpointEvery` (every gate shape) no cut fires and the plan is the
    * pure lazy unroll the DuckDB oracles mirror; beyond that the plan
    * holds one segment at any round count — a 50-hop BFS on a 100 TB
    * graph re-plans a 3-round window, not a 50-round one. Every operator
    * run through it is a monotone integer recurrence, so a cut cannot
    * change a value. Persists nothing itself: a step that reads its
    * input twice caches it. */
  def loop(init: DataFrame, rounds: Int)
      (step: DataFrame => DataFrame): DataFrame = {
    val cut = new Cut
    val fin = (1 to rounds).foldLeft(init) { (r, i) =>
      val next = step(r)
      if (i % CheckpointEvery == 0 && i < rounds) cut(next) else next
    }
    cut.release()
    fin
  }
}
