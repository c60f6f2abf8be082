package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The one round step of every distributed fixpoint loop ([[Graph]]'s
  * link-analysis and path loops, [[Dedup.connectedComponents]] and its
  * star contraction).
  *
  * Each round's frame is cut to a leaf (`localCheckpoint`), so every
  * round plans the same tree over a leaf, whatever k is. Caching a round
  * instead nests the previous round's plan inside the cached relation
  * (twice under AQE: its final and its initial plan), and a round that
  * reads the previous one twice doubles the tree: four cached `hits`
  * rounds on 150 edges take 116 s to build and plan. Per-iteration fixed
  * cost must not grow with the iteration count (Drizzle, SOSP 2017).
  *
  * The cut is lazy: the round's own action (its count, convergence bit
  * or overflow guard), which every loop runs anyway, is what
  * materializes it, so no separate materialization pass runs.
  */
private[ops] object Fixpoint {

  /** Cuts `next`, runs `probe` on the cut, then releases `prev`.
    *
    * `probe` must read every partition of the cut (a count or an
    * aggregate): once it returns, `prev`'s blocks are gone, and a
    * partition computed later could not be rebuilt. `prev` is the loop's
    * cached seed frame or the previous round's cut (or a projection of
    * one), and the caller no longer reads it.
    */
  def step[A](prev: DataFrame, next: DataFrame)(
      probe: DataFrame => A): (DataFrame, A) = {
    val cut = next.localCheckpoint(eager = false)
    val a = probe(cut)
    release(prev)
    (cut, a)
  }

  /** Drops a cached frame's cache entry, or the blocks of the cut that a
    * projection of a cut reads.
    */
  def release(df: DataFrame): Unit =
    if (df.storageLevel != StorageLevel.NONE) df.unpersist()
    else cutUnder(df.queryExecution.logical)
      .foreach(_.rdd.unpersist(blocking = false))

  private def cutUnder(p: LogicalPlan): Option[LogicalRDD] = p match {
    case r: LogicalRDD => Some(r)
    case Project(_, child) => cutUnder(child)
    case _ => None
  }
}
