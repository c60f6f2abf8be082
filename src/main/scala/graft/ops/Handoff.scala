package graft.ops

import java.util.{Collections, WeakHashMap}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Alias
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.graft.bridge

/** The slim handoff: a query builds its pipeline under a
  * [[CacheScope.scoped]] block and returns [[cut]] of the slim output, so
  * the output is materialized before the scope releases the pipeline's
  * caches and the consumer runs against a bounded footprint.
  *
  * The cut truncates the plan (the consumer sees an `ExistingRDD` scan);
  * plan readers — the audit tools and the plan pins — read the real
  * lineage through [[lineage]]. Recording is write-only on the query path:
  * nothing a query computes depends on it.
  *
  * Iterative-loop internals ([[Fixpoint.step]]'s per-round cut, the
  * single-task loop outputs in [[Dedup]] and [[Graph]]) keep literal
  * `localCheckpoint()` calls: their construction is execution, and
  * expanding them would nest one plan per round.
  */
object Handoff {
  // keyed by the checkpoint RDD, which every `newInstance` of the cut's
  // leaf shares; an entry lives as long as some frame still reads the cut
  private val cuts =
    Collections.synchronizedMap(new WeakHashMap[RDD[_], LogicalPlan]())

  /** Materialize `df` now (`localCheckpoint`) and record its pre-cut plan. */
  def cut(df: DataFrame): DataFrame = {
    val out = df.localCheckpoint()
    bridge.analyzedPlan(out) match {
      case leaf: LogicalRDD => cuts.put(leaf.rdd, bridge.analyzedPlan(df))
      case _ =>
    }
    out
  }

  /** `df` with every recorded cut replaced by the plan it truncated,
    * recursively; `df` itself when its plan reads no recorded cut.
    */
  def lineage(df: DataFrame): DataFrame = {
    val plan = bridge.analyzedPlan(df)
    val full = expand(plan)
    if (full eq plan) df else bridge.ofRows(df.sparkSession, full)
  }

  private def expand(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case leaf: LogicalRDD if cuts.containsKey(leaf.rdd) =>
      val pre = expand(cuts.get(leaf.rdd))
      // a leaf re-instanced by the analyzer (self-join) carries new
      // expression ids: alias the pre-cut output onto them
      if (pre.output.map(_.exprId) == leaf.output.map(_.exprId)) pre
      else Project(pre.output.zip(leaf.output).map { case (a, o) =>
        Alias(a, o.name)(exprId = o.exprId) }, pre)
  }
}
