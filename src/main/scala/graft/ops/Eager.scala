package graft.ops

import org.apache.spark.sql.DataFrame

/** The slim-handoff materialization point (CLAUDE.md r14/r15 playbook:
  * build under a tracking [[CacheScope]], eagerly checkpoint the slim
  * output, release the scope at construction end), made PLAN-TRANSPARENT
  * for auditing.
  *
  * Eager `localCheckpoint()` is load-bearing at RUN time (it is what lets
  * the scope close before the consumer runs, capping concurrent cache
  * footprint) but it destroys the lineage PLAN audits need: the r15
  * conversions left `PlanAudit` executing ten pipelines only to read back
  * an `ExistingRDD` scan — O(registry executions) wall-time for zero
  * audited shape. [[planOnly]] flips every [[checkpoint]] site to a
  * pass-through so a plan auditor sees the real lineage without running
  * it. Set ONLY by single-threaded plan readers: the audit tools
  * ([[graft.tools.PlanAudit]], [[graft.tools.PlanSnap]]) and
  * PlanQualitySpec's `lineage` helper, which resets it in a `finally`
  * (suites run one at a time in the forked test JVM) — never by queries
  * or anything concurrent (the flag is process-global). The one read
  * outside this object is the LSH broadcast choice
  * ([[Similarity.lshTopK]]), which must not execute its regime count
  * under an audit.
  *
  * Iterative-loop internals ([[Fixpoint.step]]'s per-round cut,
  * union-find outputs) keep literal `localCheckpoint()` calls: their
  * construction is execution — a plan-only mode would nest one layer per
  * round and push analysis cost superlinear without avoiding any work.
  */
object Eager {
  @volatile private[graft] var planOnly: Boolean = false

  def checkpoint(df: DataFrame): DataFrame =
    if (planOnly) df else df.localCheckpoint()

  /** Postfix form, so slim-handoff sites read like the
    * `localCheckpoint()` they replace.
    */
  implicit class EagerOps(private val df: DataFrame) extends AnyVal {
    def eagerCheckpoint(): DataFrame = checkpoint(df)
  }
}
