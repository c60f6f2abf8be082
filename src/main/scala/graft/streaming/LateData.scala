package graft.streaming

import org.apache.spark.sql.streaming.StreamingQuery

/** W6: late-data accounting. Flink routes post-lateness rows to a side
  * output (`sideOutputLateData`, `HotPages.java:67,79,83`); Spark drops
  * them silently, but every stateful operator reports the drop count in
  * its progress metrics. This helper surfaces that accounting — the
  * realistic W6 mapping (SURVEY.md §2.7): aggregate-level observability
  * instead of row-level capture. If row-level capture is ever a hard
  * requirement, split the stream upfront against a manual watermark bound
  * (filter + union pattern) before the stateful op.
  */
object LateData {

  /** Total rows dropped by watermark across all stateful operators so far
    * (sum over the query's recent progress reports).
    */
  def droppedByWatermark(q: StreamingQuery): Long =
    q.recentProgress.flatMap(_.stateOperators.map(_.numRowsDroppedByWatermark))
      .sum
}
