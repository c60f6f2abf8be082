package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Streaming forms of the windowed-aggregation surface (SURVEY.md §2.7
  * W1–W6, §2.8 T1–T4). Same column logic as graft.ops.SlidingWindows — the
  * batch oracle and the stream share one definition of the window math.
  *
  * Watermark discipline (reference parity):
  *  - ascending inputs (`AscendingTimestampExtractor`) → "0 seconds"
  *  - bounded disorder (`BoundedOutOfOrderness(5s)`) → "5 seconds"
  *  - allowedLateness(1 min) has no single Spark knob: we widen the
  *    watermark by the lateness budget (same final answer, later emission)
  *    and/or run update-mode so refined counts re-emit (§7.4 hard-part 1).
  *
  * Scale: identical plan shape to batch — partial aggregation before the
  * keyed exchange, state pruned by watermark (the manual timer-driven
  * clears of the reference's process functions are Spark's automatic
  * window-state eviction here).
  */
object StreamingWindows {

  /** W1/W2/W3: per-key sliding count over a watermarked stream. */
  def slidingCount(
      stream: DataFrame, key: Column, tsCol: String,
      size: String, slide: String, delay: String): DataFrame =
    slidingCountChained(stream.withWatermark(tsCol, delay),
      key, tsCol, size, slide)

  /** W1/W2 over an ALREADY-watermarked stream (e.g. downstream of a
    * chained stateful op like `LateSplit.splitChained`, where Spark
    * forbids re-declaring the watermark).
    */
  def slidingCountChained(
      stream: DataFrame, key: Column, tsCol: String,
      size: String, slide: String): DataFrame =
    stream
      .groupBy(key.as("key"), window(col(tsCol), size, slide))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("window_end", unix_timestamp(col("window.end")))
      .drop("window")

  /** Session windows on a stream — the same 30-min-gap sessionization as
    * the batch `AnalyticsJobs.sessionAgg`, emitted when the watermark
    * closes a session (append mode). Spark merges session state per key
    * and evicts it at the watermark like any windowed aggregation.
    */
  def sessionCount(
      stream: DataFrame, key: Column, tsCol: String,
      gap: String, delay: String): DataFrame =
    stream
      .withWatermark(tsCol, delay)
      .groupBy(key.as("key"), session_window(col(tsCol), gap))
      .agg(count(lit(1)).as("n_events"))
      .select(col("key"),
        unix_timestamp(col("session_window.start")).as("session_start"),
        unix_timestamp(col("session_window.end")).as("session_end"),
        col("n_events"))

  /** Sessionization chained into ranking, end-to-end on one stream: the
    * "top N busiest sessions per bucket" composition (Structured
    * Streaming's chained-stateful support carrying the reference's
    * TopNHotItems pattern onto session state). Stage 1 is the
    * watermark-closed session aggregation of [[sessionCount]]; stage 2
    * keys each closed session to the time bucket containing its END and
    * ranks by event count with the two-timer `TopNProcessor` (emit when
    * the watermark passes the bucket end, clear after `latenessMs`).
    * Session identity (key@start) keys the MapState upsert, so a session
    * refined within the lateness budget upserts instead of duplicating.
    * Output: RankedRow(bucket end ms, rank, "key@startSec", n_events).
    *
    * Scale shape: stage 1 state is per-open-session and watermark-evicted;
    * stage 2 state is only the closed sessions of not-yet-emitted buckets.
    * Both stages ride ONE keyed exchange each — the same plan a batch
    * session_window + WindowGroupLimit rank pair produces.
    *
    * Latency note (inherent to chained stateful ops): a closed session
    * reaches the rank stage only once the watermark has passed its end, so
    * its bucket's emit timer necessarily lands at `watermark + 1` — the
    * ranking emits on the NEXT watermark advance, one micro-batch after
    * the bucket closes on a live stream.
    */
  def sessionTopN(
      stream: DataFrame, key: Column, tsCol: String, gap: String,
      delay: String, bucketMs: Long, n: Int, latenessMs: Long = 1L)
      : org.apache.spark.sql.Dataset[TopNState.RankedRow] = {
    import stream.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    stream
      .withWatermark(tsCol, delay)
      .groupBy(key.as("skey"), session_window(col(tsCol), gap))
      .agg(count(lit(1)).as("n_events"))
      .select(
        // bucket end containing the session close; pure integer arithmetic
        expr(s"((unix_millis(session_window.end) - 1) div $bucketMs + 1) * $bucketMs")
          .as("windowEnd"),
        concat(col("skey").cast("string"), lit("@"),
          unix_timestamp(col("session_window.start")).cast("string")).as("key"),
        col("n_events").as("cnt"))
      .as[TopNState.KeyedCount]
      .groupByKey(_.windowEnd)
      .transformWithState(
        new TopNProcessor(n, latenessMs),
        TimeMode.EventTime(),
        OutputMode.Append())
  }

  /** X1 streaming: windowed top-N. Ranking windows are unsupported on
    * streaming frames, so the reference's "buffer + timer at windowEnd+1"
    * becomes foreachBatch over the aggregated (already tiny) count stream:
    * each micro-batch ranks with the exact batch expression and hands the
    * result to `sink`. Complete-mode output mirrors the retract stream.
    */
  def topNForeachBatch(
      counts: DataFrame, n: Int, sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    counts.writeStream
      .outputMode("complete")
      .foreachBatch { (batch: DataFrame, id: Long) =>
        sink(graft.ops.TopN.topNPer(
          batch, col("window_end"), col("cnt"), col("key"), n), id)
      }
}
