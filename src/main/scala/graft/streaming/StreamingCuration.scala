package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.{Dedup, TextAnalysis}

/** Composed ingest-curation stream — the streaming twin of the batch
  * curation funnel (`DedupJobs.curationPipeline`'s admission shape): the
  * screens exist separately ([[StreamingDedup]], [[StreamingLm]],
  * [[StreamingDecontam]], [[StreamingSimilarity]],
  * [[StreamingMultimodal]]) but a production corpus pass runs them as ONE
  * pipeline; this composes the two core stages — exact-dedup screen →
  * quality gate → per-source admission accounting — as a single streaming
  * query with TWO chained stateful operators
  * (`dropDuplicatesWithinWatermark` upstream, windowed aggregation
  * downstream).
  *
  * Chained-stateful caveats (the round-4 rules): the aggregation's input
  * rows can arrive at-or-behind the propagated watermark (the dedup stage
  * emits in the batch of first sight), so closing every window takes two
  * successive watermark advances; tests drive them explicitly.
  *
  * Scale shape: dedup state is bounded by (arrival rate × horizon);
  * quality scoring is stateless per-row arithmetic; the admission
  * aggregate keys on (window, source) — source-sized, not corpus-sized.
  * Nothing here holds corpus-proportional state, which is what lets the
  * same query run against an unbounded 100 TB ingest.
  */
object StreamingCuration {

  /** Chain: normalized-fingerprint dedup within the watermark horizon →
    * quality score (the batch `TextAnalysis.qualityScore` arithmetic,
    * bit-equal by construction) → gate at `minQuality` → per
    * (window, source) admission counts.
    *
    * Input needs (doc_id, source, text, `tsCol`). Append-mode output per
    * closed window: (w_start, w_end, source, docs_kept, tokens_kept).
    */
  def screen(docs: DataFrame, tsCol: String, delay: String,
      windowLen: String, minQuality: Double): DataFrame =
    StreamingDedup.byFingerprint(docs, tsCol, delay)
      .withColumn("n_tok", TextAnalysis.tokenCount(col("text")))
      .withColumn("q", TextAnalysis.qualityScore(col("n_tok"),
        TextAnalysis.stopwordCount(col("text"))))
      .filter(col("q") >= minQuality)
      .groupBy(window(col(tsCol), windowLen), col("source"))
      .agg(count(lit(1)).as("docs_kept"),
        sum(col("n_tok")).as("tokens_kept"))
      .select(col("window.start").as("w_start"),
        col("window.end").as("w_end"), col("source"),
        col("docs_kept"), col("tokens_kept"))

  /** The FULL production chain — THREE chained stateful operators in one
    * query: exact-dedup screen (`dropDuplicatesWithinWatermark`) →
    * per-doc eval-decontamination rollup (stream-static window-hash join
    * + the first windowed aggregation) → quality gate → per-source
    * admission accounting (the second windowed aggregation, windowed ON
    * the previous stage's window via the chained `window(window_col, …)`
    * form). Strict decontamination: ANY eval window hit drops the doc.
    *
    * Contract notes: documents shorter than `w` words produce no
    * windows, so they exit at the decontam stage (the batch
    * `ngram_contamination` semantics — route a short-doc lane separately
    * if they must be admitted); per-doc constants (source, token count,
    * quality) ride the rollup as `max` aggregates, exact because they
    * are constant within the group. Closing the 3-stage chain takes
    * THREE successive watermark advances (each stage emits one advance
    * behind its input — the round-4 rule, compounded).
    *
    * Scale shape: dedup state is rate×horizon-bounded; the decontam
    * stage adds a per-arrival array computation plus a stream-static
    * join against the benchmark-sized eval table; both aggregations key
    * on (window, doc)/(window, source) — never corpus-sized state.
    */
  def screenDecontaminated(docs: DataFrame, tsCol: String, delay: String,
      windowLen: String, minQuality: Double,
      evalWindows: DataFrame, w: Int): DataFrame = {
    val wins = StreamingDedup.byFingerprint(docs, tsCol, delay)
      .withColumn("n_tok", TextAnalysis.tokenCount(col("text")))
      .withColumn("q", TextAnalysis.qualityScore(col("n_tok"),
        TextAnalysis.stopwordCount(col("text"))))
      .withColumn("w_arr", Dedup.words(col("text")))
      .withColumn("g", explode(Dedup.rowWindows(col("w_arr"), w)))
      .select(Seq(col(tsCol), col("doc_id"), col("source"), col("n_tok"),
        col("q")) ++ Dedup.windowHash(col("g")): _*)
    val perDoc = wins
      .join(evalWindows.withColumn("hit", lit(1L)), Seq("gh1", "gh2"), "left")
      .groupBy(window(col(tsCol), windowLen), col("doc_id"), col("source"))
      .agg(max(col("n_tok")).as("n_tok"), max(col("q")).as("q"),
        sum(coalesce(col("hit"), lit(0L))).as("n_contam"))
    perDoc
      .filter(col("n_contam") === 0 && col("q") >= minQuality)
      .groupBy(window(col("window"), windowLen), col("source"))
      .agg(count(lit(1)).as("docs_kept"),
        sum(col("n_tok")).as("tokens_kept"))
      .select(col("window.start").as("w_start"),
        col("window.end").as("w_end"), col("source"),
        col("docs_kept"), col("tokens_kept"))
  }
}
