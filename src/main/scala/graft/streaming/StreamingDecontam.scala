package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.Dedup

/** Streaming eval-decontamination screen — the ingest-side form of
  * `DedupJobs.ngramContamination` (the GPT-3/Llama exact n-gram
  * eval-overlap method) and the last batch curation stage to gain a
  * streaming twin: each ARRIVING document's `w`-word positional windows
  * are hashed in-flight and checked against the PERSISTED eval-split
  * window-hash table, so eval-contaminated documents are flagged before
  * they ever land in the training corpus.
  *
  * Scale shape: window extraction is a pure per-row array computation
  * (the [[StreamingDedup]] in-flight trade — per-arrival cost, zero
  * state, text never shuffles); the eval lookup is a stream-static LEFT
  * equi-join on the two int limbs of `Dedup.windowHash` (the eval table is
  * benchmarks, not corpus — small, re-planned per micro-batch and
  * broadcast by size); the per-doc rollup is a watermarked windowed
  * aggregation. The static side must be DISTINCT (gh1, gh2) rows —
  * `DedupJobs.evalWindowHashes`'s contract — because a LEFT join marks
  * collisions and must not multiply occurrence rows (the batch query
  * uses LEFT SEMI for the same reason).
  *
  * Outputs are BIT-EQUAL to the batch `ngram_contamination` columns for
  * the same documents (spec-pinned): same whitespace windows, same
  * `Dedup.windowHash` keys, integer counts, and the one double division
  * uses identical operands — stream and batch cannot drift by arithmetic.
  */
object StreamingDecontam {

  /** Screen a watermarked document stream (`doc_id`, `text`, event-time
    * `tsCol`) against the distinct eval window-hash frame (gh1, gh2).
    * Append-mode output per closed window:
    * (doc_id, n_windows, n_contam, contam_rate); documents with fewer
    * than `w` words produce no row (no windows — the batch semantics).
    */
  def screen(docs: DataFrame, tsCol: String, delay: String,
      evalWindows: DataFrame, w: Int): DataFrame = {
    val wins = docs
      .withWatermark(tsCol, delay)
      .withColumn("w_arr", Dedup.words(col("text")))
      .withColumn("g", explode(Dedup.rowWindows(col("w_arr"), w)))
      .select(Seq(col("doc_id"), col(tsCol).as("ts")) ++
        Dedup.windowHash(col("g")): _*)
    wins
      .join(evalWindows.withColumn("hit", lit(1L)), Seq("gh1", "gh2"), "left")
      .groupBy(window(col("ts"), "10 seconds"), col("doc_id"))
      .agg(count(lit(1)).as("n_windows"),
        sum(coalesce(col("hit"), lit(0L))).as("n_contam"))
      .select(col("doc_id"), col("n_windows"), col("n_contam"),
        (col("n_contam").cast("double") / col("n_windows")).as("contam_rate"))
  }
}
