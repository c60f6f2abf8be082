package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.{Dedup, TextAnalysis}

/** Streaming LM-quality screen — the ingest-side form of
  * `TextJobs.lmSurpriseRef`: each ARRIVING document scores against the
  * persisted reference bigram model (trained on yesterday's clean
  * corpus), so perplexity-style quality gating happens in-flight, not in
  * the next batch pass. Completes the ingest-screen family (format rules,
  * exact/near dedup, semantic, heavy-hitters, caps — and now LM quality).
  *
  * Scale shape: bigram extraction is a pure per-row array computation
  * (the [[StreamingDedup]] in-flight trade — per-arrival cost, zero
  * state); model lookups are stream-static LEFT equi-joins on 60-bit int
  * keys (the model is re-planned per micro-batch, broadcast or shuffled
  * by size — never stream × corpus); the per-doc rollup is a watermarked
  * windowed aggregation keyed by (window, doc_id).
  *
  * Scores are BIT-EQUAL to the batch `lm_surprise_ref` columns for the
  * same model (spec-pinned): same tokenizer, same hash60 keys, same
  * integer surprise bits, same OOV accounting — the integer-exactness
  * discipline means stream and batch cannot drift by arithmetic.
  */
object StreamingLm {

  /** Screen a watermarked document stream (`doc_id`, `text`, event-time
    * `tsCol`) against the (bh → c_bi) and (ph → c_prev) model frames.
    * Append-mode output per closed window:
    * (doc_id, n_bigrams, n_oov, surprise_bits).
    */
  def screen(docs: DataFrame, tsCol: String, delay: String,
      bigramCounts: DataFrame, prefixCounts: DataFrame): DataFrame = {
    val pairs = docs
      .withWatermark(tsCol, delay)
      .withColumn("toks", TextAnalysis.tokens(lower(col("text"))))
      .withColumn("pair", explode(filter(
        transform(col("toks"), (x, i) =>
          struct(x.as("w"), try_element_at(col("toks"), i + 2).as("nxt"))),
        p => p.getField("nxt").isNotNull)))
      .select(col("doc_id"), col(tsCol).as("ts"),
        Dedup.hash60(col("pair.w")).as("ph"),
        Dedup.hash60(concat_ws(" ", col("pair.w"), col("pair.nxt"))).as("bh"))
    pairs
      .join(bigramCounts, Seq("bh"), "left")
      .join(prefixCounts, Seq("ph"), "left")
      .withColumn("surprise",
        when(col("c_bi").isNotNull && col("c_prev").isNotNull,
          length(bin(expr("c_prev div c_bi"))).cast("long")))
      .groupBy(window(col("ts"), "10 seconds"), col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("surprise").isNull, 1L).otherwise(0L)).as("n_oov"),
        coalesce(sum(col("surprise")), lit(0L)).as("surprise_bits"))
      .select(col("doc_id"), col("n_bigrams"), col("n_oov"),
        col("surprise_bits"))
  }
}
