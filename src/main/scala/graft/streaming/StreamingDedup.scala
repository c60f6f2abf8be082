package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.Dedup

/** Streaming exact dedup — the ingest-side form of `ops/Dedup.exact`: drop
  * repeats of a content fingerprint as documents arrive, keeping state only
  * for the watermark horizon.
  *
  * Built on `dropDuplicatesWithinWatermark`: unlike plain
  * `dropDuplicates`, whose key state grows with every distinct key ever
  * seen (unbounded on a 100 TB ingest), the within-watermark variant evicts
  * a key's state once the watermark passes its last sighting — state is
  * bounded by (arrival rate × watermark horizon), the only shape that
  * survives an unbounded corpus ingest. The trade: duplicates separated by
  * more than the horizon pass through (handled by the batch dedup
  * downstream — this stage exists to keep near-in-time repeats, crawler
  * retries and the like, out of the pipeline).
  */
object StreamingDedup {

  /** Dedup a watermarked document stream by normalized-content fingerprint.
    * Input needs `text` and an event-time column `tsCol`; emits the first
    * arrival per fingerprint within the horizon, fingerprint attached.
    */
  def byFingerprint(docs: DataFrame, tsCol: String, delay: String): DataFrame =
    docs
      .withColumn("fingerprint",
        graft.ops.TextAnalysis.fingerprint(col("text")))
      .withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark("fingerprint")

  /** Near-dup screening of ARRIVING documents against an existing corpus —
    * the streaming form of `DedupJobs.dedupIncremental`: each streamed doc
    * is minhashed in-flight and stream-static-joined against the corpus
    * signature frame on LSH band keys. Matches emit
    * (doc_id, ts, corpus_id, band); non-colliding docs pass the screen
    * silently (filter matches out downstream, or anti-join on doc_id).
    *
    * The in-flight signature is a pure per-row computation over the doc's
    * OWN grams — no gram shuffle, no state — via array lambdas. The
    * repo's no-interpreted-HOF rule targets per-PAIR hot loops (corpus ×
    * corpus); here the lambda cost is |grams|·k mixes per ARRIVAL,
    * bounded by ingest rate, and buys a completely shuffle-free stream
    * side. Signatures produced this way equal the batch
    * `Dedup.minhashSignatures` bit-for-bit (spec-pinned), because both
    * fold the same md5-prefix base hash through the same affine mixes.
    *
    * `corpusSigs` must carry (corpus_id, h0..h{k-1}) — in production the
    * persisted signature table of yesterday's corpus; it is re-planned
    * per micro-batch, broadcast or shuffled by size.
    */
  def screenAgainstCorpus(
      docs: DataFrame, tsCol: String, delay: String,
      corpusSigs: DataFrame, k: Int, bands: Int): DataFrame = {
    val rowsPerBand = k / bands
    require(bands * rowsPerBand == k, s"k=$k not divisible into $bands bands")
    val sigged = (0 until k).foldLeft(
        docs
          .withWatermark(tsCol, delay)
          .withColumn("w_arr", Dedup.words(col("text")))
          .withColumn("gh_arr",
            transform(Dedup.rowWindows(col("w_arr"), 2), Dedup.md5Long(_)))) {
        (acc, j) =>
          acc.withColumn(s"h$j",
            array_min(transform(col("gh_arr"), Dedup.minhashCol(_, j))))
      }
      .drop("w_arr", "gh_arr", "text")
    (0 until bands).map { bi =>
      val bandEq = (0 until rowsPerBand)
        .map(x => col(s"s.h${bi * rowsPerBand + x}") === col(s"c.h${bi * rowsPerBand + x}"))
        .reduce(_ && _)
      sigged.alias("s").join(corpusSigs.alias("c"), bandEq)
        .select(col("s.doc_id"), col(s"s.$tsCol").as(tsCol),
          col("c.corpus_id"), lit(bi).as("band"))
    }.reduce(_ unionAll _)
  }
}
