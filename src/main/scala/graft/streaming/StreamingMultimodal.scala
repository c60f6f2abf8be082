package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.{Dedup, Media}

/** Streaming perceptual-dedup screens — the media siblings of
  * [[StreamingDedup.screenAgainstCorpus]] (text minhash) and
  * [[StreamingSimilarity.adcScreenFromIndex]] (embeddings), completing
  * the in-flight ingest story for images, audio and video: each ARRIVING
  * asset is decoded and fingerprinted in-flight by its modality's one
  * payload → fingerprint function ([[Media.fingerprint]], the function
  * the batch scan calls), then Hamming-banded against the PERSISTED
  * corpus fingerprint table, so a near-duplicate of an asset already in
  * the corpus is flagged at ingest.
  *
  * Scale shape: decode + fingerprint is a stateless per-row stage over
  * the stream (payloads never shuffle). The candidate join is the
  * bipartite banded join ([[Dedup.bandedProbe]]): a stream-static
  * equi-join on the (band, band-value) int pair against the banded corpus
  * fingerprints — 4 rows per corpus asset, never stream × corpus — with
  * the batch [[Dedup.hammingPairs]] FIRST-SHARED-BAND rule, so each
  * (arrival, corpus) candidate materializes exactly once and the whole
  * query is append-mode stateless (no aggregation, no dedup state).
  */
object StreamingMultimodal {

  /** Screen a watermarked stream of IMAGE or AUDIO assets against the
    * corpus (doc_id, fp) fingerprints. Input needs (asset_id, content,
    * `tsCol`), plus width and height for images (the PNG's declared
    * dims); emits (asset_id, ts, corpus_id, hamming) for every corpus
    * asset within `maxHamming` of the arrival (self-id matches excluded —
    * re-ingesting the same id is not a dup of the corpus). Non-colliding
    * arrivals pass silently. Video screens whole frame sequences:
    * [[screenVideo]].
    */
  def screen(
      stream: DataFrame, tsCol: String, delay: String,
      corpusFp: DataFrame, bands: Seq[(Int, Int)], maxHamming: Int,
      media: Media): DataFrame = {
    require(media != Media.Video, "video screens frame sequences: screenVideo")
    require(bands.size > maxHamming,
      s"pigeonhole needs more bands (${bands.size}) than maxHamming=$maxHamming")
    val arrivals = stream.withWatermark(tsCol, delay)
      .select(col("asset_id"), media.fingerprint.as("fp"), col(tsCol).as("ts"))
    val corpus =
      corpusFp.select(col("fp").as("corpus_fp"), col("doc_id").as("corpus_id"))
    Dedup.bandedProbe(arrivals, "fp", corpus, "corpus_fp", bands.map(Seq(_)))
      .filter(col("asset_id") =!= col("corpus_id"))
      .select(col("asset_id"), col("ts"), col("corpus_id"),
        bit_count(col("fp").bitwiseXOR(col("corpus_fp"))).cast("long")
          .as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Delta refresh of a persisted fingerprint index — the multimodal
    * sibling of [[StreamingSimilarity.indexRefreshBatches]], closing the
    * freshness gap a screen alone leaves open (it screens against a
    * STATIC landed table): a foreachBatch handler that fingerprints each
    * micro-batch of arriving assets with the screen's own in-flight
    * function ([[Media.indexArrivals]], so an appended row is bit-equal to
    * a batch re-fingerprint's row) and APPENDS the rows to the index table
    * at `indexPath`: (doc_id, fp) for images and audio, (doc_id, n_frames,
    * frame_idx, fp) per frame for video (the `video_fp_index` artifact
    * shape, [[graft.jobs.ArtifactJobs.indexIncremental]]). The fingerprint
    * is a pure function of the payload and appends are additive, so after
    * any prefix of micro-batches the table equals a batch re-fingerprint
    * over corpus ∪ prefix (the spec's contract) — and the NEXT
    * micro-batch's screen flags near-dups of THIS batch's arrivals, not
    * just of yesterday's corpus ([[videoCorpusSeqs]] for video).
    *
    * Scale: per batch the cost is batch-sized (narrow decode, one
    * appended parquet file); the index is never rewritten or re-scanned.
    * Batch input needs the screen's asset columns (no timestamp).
    */
  def indexRefreshBatches(indexPath: String,
      media: Media): (DataFrame, Long) => Unit =
    (batch, _) => if (!batch.isEmpty) {
      media.indexArrivals(batch).write.mode("append").parquet(indexPath)
    }

  /** STREAMING ERASURE of a served fingerprint index — the RTBF path
    * that cannot wait for the next compaction: physically rewriting a
    * 100 TB index per micro-batch would be the scale anti-pattern, so
    * arriving tombstones land in a TINY side table and every serve
    * reads the index through [[servedIndex]]'s broadcast anti-join — a
    * purged id becomes unservable in the same micro-batch its tombstone
    * lands. The PHYSICAL drop happens at the next compaction/purge pass
    * ([[graft.jobs.ArtifactJobs]] `indexErasure` discipline); the
    * tombstone table's row count is the deletion backlog — it
    * outgrowing broadcast range means compaction is overdue, which is
    * exactly the metric an erasure SLA monitors.
    */
  def tombstoneBatches(tombPath: String): (DataFrame, Long) => Unit =
    (batch, _) => if (!batch.isEmpty) {
      batch.select(col("doc_id")).dropDuplicates("doc_id")
        .write.mode("append").parquet(tombPath)
    }

  /** The landed fingerprint index with pending tombstones masked out —
    * what every screen/serve reads between compactions. The anti-join
    * build side is the tombstone table (request-rate-bounded, never
    * corpus-sized), explicitly broadcast.
    */
  def servedIndex(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, tombPath: String): DataFrame = {
    val idx = spark.read.parquet(indexPath)
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(tombPath))) idx
    else idx.join(
      org.apache.spark.sql.functions.broadcast(
        spark.read.parquet(tombPath).select(col("doc_id")).distinct()),
      Seq("doc_id"), "left_anti")
  }

  /** The static side of the VIDEO screen: per-clip frame-fingerprint
    * sequences rolled up from a [[graft.ops.Multimodal.videoScan]]-shaped
    * table — (corpus_id, corpus_nf, corpus_fps ordered by frame,
    * corpus_fp = anchor). In production this is yesterday's landed
    * per-frame fingerprint index.
    */
  def videoCorpusSeqs(scan: DataFrame): DataFrame =
    scan.groupBy(col("doc_id").as("corpus_id"))
      .agg(first(col("n_frames")).as("corpus_nf"),
        sort_array(collect_list(struct(col("frame_idx"), col("fp"))))
          .as("ordered"))
      .select(col("corpus_id"), col("corpus_nf"),
        transform(col("ordered"), s => s("fp")).as("corpus_fps"),
        element_at(transform(col("ordered"), s => s("fp")), 1)
          .as("corpus_fp"))

  /** The VIDEO [[screen]]: each arriving RAWV clip is byte-level parsed
    * and per-frame dHashed in-flight, its ANCHOR (frame 0) fingerprint
    * Hamming-banded against the persisted corpus anchors, and candidates
    * verified frame-aligned in-row (equal frame counts + every aligned
    * frame within `maxPerFrame`) — the streaming twin of
    * [[graft.ops.MediaPipeline.pairs]]' video contract against a static
    * corpus. Input needs (asset_id, content, `tsCol`); emits (asset_id,
    * ts, corpus_id, hamming) with `hamming` the total across frames.
    *
    * The per-candidate verify uses `zip_with`/`aggregate` over the two
    * ≤O(10)-element fingerprint arrays: this is the CANDIDATE-bounded
    * stage, not a per-pair corpus hot path (the r2 higher-order-lambda
    * rule targets corpus-quadratic lineages), and the in-row form keeps
    * the whole query a stateless append-mode stream-static join — the
    * batch side's (doc, frame) verify join would force a post-join
    * streaming aggregation here.
    */
  def screenVideo(
      stream: DataFrame, tsCol: String, delay: String,
      corpusSeqs: DataFrame, bands: Seq[(Int, Int)],
      maxPerFrame: Int): DataFrame = {
    require(bands.size > maxPerFrame,
      s"pigeonhole needs more bands (${bands.size}) than maxPerFrame=$maxPerFrame")
    val arrivals = stream.withWatermark(tsCol, delay)
      .select(col("asset_id"), Media.Video.fingerprint.as("fps"),
        col(tsCol).as("ts"))
      .select(col("asset_id"), size(col("fps")).as("nf"), col("fps"),
        element_at(col("fps"), 1).as("fp"), col("ts"))
    val perFrame = zip_with(col("fps"), col("corpus_fps"),
      (a, c) => bit_count(a.bitwiseXOR(c)).cast("long"))
    Dedup.bandedProbe(arrivals, "fp", corpusSeqs, "corpus_fp",
        bands.map(Seq(_)))
      .filter(col("asset_id") =!= col("corpus_id"))
      .filter(col("nf") === col("corpus_nf"))
      .withColumn("ham_seq", perFrame)
      .filter(array_max(col("ham_seq")) <= maxPerFrame)
      .select(col("asset_id"), col("ts"), col("corpus_id"),
        aggregate(col("ham_seq"), lit(0L), (acc, x) => acc + x)
          .as("hamming"))
  }
}
