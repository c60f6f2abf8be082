package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A media modality of the near-dup skeleton ([[MediaPipeline]]): how its
  * payloads decode to fingerprints and how its candidate pairs verify.
  * Image and audio carry one fingerprint per asset, so the scan is its own
  * anchor set and the banded Hamming join's pairs are final. Video carries
  * one fingerprint per frame: candidates anchor on frame 0 (a qualifying
  * pair's frame 0 is itself within the radius, so anchor banding finds
  * every pair) and verify frame-aligned ([[Media.Video.verifyAligned]]).
  */
sealed abstract class Media(val name: String) extends Serializable {

  /** The batch decode scan over the planted corpus `docs`:
    * (doc_id, metadata..., [frame_idx,] fp).
    */
  def scan(spark: SparkSession, docs: DataFrame): DataFrame

  /** The decoded metadata columns a curation row reports. */
  def meta: Seq[String]

  /** One row per asset carrying the candidate-generation fingerprint. */
  def anchors(scan: DataFrame): DataFrame = scan

  /** The landed fingerprint-index columns of a scan. */
  def index(scan: DataFrame): DataFrame = scan.select(col("doc_id"), col("fp"))

  /** The index's row key (its compaction sort order). */
  def indexKey: Seq[String] = Seq("doc_id")

  /** Near-dup pairs (doc_a, doc_b, hamming) from anchor candidates
    * (doc_a, doc_b, hamming) that already passed the anchor Hamming bound.
    */
  def verify(scan: DataFrame, cand: DataFrame, maxHamming: Int): DataFrame =
    cand

  /** The in-flight fingerprint column of an arriving asset row
    * (asset_id, content[, width, height]): the modality's one
    * payload → fingerprint function in [[Multimodal]], as a UDF.
    */
  def fingerprint: Column

  /** The landed index rows of arriving assets — bit-equal to [[index]] of
    * the batch scan of the same payloads.
    */
  def indexArrivals(assets: DataFrame): DataFrame =
    assets.select(col("asset_id").as("doc_id"), fingerprint.as("fp"))
}

object Media {
  case object Image extends Media("image") {
    def scan(spark: SparkSession, docs: DataFrame): DataFrame =
      Multimodal.imageScan(spark, docs)
    val meta: Seq[String] = Seq("width", "height", "n_pixels")
    def fingerprint: Column =
      udf((id: Long, png: Array[Byte], w: Int, h: Int) =>
        Multimodal.imageFingerprint(
          Multimodal.Asset(id, png, "image", w, h, 1))._2)
        .apply(col("asset_id"), col("content"), col("width"), col("height"))
  }

  case object Audio extends Media("audio") {
    def scan(spark: SparkSession, docs: DataFrame): DataFrame =
      Multimodal.audioScan(spark, docs)
    val meta: Seq[String] = Seq("n_samples")
    def fingerprint: Column =
      udf((id: Long, wav: Array[Byte]) =>
        Multimodal.audioFingerprint(
          Multimodal.Asset(id, wav, "audio", 0, 0, 1))._2)
        .apply(col("asset_id"), col("content"))
  }

  /** Video: (doc_id, n_frames, frame_idx, fp) per frame; the in-flight
    * fingerprint is the whole frame sequence, frame 0 first.
    */
  case object Video extends Media("video") {
    def scan(spark: SparkSession, docs: DataFrame): DataFrame =
      Multimodal.videoScan(spark, docs)
    val meta: Seq[String] = Seq("n_frames")
    override def anchors(scan: DataFrame): DataFrame =
      scan.filter(col("frame_idx") === 0)
    override def index(scan: DataFrame): DataFrame = scan
    override def indexKey: Seq[String] = Seq("doc_id", "frame_idx")
    override def verify(scan: DataFrame, cand: DataFrame,
        maxHamming: Int): DataFrame =
      verifyAligned(scan, cand.select(col("doc_a"), col("doc_b")), maxHamming)
    def fingerprint: Column =
      udf((rawv: Array[Byte]) => Multimodal.videoFingerprints(rawv))
        .apply(col("content"))
    override def indexArrivals(assets: DataFrame): DataFrame =
      assets.select(col("asset_id").as("doc_id"), fingerprint.as("fps"))
        .select(col("doc_id"), size(col("fps")).cast("long").as("n_frames"),
          posexplode(col("fps")).as(Seq("frame_idx", "fp")))
        .withColumn("frame_idx", col("frame_idx").cast("long"))

    /** The frame-aligned verify over a (doc_a, doc_b) candidate set: equal
      * frame counts and every aligned frame within `maxPerFrame`; output
      * `hamming` is the total across frames. The count(*) == n_frames
      * guard makes the equal-length requirement explicit in the
      * aggregation itself (a frame-count mismatch can never alias as a
      * pass).
      */
    def verifyAligned(scan: DataFrame, cand: DataFrame,
        maxPerFrame: Int): DataFrame = {
      val a = scan.select(col("doc_id").as("doc_a"),
        col("n_frames").as("nfa"), col("frame_idx"), col("fp").as("fpa"))
      val b = scan.select(col("doc_id").as("doc_b"),
        col("n_frames").as("nfb"), col("frame_idx"), col("fp").as("fpb"))
      cand.join(a, "doc_a").join(b, Seq("doc_b", "frame_idx"))
        .filter(col("nfa") === col("nfb"))
        .groupBy(col("doc_a"), col("doc_b"))
        .agg(
          sum(bit_count(col("fpa").bitwiseXOR(col("fpb"))).cast("long"))
            .as("hamming"),
          max(bit_count(col("fpa").bitwiseXOR(col("fpb")))).as("maxh"),
          count(lit(1)).as("n_aligned"), first(col("nfa")).as("nf"))
        .filter(col("maxh") <= maxPerFrame && col("n_aligned") === col("nf"))
        .select(col("doc_a"), col("doc_b"), col("hamming"))
    }
  }
}

/** One decode pass feeding the whole perceptual-dedup toolchain of a
  * [[Media]] modality — the media sibling of [[DedupPipeline]] (hashed
  * grams): the expensive stage of every near-dup job is identical (scan
  * payloads → codec decode → fingerprint), so this class runs it ONCE,
  * caches the scan through `scope`, and derives anchors, banded Hamming
  * pairs, cluster labels and the curation accounting from it. Each
  * registry query builds one under [[CacheScope.scoped]] and hands off a
  * [[Handoff.cut]]; a corpus pass holding one replaces three full decode
  * scans with one, and the decode dominates every stage's cost.
  *
  * Shuffle budget: the decode scan is a narrow typed `mapPartitions`
  * (payloads never shuffle); the band self-join runs on DISTINCT anchor
  * fingerprints (identity compression inside [[Dedup.hammingPairsAuto]],
  * band plan scaled with the corpus, SCALE.md §8e); video's verify adds
  * one int-keyed (doc, frame) equi-join per candidate side; cluster
  * resolution takes the single-task union-find path at dup-pair graph
  * sizes; the curation tail joins the cluster sizes back by broadcast.
  */
final class MediaPipeline(docs: DataFrame, media: Media, maxHamming: Int,
    scope: CacheScope) {

  /** The ONE cached decode pass ([[Media.scan]]). */
  lazy val scan: DataFrame = scope.cache(media.scan(docs.sparkSession, docs))

  /** One row per asset ([[Media.anchors]]). */
  lazy val anchors: DataFrame = media.anchors(scan)

  /** Near-dup pairs (doc_a, doc_b, hamming), doc_a < doc_b: banded
    * Hamming pairs over the anchor fingerprints, verified by the modality
    * (video: `hamming` is the total across frames).
    */
  lazy val pairs: DataFrame =
    media.verify(scan,
      Dedup.hammingPairsAuto(anchors.select(col("doc_id"), col("fp")),
        maxHamming, scope),
      maxHamming)

  /** Cluster labels (doc_id, cluster) — component minimum per asset. */
  lazy val clusters: DataFrame =
    Dedup.connectedComponents(anchors.select(col("doc_id")),
      pairs.select(col("doc_a"), col("doc_b")))

  /** Per-asset curation row: (asset_id, metadata..., cluster, is_keeper,
    * cluster_size) — decoded metadata, the cluster label, the keeper rule
    * (minimum id per cluster) and the per-cluster dup mass.
    */
  def curation: DataFrame = {
    val sizes = clusters.groupBy(col("cluster"))
      .agg(count(lit(1)).as("cluster_size"))
    anchors.join(clusters, "doc_id").join(broadcast(sizes), "cluster")
      .select(Seq(col("doc_id").as("asset_id")) ++ media.meta.map(col) ++
        Seq(col("cluster"), (col("doc_id") === col("cluster")).as("is_keeper"),
          col("cluster_size")): _*)
  }
}
