package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One corpus pass feeding the whole near-dup toolchain.
  *
  * The expensive stage of every minhash-family job is identical: scan →
  * explode words → window-assemble n-grams → one md5 per gram. This class
  * computes that lineage ONCE, caches the hashed-gram frame, and derives
  * signatures, LSH candidate pairs, cluster labels and exact-verified
  * pairs from the single cached scan. The registry's isolated gate queries
  * ([[graft.jobs.DedupJobs]]) instantiate one per call; a real pipeline
  * instantiates one per corpus pass and reads every output off the same
  * cache — at 100 TB that turns three full corpus scans into one.
  *
  * Shuffle budget: the gram window partitions by doc_id; the signature
  * groupBy, the set-semantics dedup and the per-doc size counts all reuse
  * that clustering, so none of them adds an exchange. The only further
  * shuffles are the band self-joins (doc-count-sized signature frames) and
  * the candidate-restricted verification join on int gram hashes.
  *
  * `docs` must provide (doc_id, text).
  *
  * A session-scoped cache amortizes the gram scan WITHIN one pass; across
  * passes (re-curation, an added dedup criterion, tomorrow's incremental
  * batch) land the hashed grams once as a doc_id-bucketed table
  * ([[DedupPipeline.persistGrams]]) and re-open with
  * [[DedupPipeline.fromPersistedGrams]] — the second pass skips the
  * corpus scan entirely AND every doc_id-keyed stage (signature agg,
  * set-semantics dedup, size counts) reads co-located buckets with no
  * exchange, because hash-bucketed storage IS the partitioning those
  * stages need. At 100 TB that turns the dominant cost of every follow-up
  * pass into a bucket-local read.
  */
final class DedupPipeline private (
    docs: DataFrame, k: Int, bands: Int, n: Int,
    persistedGrams: Option[DataFrame], scope: CacheScope) {

  def this(docs: DataFrame, k: Int = 8, bands: Int = 2, n: Int = 2,
      scope: CacheScope = CacheScope.unmanaged) =
    this(docs, k, bands, n, None, scope)

  /** Hashed grams (doc_id, gh): the ONE corpus scan, UNCACHED — its sole
    * in-memory consumer is [[distinctGrams]]' partition-local dedup (and
    * [[DedupPipeline.persistGrams]]' one write pass), so the distinct
    * frame is the right thing to materialize: every downstream read —
    * signatures, sizes, verification — is duplicate-insensitive or
    * set-semantics, and caching the raw frame TOO doubled the pipeline's
    * cached bytes for no second reader (the round-6 driver bench showed
    * the incremental-dedup queries paying for exactly that footprint).
    * A string-level distinct would still be wrong here — the dedup runs
    * on int hashes riding the gram window's doc_id clustering (the
    * round-2/round-3 rules). When re-opened from a bucketed table the
    * scan is skipped and the bucketing replaces the window's clustering.
    */
  val hashedGrams: DataFrame = persistedGrams.getOrElse(
    Dedup.hashedGrams(docs.select(col("doc_id"), col("text")), n,
      distinct = false))

  /** Distinct (doc_id, gh): THE cached frame of the pass — strictly
    * smaller than the raw grams, and every downstream stage reads it. The
    * gram window left the raw frame partitioned by doc_id, which clusters
    * (doc_id, gh) too, so this dedup runs partition-local — no new
    * exchange.
    */
  lazy val distinctGrams: DataFrame =
    scope.cache(hashedGrams.dropDuplicates("doc_id", "gh"))

  /** MinHash signatures (doc_id, h0..h{k-1}). `min()` is
    * duplicate-insensitive, so the signatures over the distinct gram set
    * are bit-identical to signatures over the raw grams (the oracle's
    * min-over-all-grams SQL keeps hash-checking this) — in-memory they
    * read the ONE cached frame; over a persisted bucketed table they read
    * the table directly, preserving the spec-pinned exchange-free agg
    * (a cache in between would hide the bucketed partitioning — the
    * round-3 AQE-in-cache rule).
    */
  lazy val signatures: DataFrame = Dedup.minhashFromHashes(
    if (persistedGrams.isDefined) hashedGrams else distinctGrams, k)

  /** LSH candidate pairs (doc_a, doc_b, est_jaccard). The signature cache
    * the band self-joins share registers with this pipeline's scope —
    * [[unpersist]] alone cannot reach it.
    */
  lazy val candidates: DataFrame =
    Dedup.lshCandidates(signatures, k, bands, scope)

  /** Cluster labels (doc_id, cluster): every doc labelled with the minimum
    * doc_id reachable through the candidate-pair graph.
    */
  lazy val clusters: DataFrame =
    Dedup.connectedComponents(
      docs.select(col("doc_id")),
      candidates.select(col("doc_a"), col("doc_b")))

  /** Exact n-gram Jaccard computed ONLY for LSH candidate pairs:
    * (doc_a, doc_b, inter, jaccard) with jaccard ≥ `threshold` — the
    * candidate form of [[Dedup.candidateOverlaps]] over the cached
    * distinct grams.
    */
  def verifiedPairs(threshold: Double): DataFrame =
    Dedup.jaccardScored(
      Dedup.candidateOverlaps(
        candidates.select(col("doc_a"), col("doc_b")), distinctGrams),
      Dedup.setSizes(distinctGrams), threshold)

  /** Release the cached gram frame (end of the corpus pass). Construct
    * with a tracking [[CacheScope]] and close THAT instead to also release
    * operator-internal caches ([[candidates]]' signature frame).
    */
  def unpersist(): Unit =
    distinctGrams.unpersist()
}

object DedupPipeline {

  /** Land a pipeline's hashed-gram frame as a doc_id-bucketed, in-bucket
    * sorted table. Bucket count sets the parallelism floor of every
    * follow-up pass — pick ≈ cluster cores at the target SF.
    */
  def persistGrams(
      pipeline: DedupPipeline, table: String, buckets: Int): Unit =
    graft.io.Bucketing.writeBucketed(
      pipeline.hashedGrams, table, "doc_id", buckets)

  /** Re-open a persisted gram table as a pipeline sharing all derivation
    * logic with the in-memory form — outputs are identical (spec-pinned),
    * only the gram scan and the doc_id exchange disappear. `docs` still
    * provides the vertex set for [[DedupPipeline.clusters]] (documents
    * shorter than the gram width have no gram rows but are still
    * singleton clusters).
    */
  def fromPersistedGrams(
      spark: SparkSession, table: String, docs: DataFrame,
      k: Int = 8, bands: Int = 2, n: Int = 2,
      scope: CacheScope = CacheScope.unmanaged): DedupPipeline =
    new DedupPipeline(docs, k, bands, n, Some(spark.table(table)), scope)
}
