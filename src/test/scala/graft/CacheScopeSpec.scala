package graft

import org.apache.spark.sql.functions._
import graft.ops.{CacheScope, Dedup, DedupPipeline, Similarity, TokenPipeline}

/** The structured cache lifecycle: operator-internal caches registered
  * with a scope are all released at `close()`, and the unmanaged default
  * preserves the historical cache-until-clearCache behavior.
  *
  * Assertions go through `scope.liveOwnedCaches` (the storage level of the
  * frames THIS scope owns), never global session cache counts — suites
  * share one SparkSession and run concurrently, so global counts are not
  * ours to assert on.
  */
class CacheScopeSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog", "en"),
    (2L, "the quick brown fox jumps over the lazy dog", "en"),
    (3L, "the quick brown fox jumps over a sleepy dog", "en"),
    (4L, "completely different words entirely here now", "en"))
    .toDF("doc_id", "text", "lang")
    .select($"doc_id", $"text", $"lang".as("block"))

  test("scoped jaccard releases every internal cache at close") {
    val scope = CacheScope()
    val rows = Dedup.jaccardPairs(docs, 2, 0.3, scope).collect()
    assert(rows.nonEmpty)
    assert(scope.liveOwnedCaches > 0,
      "operator caches should be live inside the scope")
    scope.close()
    assert(scope.liveOwnedCaches == 0,
      "all scope-owned caches must be released at close()")
  }

  test("scoped composed jaccard, LSH, and dup-rate release their caches too") {
    val scope = CacheScope()
    Dedup.jaccardPairsComposed(docs, 2, 6, 20, scope).collect()
    val sig = Dedup.minhashSignatures(docs, $"doc_id", $"text", 8)
    Dedup.lshCandidates(sig, 8, 2, scope).collect()
    Dedup.substringDupRate(docs.select($"doc_id", $"text"), 3, scope)
      .collect()
    assert(scope.liveOwnedCaches >= 3)
    scope.close()
    assert(scope.liveOwnedCaches == 0)
  }

  test("plans stay valid after close — they recompute instead of failing") {
    val scope = CacheScope()
    val pairs = Dedup.jaccardPairs(docs, 2, 0.3, scope)
    val inside = pairs.collect().toSeq
    scope.close()
    assert(scope.liveOwnedCaches == 0)
    // un-cached, not broken: the same frame re-materializes from source
    assert(pairs.collect().toSeq.sortBy(r => (r.getLong(0), r.getLong(1))) ==
      inside.sortBy(r => (r.getLong(0), r.getLong(1))))
    scope.close() // idempotent
    assert(scope.liveOwnedCaches == 0)
  }

  test("a composed multi-stage session leaves zero caches after its scope") {
    // the long-lived-session shape the scope exists for: one dedup pass
    // (whose candidates internally cache the signature frame unpersist()
    // can't reach), one tokenization pass, and one vector pair stage, all
    // owned by a single scope
    val vecs = Similarity.withNorm(
      Seq((1L, Array(1.0f, 0.0f, 0.2f)), (2L, Array(1.0f, 0.01f, 0.2f)),
        (3L, Array(0.0f, 1.0f, 0.1f)), (4L, Array(1.0f, 0.0f, 0.2f)))
        .toDF("vec_id", "embedding"),
      $"vec_id", $"embedding")
    val scope = CacheScope()
    val pipe = new DedupPipeline(docs, 8, 2, 2, scope)
    assert(pipe.candidates.count() >= 0 && pipe.clusters.count() == 4)
    val tok = new TokenPipeline(docs.select($"doc_id", $"text"), scope)
    assert(tok.tokenRarity.count() == 4)
    val cents = Similarity.seedCentroids(vecs, 2)
    assert(Similarity.withinCellPairs(vecs, cents, 0.9, scope).count() > 0)
    assert(scope.liveOwnedCaches >= 4,
      "gram, signature, tf, and vector-side caches should all be owned")
    scope.close()
    assert(scope.liveOwnedCaches == 0,
      "the whole composed session must release at one close()")
  }

  test("scoped registry builds leave no cached frame in the session") {
    // each query caches nothing, or builds inside a scope and hands off
    // an eager cut: once built, nothing it cached (IVF assignment,
    // degree-capped user-item frame, media decode scans and fingerprint
    // frames, the sorted-neighborhood ranks) may outlive it.
    // Suites run one at a time in the forked test JVM, so the
    // session-wide count is this test's own.
    val cacheManager = spark
      .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    spark.catalog.clearCache()
    Seq("ann_ivf_pq_retrained", "item_triangles", "image_neardup",
        "image_curation", "audio_neardup", "audio_curation", "video_neardup",
        "video_curation", "multimodal_pairs", "thumbnail_match",
        "training_order", "sorted_neighborhood", "rfm_segments", "doc_packing",
        "score_calibrate", "classifier_lift").foreach { q =>
      assert(SparkEntry.queries(q)(spark, sf("sf0.001")).count() > 0)
      assert(cacheManager.isEmpty,
        s"$q left a cached frame in the session")
    }
  }

  test("the loan wrapper closes on both success and failure") {
    val seen = new java.util.concurrent.atomic.AtomicReference[CacheScope]
    CacheScope.scoped { scope =>
      seen.set(scope)
      Dedup.jaccardPairs(docs, 2, 0.3, scope).collect()
      assert(scope.liveOwnedCaches > 0)
    }
    assert(seen.get.liveOwnedCaches == 0)
    intercept[RuntimeException] {
      CacheScope.scoped { scope =>
        seen.set(scope)
        Dedup.jaccardPairs(docs, 2, 0.3, scope).collect()
        throw new RuntimeException("boom")
      }
    }
    assert(seen.get.liveOwnedCaches == 0,
      "scope must release caches even when the body throws")
  }
}
