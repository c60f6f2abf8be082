package graft

import graft.jobs.{ArtifactJobs, SimilarityJobs, TextJobs}

/** Persist-then-score round-trip: each `*_from_artifact` query must be
  * bit-identical to its in-line trained twin — the artifact (parquet
  * write + read of the trained model) is the ONLY difference between the
  * two plans, so any drift is a lossy round-trip.
  */
class ArtifactJobsSpec extends SparkSpec {
  import spark.implicits._

  private def rows(df: org.apache.spark.sql.DataFrame): Set[String] = {
    val cols = df.columns.sorted.toIndexedSeq
    df.selectExpr(cols: _*).collect()
      .map(_.toSeq.map(String.valueOf).mkString("|")).toSet
  }

  private def assertTwin(name: String,
      artifact: org.apache.spark.sql.DataFrame,
      inline: org.apache.spark.sql.DataFrame): Unit = {
    assert(artifact.columns.sorted.sameElements(inline.columns.sorted),
      s"$name schema drift")
    val a = rows(artifact)
    val b = rows(inline)
    assert(a == b, s"$name artifact round-trip drift: " +
      s"only-artifact=${(a -- b).take(3)} only-inline=${(b -- a).take(3)}")
  }

  test("ann_ivf_from_artifact equals ann_ivf_trained") {
    assertTwin("ann_ivf",
      ArtifactJobs.annIvfFromArtifact(spark, sf("sf0.001")),
      SimilarityJobs.annIvfTrained(spark, sf("sf0.001")))
    spark.catalog.clearCache()
  }

  test("quality_from_artifact equals quality_classifier_trained") {
    assertTwin("quality",
      ArtifactJobs.qualityFromArtifact(spark, sf("sf0.001")),
      TextJobs.qualityClassifierTrained(spark, sf("sf0.001")))
    spark.catalog.clearCache()
  }

  test("bpe_encode_from_artifact equals bpe_encode") {
    assertTwin("bpe_encode",
      ArtifactJobs.bpeEncodeFromArtifact(spark, sf("sf0.001")),
      TextJobs.bpeEncode(spark, sf("sf0.001")))
    spark.catalog.clearCache()
  }

  test("pq_codes_from_artifact equals pq_codes_trained") {
    assertTwin("pq_codes",
      ArtifactJobs.pqCodesFromArtifact(spark, sf("sf0.001")),
      graft.jobs.SimilarityJobs.pqCodesTrained(spark, sf("sf0.001")))
    spark.catalog.clearCache()
  }

  test("hard_negatives_from_artifact equals hard_negatives") {
    assertTwin("hard_negatives",
      ArtifactJobs.hardNegativesFromArtifact(spark, sf("sf0.001")),
      SimilarityJobs.hardNegatives(spark, sf("sf0.001")))
    spark.catalog.clearCache()
  }

  test("unigram_encode_from_artifact equals unigram_encode") {
    assertTwin("unigram_encode",
      ArtifactJobs.unigramEncodeFromArtifact(spark, sf("sf0.001")),
      TextJobs.unigramEncode(spark, sf("sf0.001")))
    spark.catalog.clearCache()
  }

  test("wordpiece_encode_from_artifact equals wordpiece_encode") {
    assertTwin("wordpiece_encode",
      ArtifactJobs.wordpieceEncodeFromArtifact(spark, sf("sf0.001")),
      TextJobs.wordpieceEncode(spark, sf("sf0.001")))
    spark.catalog.clearCache()
  }

  test("semantic_dedup_from_artifact equals semantic_dedup") {
    assertTwin("semantic_dedup",
      ArtifactJobs.semanticDedupFromArtifact(spark, sf("sf0.001")),
      SimilarityJobs.semanticDedup(spark, sf("sf0.001")))
    spark.catalog.clearCache()
  }

  test("image index compaction: stored + 5 append chunks merge to ONE part; serve equals decode rebuild") {
    val out = ArtifactJobs.imageIndexCompacted(spark, sf("sf0.001"))
    // the micro-batch append tail existed (5 chunk files) and the
    // compacted index the serve reads is a single parquet part
    assert(ArtifactJobs.partFileCount("image_fp_compacted_appends") == 5)
    assert(ArtifactJobs.partFileCount("image_fp_compacted") == 1)
    // rebuild-equivalence: pairs served from the compacted index with
    // zero decode equal the full decode pipeline's pairs
    assertTwin("image_compacted", out,
      graft.jobs.MultimodalJobs.imageNeardup(spark, sf("sf0.001")))
    spark.catalog.clearCache()
  }

  test("index erasure: no purged id in the persisted artifact or the serve; equals rebuild from survivors") {
    val dir = sf("sf0.001")
    val out = ArtifactJobs.indexErasure(spark, dir)
      .as[(Long, Long, Long)].collect().toSet
    // the tombstone cohort is GONE from the persisted serving artifact...
    val artifact = spark.read.parquet(
      ArtifactJobs.artifactPath("image_fp_purged"))
    assert(artifact.filter($"doc_id" % 29 === 7).count() == 0)
    assert(artifact.count() > 0)
    // ...and from every served pair
    assert(!out.exists(p => p._1 % 29 == 7 || p._2 % 29 == 7))
    // non-degenerate: the UNpurged index really had cohort pairs, and
    // purge-in-place equals rebuilding from the surviving corpus
    val all = graft.jobs.MultimodalJobs.imageNeardup(spark, dir)
      .as[(Long, Long, Long)].collect().toSet
    assert(all.exists(p => p._1 % 29 == 7 || p._2 % 29 == 7),
      "cohort must participate in pairs or the purge is dead code")
    assert(out == all.filter(p => p._1 % 29 != 7 && p._2 % 29 != 7))
    spark.catalog.clearCache()
  }

  test("ann index erasure: no purged vec in the purged tables or the serve; equals rebuild from survivors") {
    import graft.ops.Similarity
    val dir = sf("sf0.001")
    val out = ArtifactJobs.annIndexErasure(spark, dir)
      .as[(Long, Long, Double, Long)].collect()
    // the purged serving tables hold no tombstone rows
    val cells = spark.read.parquet(
      ArtifactJobs.artifactPath("ivfpq_cells_purged"))
    val codes = spark.read.parquet(
      ArtifactJobs.artifactPath("ivfpq_codes_purged"))
    assert(cells.filter($"vec_id" % 29 === 7).count() == 0 && cells.count() > 0)
    assert(codes.filter($"vec_id" % 29 === 7).count() == 0)
    // no purged id serves as query or neighbor; query 7 itself dropped
    assert(out.forall(r => r._1 % 29 != 7 && r._2 % 29 != 7))
    assert(out.map(_._1).distinct.length == 19)
    // purge-in-place equals the in-line frozen-model rebuild on survivors
    val v = Similarity.withNorm(graft.io.Tables.embeddings(spark, dir),
      $"vec_id", $"embedding")
    val vs = v.filter($"vec_id" % 29 =!= 7)
    val cents = Similarity.seedCentroids(v, 16)
    val codebook = Similarity.pqSeedCodebook(v, 4, 16, 64)
    val expected = Similarity.ivfPqRerankServed(vs, cents,
        Similarity.ivfCells(vs, cents),
        Similarity.pqEncodeTriples(vs, codebook, 4, 64)
          .select($"vec_id", $"s", $"code"),
        codebook, $"vec_id" < 20, nprobe = 4, m = 4, dims = 64,
        topK = 5, shortlist = 15)
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(out.toSet == expected)
    spark.catalog.clearCache()
  }

  test("cf erasure: decremented counts equal retraining on the surviving log; lists genuinely change") {
    val dir = sf("sf0.001")
    val got = ArtifactJobs.cfErasure(spark, dir)
      .as[(Long, Long, Long, Long)].collect().toSet
    val retrained = ArtifactJobs.cfRetrainForSpec(spark, dir)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == retrained, "decrement must equal retrain-on-survivors")
    val full = graft.jobs.AnalyticsJobs.itemSimilarity(spark, dir)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got != full,
      "the purge must actually move the lists (the seed rule)")
    spark.catalog.clearCache()
  }

  test("audio index compaction: stored + 5 append chunks merge to ONE part; serve equals decode rebuild") {
    val out = ArtifactJobs.audioIndexCompacted(spark, sf("sf0.001"))
    assert(ArtifactJobs.partFileCount("audio_fp_compacted_appends") == 5)
    assert(ArtifactJobs.partFileCount("audio_fp_compacted") == 1)
    assertTwin("audio_compacted", out,
      graft.jobs.MultimodalJobs.audioNeardup(spark, sf("sf0.001")))
    spark.catalog.clearCache()
  }

  test("video index compaction: per-frame index merges to ONE part; serve equals parse rebuild") {
    val out = ArtifactJobs.videoIndexCompacted(spark, sf("sf0.001"))
    assert(ArtifactJobs.partFileCount("video_fp_compacted_appends") == 5)
    assert(ArtifactJobs.partFileCount("video_fp_compacted") == 1)
    assertTwin("video_compacted", out,
      graft.jobs.MultimodalJobs.videoNeardup(spark, sf("sf0.001")))
    spark.catalog.clearCache()
  }

  test("ivf-pq compaction: cells and codes each merge to ONE part; serve equals the artifact pipeline") {
    val out = ArtifactJobs.annIvfPqCompacted(spark, sf("sf0.001"))
    assert(ArtifactJobs.partFileCount("ivfpq_cells_compacted_appends") == 3)
    assert(ArtifactJobs.partFileCount("ivfpq_codes_compacted_appends") == 3)
    assert(ArtifactJobs.partFileCount("ivfpq_cells_compacted") == 1)
    assert(ArtifactJobs.partFileCount("ivfpq_codes_compacted") == 1)
    assertTwin("ivfpq_compacted", out,
      ArtifactJobs.annIvfPqFromArtifact(spark, sf("sf0.001")))
    spark.catalog.clearCache()
  }

  test("ann_ivf_pq_from_artifact equals ann_ivf_pq_rerank") {
    assertTwin("ann_ivf_pq",
      ArtifactJobs.annIvfPqFromArtifact(spark, sf("sf0.001")),
      SimilarityJobs.annIvfPqRerank(spark, sf("sf0.001")))
    spark.catalog.clearCache()
  }

  test("served IVF-PQ plan scans the four index artifacts, corpus only for queries+rerank") {
    // the serving claim: no assignment/training stage — cells, codes,
    // codebook, centroids all come FROM STORAGE; the only embeddings
    // scans are the query-side ranking/tables and the shortlist re-rank
    val df = ArtifactJobs.annIvfPqFromArtifact(spark, sf("sf0.001"))
    val plan = df.queryExecution.executedPlan.toString
    for (a <- Seq("ivfpq_centroids", "ivfpq_cells", "ivfpq_codes",
        "ivfpq_codebook"))
      assert(plan.contains(a), s"plan must scan the $a artifact; got:\n" +
        plan.linesIterator.filter(_.contains("FileScan")).mkString("\n"))
    spark.catalog.clearCache()
  }

  test("item_pagerank_incremental: one-day delta, pushed delta scan, lossless") {
    val dir = sf("sf0.001")
    val (storedEdges, deltaScan, changed) =
      ArtifactJobs.pagerankIncrementalParts(spark, dir)
    // append-only corpus: exactly the last day is detected as changed
    val maxDay = graft.io.Tables.events(spark, dir)
      .selectExpr("max(datediff(cast(ts as date), date'1970-01-01'))")
      .head().getInt(0)
    assert(changed == Seq(maxDay),
      s"expected only the delta day $maxDay changed, got $changed")
    // the delta re-read is PRUNED AT STORAGE: the ts lower bound reaches
    // the parquet reader (PushedFilters), it is not a post-scan filter
    val scanPlan = deltaScan.queryExecution.executedPlan.toString
    assert(scanPlan.contains("PushedFilters: [IsNotNull(ts), GreaterThanOrEqual(ts"),
      "delta scan must push the day bound into the reader; got:\n" +
        scanPlan.linesIterator.filter(_.contains("FileScan")).mkString("\n"))
    // stored edges exclude the delta day, so incremental = stored ∪ delta
    // must reconstruct the full-corpus ranks bit-identically
    val inc = ArtifactJobs.itemPagerankIncremental(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val full = jobs.AnalyticsJobs.itemPagerank(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(inc == full)
    // and the stored aggregate genuinely carries yesterday only: fewer
    // edges than the merged set (the delta day contributes new ones)
    val nStored = storedEdges.count()
    val nFull = graft.io.Tables.events(spark, dir)
      .selectExpr("user_id * 2 as u",
        "cast(regexp_extract(props, '\"k\"\\\\s*:\\\\s*(-?\\\\d+)', 1) as long) * 2 + 1 as it")
      .filter(org.apache.spark.sql.functions.col("it").isNotNull)
      .distinct().count() * 2
    assert(nStored < nFull, s"stored $nStored !< full $nFull")
  }

  test("item_communities_incremental reconstructs the full-corpus labels") {
    val dir = sf("sf0.001")
    val inc = ArtifactJobs.itemCommunitiesIncremental(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val full = jobs.AnalyticsJobs.itemCommunities(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(inc == full)
  }

  test("item_similarity_incremental reconstructs the full-corpus CF lists") {
    val dir = sf("sf0.001")
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))
    val inc = ArtifactJobs.itemSimilarityIncremental(spark, dir)
      .collect().map(key).toMap
    val full = jobs.AnalyticsJobs.itemSimilarity(spark, dir)
      .collect().map(key).toMap
    assert(inc == full)
    assert(inc.nonEmpty)
  }

  test("video_index_incremental equals the full recompute on delta-touching pairs") {
    val sfd = sf("sf0.001")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val inc = rows(ArtifactJobs.videoIndexIncremental(spark, sfd))
    val full = rows(graft.jobs.MultimodalJobs.videoNeardup(spark, sfd)
      .filter(org.apache.spark.sql.functions.expr(
        "doc_a % 5 = 0 OR doc_b % 5 = 0")))
    assert(inc == full,
      s"only-inc=${(inc -- full).take(3)} only-full=${(full -- inc).take(3)}")
    assert(inc.nonEmpty, "delta must touch near-dup pairs")
    // both delta-delta and delta-stored pairs must be exercised
    assert(inc.exists { case (a, b, _) => a % 5 == 0 && b % 5 == 0 })
    assert(inc.exists { case (a, b, _) => (a % 5 == 0) != (b % 5 == 0) })
    val p = java.nio.file.Paths.get(ArtifactJobs.artifactPath("video_fp_index"))
    assert(java.nio.file.Files.exists(p), "video_fp_index artifact missing")
  }

  test("image_index_incremental equals the full recompute on delta-touching pairs") {
    val sfd = sf("sf0.001")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val inc = rows(ArtifactJobs.imageIndexIncremental(spark, sfd))
    val full = rows(graft.jobs.MultimodalJobs.imageNeardup(spark, sfd)
      .filter(org.apache.spark.sql.functions.expr(
        "doc_a % 5 = 0 OR doc_b % 5 = 0")))
    assert(inc == full,
      s"only-inc=${(inc -- full).take(3)} only-full=${(full -- inc).take(3)}")
    assert(inc.nonEmpty, "delta must touch near-dup pairs")
    // both delta-delta and delta-stored pairs must be exercised
    assert(inc.exists { case (a, b, _) => a % 5 == 0 && b % 5 == 0 })
    assert(inc.exists { case (a, b, _) => (a % 5 == 0) != (b % 5 == 0) })
    val p = java.nio.file.Paths.get(ArtifactJobs.artifactPath("image_fp_index"))
    assert(java.nio.file.Files.exists(p), "image_fp_index artifact missing")
  }

  test("audio_index_incremental equals the full recompute on delta-touching pairs") {
    val sfd = sf("sf0.001")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val inc = rows(ArtifactJobs.audioIndexIncremental(spark, sfd))
    val full = rows(graft.jobs.MultimodalJobs.audioNeardup(spark, sfd)
      .filter(org.apache.spark.sql.functions.expr(
        "doc_a % 5 = 0 OR doc_b % 5 = 0")))
    assert(inc == full,
      s"only-inc=${(inc -- full).take(3)} only-full=${(full -- inc).take(3)}")
    assert(inc.nonEmpty)
    assert(inc.exists { case (a, b, _) => a % 5 == 0 && b % 5 == 0 })
    assert(inc.exists { case (a, b, _) => (a % 5 == 0) != (b % 5 == 0) })
  }

  test("image_index_incremental decodes ONLY the delta at serve time") {
    // the artifact is memoized per corpus fingerprint: after a first call
    // lands it, the serve plan's decode scan (imageScan's mapPartitions
    // over payloads) must read the delta documents only — pinned by the
    // pushed doc_id % 5 = 0 residual being the ONLY documents scan
    // feeding a decode, the stored side being a plain parquet scan of the
    // artifact
    val sfd = sf("sf0.001")
    ArtifactJobs.imageIndexIncremental(spark, sfd).count() // land artifact
    val df = ArtifactJobs.imageIndexIncremental(spark, sfd)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Truncated plan"), "plan string truncated (r11 rule)")
    // r15: the delta decode is an EAGER localCheckpoint (the r14 bare
    // .cache() leaked for the JVM lifetime), so the serve plan contains
    // NO decode scan at all — the delta lands as an ExistingRDD and the
    // stored side is a plain parquet scan of the artifact. Any documents
    // scan in the serve plan would be a corpus re-decode.
    assert(!p.contains("documents.parquet"),
      s"serve plan must not re-decode any documents:\n$p")
    assert(p.contains("ExistingRDD"),
      s"checkpointed delta fingerprints missing from the serve plan:\n$p")
    assert(p.contains("image_fp_index"),
      s"stored side must read the persisted artifact:\n$p")
  }

  test("artifacts land on disk as readable parquet models") {
    ArtifactJobs.bpeEncodeFromArtifact(spark, sf("sf0.001")).count()
    val p = java.nio.file.Paths.get(ArtifactJobs.artifactPath("bpe_encoder"))
    assert(java.nio.file.Files.exists(p), "bpe_encoder artifact missing")
    val loaded = spark.read.parquet(p.toString)
    assert(loaded.columns.toSet == Set("w", "n_syms"))
    assert(loaded.count() > 0)
  }
}
