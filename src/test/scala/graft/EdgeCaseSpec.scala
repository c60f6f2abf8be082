package graft

import org.apache.spark.sql.functions._
import graft.ops.{Dedup, Similarity, TextAnalysis, TopN}

/** Degenerate-input hardening: empty frames, single rows, empty strings —
  * operators must return empty/identity results, never throw.
  */
class EdgeCaseSpec extends SparkSpec {
  import spark.implicits._

  private val emptyDocs = Seq.empty[(Long, String, String)]
    .toDF("doc_id", "text", "block")

  test("kmeans and repetition are total on degenerate inputs") {
    // fewer vectors than centroids: cells just come out sparse
    val tiny = Seq((0L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val v = Similarity.withNorm(tiny, $"vec_id", $"embedding")
    val cents = Similarity.kmeansCentroids(v, c = 4, iters = 1).collect()
    assert(cents.length == 1) // one occupied cell
    // empty/whitespace text: zero fractions, never a divide-by-zero null
    val dir = java.nio.file.Files.createTempDirectory("rep_edge").toString
    Seq((1L, "", "en", "s", 0L), (2L, "   ", "en", "s", 3L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rep = graft.jobs.TextJobs.textRepetition(spark, dir)
      .orderBy($"doc_id")
      .as[(Long, Long, Double, Double, Double)].collect()
    assert(rep.forall(r => r._3 == 0.0 && r._4 == 0.0 && r._5 == 0.0))
  }

  test("dedup ops are total on empty and degenerate documents") {
    assert(Dedup.jaccardPairs(emptyDocs, 2, 0.5).count() == 0)
    assert(Dedup.minhashSignatures(
      emptyDocs.drop("block"), $"doc_id", $"text", 8).count() == 0)
    val degenerate = Seq((1L, "", "en"), (2L, "   ", "en"), (3L, "x", "en"))
      .toDF("doc_id", "text", "block")
    // no bigrams exist → no pairs, no signatures with null mins
    assert(Dedup.jaccardPairs(degenerate, 2, 0.1).count() == 0)
    // "" and "   " normalize identically → one fingerprint group + "x"
    assert(Dedup.exact(degenerate, $"doc_id", $"text").count() == 2)
  }

  test("text analysis handles empty strings") {
    val df = Seq((1L, ""), (2L, "   "), (3L, "one")).toDF("doc_id", "text")
    val rows = df.select($"doc_id",
        TextAnalysis.tokenCount($"text").as("t"),
        TextAnalysis.qualityScore(
          TextAnalysis.tokenCount($"text"),
          TextAnalysis.stopwordCount($"text")).as("q"))
      .as[(Long, Long, Double)].collect()
    assert(rows.map(_._1).toSet == Set(1L, 2L, 3L))
    assert(rows.forall(r => r._3 >= 0.0 && r._3 <= 1.0))
  }

  test("topN on empty input returns empty, not an error") {
    val empty = Seq.empty[(Long, Long, Long)].toDF("window_end", "item", "cnt")
    assert(TopN.topNPer(empty, $"window_end", $"cnt", $"item", 5).count() == 0)
  }

  test("similarity ops on empty corpora return empty") {
    val empty = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    val v = Similarity.withNorm(empty, $"vec_id", $"embedding")
    assert(Similarity.nearDupPairs(v, 0.5).count() == 0)
    assert(Similarity.lshTopK(v, 4, 5, dims = 4).count() == 0)
    assert(Similarity.nearDupPairsBlocked(v, 0.5, planes = 4, dims = 4).count() == 0)
    assert(Similarity.ivfTopK(v, lit(true), centroids = 4, nprobe = 2, k = 5)
      .count() == 0)
  }

  test("IVF with fewer vectors than centroids still answers") {
    val tiny = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.9f, 0.1f)), (2L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val v = Similarity.withNorm(tiny, $"vec_id", $"embedding")
    val out = Similarity.ivfTopK(v, lit(true), centroids = 16, nprobe = 4, k = 2)
    // every vector is its own centroid; probing 4 cells still finds the
    // close pair (0,1) in both directions
    val pairs = out.select($"query_id", $"neighbor_id")
      .as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)) && pairs.contains((1L, 0L)))
  }

  test("corpus text ops are total on an empty documents table") {
    val dir = java.nio.file.Files.createTempDirectory("empty_docs").toString
    Seq.empty[(Long, String, String, String, Long)]
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    assert(graft.jobs.TextJobs.vocabTopK(spark, dir).count() == 0)
    assert(graft.jobs.TextJobs.tfidfTopK(spark, dir).count() == 0)
    assert(graft.jobs.DedupJobs.docSample(spark, dir).count() == 0)
    assert(graft.jobs.DedupJobs.corpusCuration(spark, dir).count() == 0)
    assert(graft.jobs.TextJobs.docPacking(spark, dir).count() == 0)
    assert(graft.jobs.TextJobs.textRedact(spark, dir).count() == 0)
    assert(graft.jobs.DedupJobs.dedupIncremental(spark, dir).count() == 0)
  }

  test("round-12 ops are total on empty and token-less documents") {
    val empty = java.nio.file.Files.createTempDirectory("r12_empty").toString
    Seq.empty[(Long, String, String, String, Long)]
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$empty/documents.parquet")
    assert(graft.jobs.TextJobs.bm25Search(spark, empty).count() == 0)
    assert(graft.jobs.TextJobs.packingEval(spark, empty).count() == 0)
    // simhash_eval's scorecard stays total (one all-zero row)
    val se = graft.jobs.DedupJobs.simhashEval(spark, empty).collect()
    assert(se.length == 1 && se.head.getLong(0) == 0L &&
      se.head.getLong(1) == 0L)
    // token-less docs: N > 0 but L = 0 → adl = 0, still total
    val toks0 = java.nio.file.Files.createTempDirectory("r12_tokless").toString
    Seq((1L, "!!! ---", "en", "s", 7L), (2L, "...", "en", "s", 3L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$toks0/documents.parquet")
    assert(graft.jobs.TextJobs.bm25Search(spark, toks0).count() == 0)
  }

  test("round-5 ops are total on empty and degenerate inputs") {
    val dir = java.nio.file.Files.createTempDirectory("empty_r5").toString
    Seq.empty[(Long, String, String, String, Long)]
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    assert(graft.jobs.TextJobs.qualityClassifier(spark, dir).count() == 0)
    assert(graft.jobs.SimilarityJobs.embeddingProject(spark, dir).count() == 0)
    // Bloom prescreen with an EMPTY new batch: stat.bloomFilter over zero
    // rows must not throw, and the screen returns nothing
    assert(graft.jobs.DedupJobs.dedupIncrementalBloom(spark, dir).count() == 0)
    // streaming text screen is stateless — batch-mode totality on
    // degenerate text (the stream plans the identical expressions)
    val weird = Seq((1L, ""), (2L, "   "), (3L, "{")).toDF("doc_id", "text")
    val screened = graft.streaming.StreamingText.screen(weird).collect()
    assert(screened.length == 3)
    screened.foreach(r => assert(!r.getAs[Boolean]("admit")))
  }

  test("round-6 ops are total on empty and degenerate documents") {
    val dir = java.nio.file.Files.createTempDirectory("empty_r6").toString
    Seq.empty[(Long, String, String, String, Long)]
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // empty corpus: no words → no merges, no bigrams, no cells, no sketch
    assert(graft.jobs.TextJobs.bpeMerges(spark, dir).count() == 0)
    assert(graft.jobs.TextJobs.lmSurprise(spark, dir).count() == 0)
    assert(graft.jobs.DedupJobs.sourceCaps(spark, dir).count() == 0)
    assert(graft.jobs.DedupJobs.ngramContamination(spark, dir).count() == 0)
    assert(graft.jobs.DedupJobs.trainingOrder(spark, dir).count() == 0)
    assert(graft.jobs.DedupJobs.curationScreened(spark, dir).count() == 0)
    assert(graft.jobs.TextJobs.lmSurpriseRef(spark, dir).count() == 0)
    assert(graft.jobs.TextJobs.bpeEncode(spark, dir).count() == 0)
    // lazy CMS: constructing AND running heavy_hitters on an empty corpus
    // must not NPE (the sketch aggregate yields NULL but is never probed)
    assert(graft.jobs.TextJobs.heavyHitters(spark, dir).count() == 0)
    // single short doc: no CONTAM_W-word window, no bigram for 1 token
    val dir2 = java.nio.file.Files.createTempDirectory("tiny_r6").toString
    Seq((1L, "one", "en", "s", 3L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir2/documents.parquet")
    assert(graft.jobs.TextJobs.lmSurprise(spark, dir2).count() == 0)
    assert(graft.jobs.DedupJobs.ngramContamination(spark, dir2).count() == 0)
    // the cap never drops below the cell population when it doesn't bind
    val caps = graft.jobs.DedupJobs.sourceCaps(spark, dir2).collect()
    assert(caps.length == 1 &&
      caps.head.getAs[Long]("docs_in") == 1 &&
      caps.head.getAs[Long]("docs_kept") == 1)
  }

  test("round-4 ops are total on degenerate documents") {
    // all-empty and token-free texts: packing skips them entirely (no
    // zero-token bins), redaction counts zero, jaccard emits nothing
    val dir = java.nio.file.Files.createTempDirectory("deg_docs").toString
    Seq((1L, "", "en", "s", 0L), (2L, "   ", "en", "s", 3L),
        (3L, "...", "en", "s", 3L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    assert(graft.jobs.TextJobs.docPacking(spark, dir).count() == 0)
    val red = graft.jobs.TextJobs.textRedact(spark, dir)
      .select($"n_emails", $"n_phones").collect()
    assert(red.length == 3 && red.forall(r => // injected contact only
      r.getLong(0) == 1 && r.getLong(1) == 1))
    assert(Dedup.jaccardPairs(emptyDocs, 2, 0.3).count() == 0)
    assert(Dedup.jaccardPairsPrefix(emptyDocs, 2, 7, 20).count() == 0)
    assert(Dedup.lshCandidatesAcross(
      Seq.empty[(Long, Long)].toDF("doc_id", "h0"),
      Seq.empty[(Long, Long)].toDF("doc_id", "h0"), 1, 1).count() == 0)
  }

  test("substring dup rate is total on degenerate and empty documents") {
    // empty/short/punctuation docs: no 5-word windows anywhere → no rows
    val deg = Seq((1L, ""), (2L, "   "), (3L, "one two three four"))
      .toDF("doc_id", "text")
    assert(Dedup.substringDupRate(deg, 5).count() == 0)
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Dedup.substringDupRate(empty, 5).count() == 0)
  }

  test("substring dedup clean is total on degenerate and empty documents") {
    // window-free docs pass through whole (unlike the rate metric, every
    // doc with tokens gets a row — the clean op must not lose documents)
    val deg = Seq((1L, ""), (2L, "one two three four"))
      .toDF("doc_id", "text")
    val out = Dedup.substringDedupClean(deg, 5).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_removed"), r.getAs[String]("clean_text"))).toMap
    assert(out.size == 2)
    assert(out(1L)._1 == 0L)
    assert(out(2L) == ((0L, "one two three four")))
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Dedup.substringDedupClean(empty, 5).count() == 0)
  }

  test("PQ coding and ADC search are total on empty corpora") {
    val empty = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    val ve = Similarity.withNorm(empty, $"vec_id", $"embedding")
    assert(Similarity.pqCodes(ve, 2, 2, 4).count() == 0)
    assert(Similarity.pqAdcTopK(ve, $"vec_id" < 1, 2, 2, 4, 3).count() == 0)
  }

  test("round-7 ops are total on empty and degenerate inputs") {
    val empty = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    val ve = Similarity.withNorm(empty, $"vec_id", $"embedding")
    val emptyCents = Similarity.seedCentroids(ve, 2)
    // IVF x PQ composition and its re-rank on an empty corpus
    assert(Similarity.ivfPqTopK(ve, emptyCents, $"vec_id" < 1,
      nprobe = 2, m = 2, k = 2, dims = 4, topK = 3).count() == 0)
    assert(Similarity.ivfPqRerank(ve, emptyCents, $"vec_id" < 1,
      nprobe = 2, m = 2, k = 2, dims = 4, topK = 3, shortlist = 9)
      .count() == 0)
    // codebook train/encode halves on empty input
    assert(Similarity.pqTrainCodebook(ve, 2, 2, 4).count() == 0)
    assert(Similarity.pqEncodeWith(ve,
      Similarity.pqTrainCodebook(ve, 2, 2, 4), 2, 4).count() == 0)
    // a singleton corpus: its one vector is the whole codebook and cell
    val one = Similarity.withNorm(
      Seq((0L, Array(1.0f, 0.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding"),
      $"vec_id", $"embedding")
    // no self-pairs -> empty answer, but nothing throws
    assert(Similarity.ivfPqTopK(one, Similarity.seedCentroids(one, 2),
      $"vec_id" < 1, nprobe = 2, m = 2, k = 2, dims = 4, topK = 3)
      .count() == 0)
  }

  test("within-cell pairs are total on empty and singleton corpora") {
    val empty = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    val ve = Similarity.withNorm(empty, $"vec_id", $"embedding")
    val cents1 = Similarity.seedCentroids(
      Similarity.withNorm(Seq((0L, Array(1.0f, 0.0f)))
        .toDF("vec_id", "embedding"), $"vec_id", $"embedding"), 1)
    assert(Similarity.withinCellPairs(ve, cents1, 0.5).count() == 0)
    val one = Similarity.withNorm(Seq((7L, Array(1.0f, 0.0f)))
      .toDF("vec_id", "embedding"), $"vec_id", $"embedding")
    assert(Similarity.withinCellPairs(one, cents1, 0.5).count() == 0)
  }

  test("connected components on empty/edgeless graphs are identity") {
    val emptyV = Seq.empty[Long].toDF("doc_id")
    val noPairs = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    assert(Dedup.connectedComponents(emptyV, noPairs).count() == 0)
    val v3 = Seq(1L, 2L, 3L).toDF("doc_id")
    val out = Dedup.connectedComponents(v3, noPairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 2L, 3L -> 3L))
  }

  test("hamming pairs on empty and singleton fingerprint frames are empty") {
    val empty = Seq.empty[(Long, Long)].toDF("doc_id", "fp")
    assert(Dedup.hammingPairs(empty, Dedup.Bands63, 3).count() == 0)
    val one = Seq((1L, 42L)).toDF("doc_id", "fp")
    assert(Dedup.hammingPairs(one, Dedup.Bands63, 3).count() == 0)
    // two identical fingerprints: one intra pair at hamming 0
    val twins = Seq((1L, 42L), (2L, 42L)).toDF("doc_id", "fp")
    val got = Dedup.hammingPairs(twins, Dedup.Bands63, 3).collect()
    assert(got.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq((1L, 2L, 0L)))
  }

  test("hamming pairs reject a band split that breaks the pigeonhole bound") {
    val fp = Seq((1L, 0L)).toDF("doc_id", "fp")
    intercept[IllegalArgumentException] {
      Dedup.hammingPairs(fp, Dedup.Bands63, maxHamming = 4)
    }
  }

  test("unigram trainer on empty and single-word corpora") {
    assert(graft.jobs.TextJobs.trainUnigram(Array.empty).isEmpty)
    // one word: its chars + its substrings seed; Viterbi takes the whole
    // word as one piece, chars survive at zero usage
    val got = graft.jobs.TextJobs.trainUnigram(Array(("ab", 4L)))
    assert(got.head == (("ab", 4L)))
    assert(got.toSet == Set(("ab", 4L), ("a", 0L), ("b", 0L)))
  }

  test("round-9 ops are total on empty and degenerate inputs") {
    import graft.ops.Graph
    // pageRank: empty edge set → empty ranks, both regimes
    val noEdges = Seq.empty[(Long, Long)].toDF("src", "dst")
    assert(Graph.pageRank(noEdges, iters = 3).count() == 0)
    assert(Graph.pageRank(noEdges, iters = 3,
      singleTaskBytes = 0L).count() == 0)
    // self-loop-only graph: one node feeding itself, mass conserved
    val selfLoop = Seq((5L, 5L)).toDF("src", "dst")
    val r = Graph.pageRank(selfLoop, iters = 10).collect()
    assert(r.length == 1 && r.head.getLong(0) == 5L)
    assert(math.abs(r.head.getLong(1) - Graph.PrScale) <= 20L)
    // k-center: empty corpus → empty assignment; k > n stops at n centers
    val emptyVecs = Seq.empty[(Long, Seq[Double])].toDF("vec_id", "v")
      .select($"vec_id", $"v".cast("array<double>").as("v"))
    assert(Similarity.kCenterCoreset(emptyVecs, 4).count() == 0)
    val two = Seq((10L, Seq(0.0, 0.0)), (11L, Seq(1.0, 1.0)))
      .toDF("vec_id", "v")
      .select($"vec_id", $"v".cast("array<double>").as("v"))
    val asg = Similarity.kCenterCoreset(two, 5).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(asg == Map(10L -> 10L, 11L -> 11L)) // every point its own center
    // min-id seeding: ids need not include 0
    val shifted = Seq((100L, Seq(0.0)), (200L, Seq(5.0)))
      .toDF("vec_id", "v")
      .select($"vec_id", $"v".cast("array<double>").as("v"))
    assert(Similarity.kCenterCoreset(shifted, 1).collect()
      .forall(_.getLong(1) == 100L))
    // PCA: empty corpus → empty projection; zero vectors → zero projection
    assert(Similarity.pcaPowerProjection(emptyVecs, 4, 3).count() == 0)
    val zeros = Seq((0L, Seq(0.0, 0.0)), (1L, Seq(0.0, 0.0)))
      .toDF("vec_id", "v")
      .select($"vec_id", $"v".cast("array<double>").as("v"))
    assert(Similarity.pcaPowerProjection(zeros, 2, 3).collect()
      .forall(_.getLong(1) == 0L))
  }

  test("path loops agree across regimes when no seed is in the graph") {
    import graft.ops.Graph
    val w = Seq((0L, 1L, 2L), (1L, 2L, 3L)).toDF("src", "dst", "w")
    val ghost = Seq(99L).toDF("seed")
    for (limit <- Seq(graft.ops.Regime.SingleTaskBytes, 0L)) {
      assert(Graph.minPlusDistances(w, ghost, 3, singleTaskBytes = limit)
        .count() == 0)
      assert(Graph.hopDistances(w.select("src", "dst"), ghost, 3,
        singleTaskBytes = limit).count() == 0)
    }
  }

  test("round-13 ops are total on empty and degenerate documents") {
    // textrank on docs too short to pair (0-2 surviving tokens) and on an
    // empty corpus: the n > k pairing guards and pageRank's empty-graph
    // path must hold (the fixture's docs are all long, so the guard
    // branch is otherwise never exercised)
    val short = java.nio.file.Files.createTempDirectory("r13_short").toString
    Seq((1L, "alpha", "en", "s", 5L), // 1 token: no pairs at all
        (2L, "beta gamma", "en", "s", 10L), // 2 tokens: window-1 pair only
        (3L, "the of and", "en", "s", 10L), // all stopwords: 0 tokens
        (4L, "", "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$short/documents.parquet")
    val tr = graft.jobs.TextJobs.textrankKeywords(spark, short).collect()
    // beta—gamma is the only edge; both rank equally, both surface
    assert(tr.map(_.getString(0)).toSet == Set("beta", "gamma"))

    val empty = java.nio.file.Files.createTempDirectory("r13_empty").toString
    Seq.empty[(Long, String, String, String, Long)]
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$empty/documents.parquet")
    assert(graft.jobs.TextJobs.textrankKeywords(spark, empty).count() == 0)
  }
}
