package graft

import org.apache.spark.sql.functions._
import graft.ops.Dedup
import graft.jobs.DedupJobs

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog", "en"),
    (2L, "the quick brown fox jumps over the lazy dog", "en"), // exact dup
    (3L, "THE  Quick   Brown fox jumps over the lazy dog", "en"), // normalized dup
    (4L, "the quick brown fox jumps over a sleepy dog", "en"), // near dup
    (5L, "completely different words entirely here now", "en"),
    (6L, "one", "en")) // single word: no bigrams
    .toDF("doc_id", "text", "lang")

  test("text contract: md5-prefix hashes are the MessageDigest hex prefixes") {
    val strs = Seq("", "a", "the quick brown fox", "naïve café",
      "日本語のテキスト", "emoji \uD83D\uDE42 ok")
    def limb(s: String, from: Int, width: Int): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(from - 1, from - 1 + width), 16)
    }
    val s = col("s")
    val got = strs.toDF("s").select(Seq(s, Dedup.md5Long(s).as("m32"),
        Dedup.hash60(s).as("m60")) ++ Dedup.windowHash(s) ++
        Dedup.contentKey(s): _*)
      .collect()
    assert(got.length == strs.length)
    got.foreach { r =>
      val in = r.getAs[String]("s")
      assert(r.getAs[Long]("m32") == limb(in, 1, 8), in)
      assert(r.getAs[Long]("m60") == limb(in, 1, 15), in)
      assert(r.getAs[Long]("gh1") == limb(in, 1, 8), in)
      assert(r.getAs[Long]("gh2") == limb(in, 9, 8), in)
      assert(r.getAs[Long]("gk1") == limb(in, 1, 15), in)
      assert(r.getAs[Long]("gk2") == limb(in, 16, 15), in)
    }
  }

  test("text contract: rowWindows equals explodedGrams per doc, in order") {
    val edge = Seq(
      (1L, "\tx y z x y z"), (2L, "x y z x y z\n"),
      (3L, "doubled  spaces   between words  here"),
      (4L, "two words"), (5L, ""), (6L, " a b c d e f g h i j k"))
      .toDF("doc_id", "text")
    Seq(2, 3, 8).foreach { w =>
      // the gram window sorts each doc's words by pos, so collected rows
      // come out in pos order within a doc
      val batch = Dedup.explodedGrams(edge, w, distinct = false)
        .as[(Long, String)].collect().toSeq
        .groupBy(_._1).map { case (d, gs) => d -> gs.map(_._2) }
      val row = edge.select($"doc_id", Dedup.words($"text").as("w_arr"))
        .select($"doc_id", Dedup.rowWindows($"w_arr", w))
        .as[(Long, Seq[String])].collect().toMap
      assert(row.keySet == Set(1L, 2L, 3L, 4L, 5L, 6L))
      row.foreach { case (d, gs) =>
        assert(gs == batch.getOrElse(d, Seq.empty), s"doc $d at w=$w")
      }
      assert(row.values.exists(_.nonEmpty), s"w=$w")
    }
  }

  test("exact dedup groups normalized duplicates") {
    val out = Dedup.exact(docs, $"doc_id", $"text")
      .orderBy($"keeper").collect()
    // 1,2,3 share a fingerprint; 4,5,6 unique
    assert(out.length == 4)
    assert(out.head.getAs[Long]("keeper") == 1L &&
      out.head.getAs[Long]("n_dups") == 3L)
  }

  test("minhash LSH flags exact and near dups, skips unrelated") {
    val sig = Dedup.minhashSignatures(docs, $"doc_id", $"text", 8)
    val cand = Dedup.lshCandidates(sig, 8, 2)
      .select($"doc_a", $"doc_b", $"est_jaccard").collect()
    val pairs = cand.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L))) // identical docs always collide
    val est12 = cand.find(r => r.getLong(0) == 1L && r.getLong(1) == 2L).get
      .getDouble(2)
    assert(est12 == 1.0)
    assert(!pairs.exists(p => p._1 == 5L || p._2 == 5L)) // unrelated never
  }

  test("simhash: identical docs same fingerprint; near dups close") {
    val fp = Dedup.simhash(docs, $"doc_id", $"text", 16)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fp(1L) == fp(2L))
    val hammingNear = java.lang.Long.bitCount(fp(1L) ^ fp(4L))
    val hammingFar = java.lang.Long.bitCount(fp(1L) ^ fp(5L))
    assert(hammingNear < hammingFar)
  }

  test("bigram jaccard finds the near-dup pair with correct value") {
    val blocked = docs.select($"doc_id", $"text", $"lang".as("block"))
    val out = Dedup.jaccardPairs(blocked, 2, 0.3)
      .select($"doc_a", $"doc_b", $"jaccard").collect()
    val pairs = out.map(r => (r.getLong(0), r.getLong(1))).toMap
      .map { case (k, v) => (k, v) }
    // docs 1,2 identical → jaccard 1.0
    val j12 = out.find(r => r.getLong(0) == 1L && r.getLong(1) == 2L)
    assert(j12.isDefined && j12.get.getDouble(2) == 1.0)
    // doc 6 (single word, no bigrams) never appears
    assert(!out.exists(r => r.getLong(0) == 6L || r.getLong(1) == 6L))
  }

  test("identity compression expands dup groups to the exact all-pairs output") {
    // 3 identical copies (1,2,7) + a near dup + an unrelated doc: the
    // compressed join must emit all C(3,2) intra pairs at jaccard 1.0 with
    // inter = |gram set|, and near-dup pairs once per member combination
    val dupHeavy = Seq(
      (1L, "pack my box with five dozen brown liquor jugs", "en"),
      (2L, "pack my box with five dozen brown liquor jugs", "en"),
      (7L, "pack my box with five dozen brown liquor jugs", "en"),
      (4L, "pack my box with five dozen brown liquor cups", "en"),
      (5L, "completely different words entirely here now", "en"))
      .toDF("doc_id", "text", "lang")
      .select($"doc_id", $"text", $"lang".as("block"))
    val out = Dedup.jaccardPairs(dupHeavy, 2, 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    // 8 distinct bigrams per doc; identical copies: inter 8, jaccard 1.0
    for (p <- Seq((1L, 2L), (1L, 7L), (2L, 7L)))
      assert(out(p) == ((8L, 1.0)), s"intra pair $p")
    // near dup 4 shares 7 of 8 bigrams with EVERY copy: 7/(8+8-7)
    for (p <- Seq((1L, 4L), (2L, 4L), (4L, 7L)))
      assert(out(p) == ((7L, 7.0 / 9)), s"cross pair $p")
    assert(out.size == 6) // doc 5 pairs with nothing
  }

  test("compressed and prefix-filtered jaccard agree with each other exactly") {
    // two independent lossless fences of the same all-pairs semantics must
    // produce identical output on real data (driver-shaped sf0.001 corpus)
    val d = spark.read.parquet(s"${sf("sf0.001")}/documents.parquet")
      .select($"doc_id", $"text", $"lang".as("block"))
    val a = Dedup.jaccardPairs(d, 2, 0.35)
      .orderBy($"doc_a", $"doc_b").collect().toSeq
    val b = Dedup.jaccardPairsPrefix(d, 2, 7, 20) // τ = 7/20 = 0.35
      .orderBy($"doc_a", $"doc_b").collect().toSeq
    assert(a.nonEmpty && a == b)
    // and the composed fence (compression AROUND the prefix core) is the
    // same lossless semantics again
    val c = Dedup.jaccardPairsComposed(d, 2, 7, 20)
      .orderBy($"doc_a", $"doc_b").collect().toSeq
    assert(a == c)
  }

  test("composed fence expands dup groups exactly like the plain compressed join") {
    // the dup-heavy corpus from the identity-compression test must come out
    // bit-identical through the prefix core too (intra pairs at 1.0 with
    // inter = |set|, cross pairs once per member combination)
    val dupHeavy = Seq(
      (1L, "pack my box with five dozen brown liquor jugs", "en"),
      (2L, "pack my box with five dozen brown liquor jugs", "en"),
      (7L, "pack my box with five dozen brown liquor jugs", "en"),
      (4L, "pack my box with five dozen brown liquor cups", "en"),
      (5L, "completely different words entirely here now", "en"))
      .toDF("doc_id", "text", "lang")
      .select($"doc_id", $"text", $"lang".as("block"))
    val plain = Dedup.jaccardPairs(dupHeavy, 2, 0.3)
      .orderBy($"doc_a", $"doc_b").collect().toSeq
    val composed = Dedup.jaccardPairsComposed(dupHeavy, 2, 6, 20) // τ = 0.3
      .orderBy($"doc_a", $"doc_b").collect().toSeq
    assert(plain.nonEmpty && plain == composed)
  }

  test("prefix length formula is integer-exact and never empties a set") {
    val n = (1 to 200).toDF("nn")
    val got = n.select($"nn", Dedup.prefixLen($"nn", 7, 20).as("p"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    // α = 14/27: n=27 → 27−14+1 = 14; n=8 → 8−ceil(112/27)+1 = 4
    assert(got(27) == 14L && got(8) == 4L && got(1) == 1L)
    assert(got.forall { case (nn, p) => p >= 1 && p <= nn })
    // reference ceil arithmetic for every n
    assert(got.forall { case (nn, p) =>
      p == nn - ((14L * nn + 26) / 27) + 1 })
  }

  test("prefix join is lossless even for pairs sharing ONLY a stop-gram") {
    // every doc shares exactly one bigram ("the of", df = 40); at τ = 1/20
    // those pairs pass the threshold (1/15 ≥ 0.05) and the prefix join must
    // still surface all C(40,2) of them — the lossless guarantee under the
    // worst case for a naive df cutoff (which would drop them all)
    val docs = (1 to 40).map { i =>
      (i.toLong, s"the of unique$i gram$i token$i word$i item$i extra$i", "en")
    }.toDF("doc_id", "text", "block")
    assert(Dedup.jaccardPairsPrefix(docs, 2, 1, 20).count() == 40L * 39 / 2)
    // and at τ = 0.35 the stop-gram-only pairs are below threshold: none
    assert(Dedup.jaccardPairsPrefix(docs, 2, 7, 20).count() == 0)
  }

  test("prefix join emits the boundary unequal-size containment pair (r16 advice)") {
    // τ = 1/2, na = 6 bigrams, nb = 3 bigrams, doc 2 fully contained in
    // doc 1: jaccard = 3/(6+3−3) = 0.5 = τ exactly. Doc 1's unique bigrams
    // have df 1 and the 3 shared ones df 2, so the df ordering puts ALL
    // common grams LAST in doc 1's list — the r16 symmetric α-prefix
    // (p₁ = 6−⌈(2/3)·6⌉+1 = 3) contained no common gram and silently
    // dropped the pair. The τ×α probing/indexing split must emit it.
    val docs = Seq(
      (1L, "u1 u2 u3 u4 c1 c2 c3", "en"),
      (2L, "u4 c1 c2 c3", "en"))
      .toDF("doc_id", "text", "block")
    val got = Dedup.jaccardPairsPrefix(docs, 2, 1, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3)))
    assert(got.toSeq == Seq((1L, 2L, 3L, 0.5)))
    // and it matches the fence-free all-pairs semantics exactly
    val plain = Dedup.jaccardPairs(docs, 2, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3)))
    assert(plain.toSeq == got.toSeq)
  }

  test("containment prefix fence is bit-identical to the plain intersection join") {
    // real-data equality (driver-shaped sf0.001 corpus) at the registered
    // operating point τ = 0.5 ppm ...
    val d = spark.read.parquet(s"${sf("sf0.001")}/documents.parquet")
      .select($"doc_id", $"text", $"lang".as("block"))
    val plain = Dedup.containmentPairs(d, 2, 500000L)
      .orderBy($"doc_a", $"doc_b").collect().toSeq
    val fenced = Dedup.containmentPairsPrefix(d, 2, 500000L)
      .orderBy($"doc_a", $"doc_b").collect().toSeq
    assert(plain.nonEmpty && plain == fenced)
    // ... and on the adversarial boundary shape: a tiny doc fully quoted
    // inside a big one whose shared grams sort LAST in the big doc's
    // df-order (the big side has NO prefix bound — it must join its full
    // list; a symmetric prefix would drop the pair)
    val adversarial = Seq(
      (1L, "u1 u2 u3 u4 u5 u6 u7 u8 u9 c1 c2 c3", "en"),
      (2L, "c1 c2 c3", "en")) // 2 bigrams, both inside doc 1
      .toDF("doc_id", "text", "block")
    val p2 = Dedup.containmentPairs(adversarial, 2, 500000L)
      .orderBy($"doc_a", $"doc_b").collect().toSeq
    val f2 = Dedup.containmentPairsPrefix(adversarial, 2, 500000L)
      .orderBy($"doc_a", $"doc_b").collect().toSeq
    assert(p2.nonEmpty && p2 == f2)
  }

  test("decontamination flags duplicated docs that cross the hash split") {
    // doc_id 8 hashes to 'test', 0-7 and 9 to 'train' (md5 % 100 buckets);
    // make 8 a verbatim copy of 1 — the canonical eval→train leak. Identical
    // gram sets guarantee identical minhash signatures, so the LSH candidate
    // stage must surface the pair regardless of banding choices.
    val dir = java.nio.file.Files.createTempDirectory("decon").toString
    Seq(
      (0L, "the quick brown fox jumps over the lazy dog today", "en", "s", 49L),
      (1L, "pack my box with five dozen brown liquor jugs now", "en", "s", 50L),
      (8L, "pack my box with five dozen brown liquor jugs now", "en", "s", 50L),
      (9L, "completely unrelated words occupy this document body", "en", "s", 52L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = graft.jobs.DedupJobs.decontamination(spark, dir)
      .select($"doc_a", $"doc_b", $"split_a", $"split_b").collect()
    assert(out.length == 1)
    assert(out.head.getLong(0) == 1L && out.head.getLong(1) == 8L)
    assert(Set(out.head.getString(2), out.head.getString(3)) == Set("train", "test"))
  }

  test("incremental dedup flags new-vs-old dups only, never within a side") {
    // md5 buckets: 8→93, 16→88 (the "new batch"); 0→49, 1→50, 9→52 (old).
    // 8 duplicates old doc 1 → flagged; 16 duplicates NEW doc 8 → must NOT
    // be flagged (new×new is next batch's intra-corpus dedup, not this
    // screen); 9 duplicates old doc 0 → old×old, also not flagged.
    val dir = java.nio.file.Files.createTempDirectory("incr").toString
    Seq(
      (0L, "the quick brown fox jumps over the lazy dog today", "en", "s", 49L),
      (9L, "the quick brown fox jumps over the lazy dog today", "en", "s", 49L),
      (1L, "pack my box with five dozen brown liquor jugs now", "en", "s", 50L),
      (8L, "pack my box with five dozen brown liquor jugs now", "en", "s", 50L),
      (16L, "pack my box with five dozen brown liquor jugs now", "en", "s", 50L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = graft.jobs.DedupJobs.dedupIncremental(spark, dir)
      .select($"new_id", $"old_id", $"jaccard").collect()
    val pairs = out.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((8L, 1L), (16L, 1L)), s"got $pairs")
    assert(out.forall(_.getDouble(2) == 1.0))
  }

  test("connected components collapse transitive dup chains to one keeper") {
    val vertices = Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L).toDF("doc_id")
    // chain 1-2-3-4 (1~2, 2~3, 3~4: transitive, no direct 1~4 edge),
    // pair 5-6, singleton 7
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (5L, 6L))
      .toDF("doc_a", "doc_b")
    val out = Dedup.connectedComponents(vertices, pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(1L, 2L, 3L, 4L).forall(out(_) == 1L))
    assert(out(5L) == 5L && out(6L) == 5L)
    assert(out(7L) == 7L)
  }

  test("connected components converge on a deep chain with bounded plans") {
    // a 45-deep path graph: min-label propagation needs 44 iterations, so
    // without lineage truncation the logical plan would nest 44 join+agg
    // layers and analysis cost per iteration grows superlinearly. With
    // localCheckpoint every 5 iterations the whole run must stay fast AND
    // converge to label 0 everywhere.
    val n = 45
    val vertices = (0 until n).map(_.toLong).toDF("doc_id")
    val chain = (0 until n - 1).map(i => (i.toLong, i + 1L))
      .toDF("doc_a", "doc_b")
    val t0 = System.nanoTime()
    // starAfter = 100 + singleTaskBytes = 0 pin the PLAIN one-hop
    // shuffle propagation path (this test is about lineage truncation at
    // ~44 nested rounds; pointer jumping on the broadcast path would
    // converge in ~7 and leave truncation untested — that path has its
    // own test below)
    val out = Dedup.connectedComponents(vertices, chain, maxIters = 100,
      starAfter = 100, singleTaskBytes = 0L)
    val labels = out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val secs = (System.nanoTime() - t0) / 1e9
    assert(labels.size == n && labels.values.forall(_ == 0L))
    // generous bound: ~45 iterations of two tiny distributed jobs each;
    // an untruncated 44-layer plan would blow well past this on analysis
    assert(secs < 120, f"deep-chain convergence took $secs%.1f s")
  }

  test("small graphs resolve in one union-find task, zero rounds") {
    // 60-deep path under the default single-task limit: the distributed
    // loop would need 59 propagation rounds (or the star fallback); the
    // union-find path must land every label on the component min with
    // ZERO distributed rounds — and the corpus-sized vertex frame never
    // shuffles (one broadcast join back).
    val n = 60
    val vertices = (0 until n).map(_.toLong).toDF("doc_id")
    val chain = (0 until n - 1).map(i => (i.toLong, i + 1L))
      .toDF("doc_a", "doc_b")
    val before = graft.ops.Regime.stats.get("union_find")
    val out = Dedup.connectedComponents(vertices, chain, maxIters = 100)
    assert(graft.ops.Regime.stats.get("union_find") != before)
    val labels = out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.size == n && labels.values.forall(_ == 0L))
    val choice = graft.ops.Regime.last("union_find").get
    assert(choice.small && choice.size == 16L * (n - 1),
      s"expected the single-task union-find path, got $choice")
  }

  test("diameter-200 chain converges via the large-star/small-star fallback") {
    // propagation alone would need 200 rounds; with the default
    // starAfter=20 budget the run must SWITCH to large-star/small-star
    // (O(log d) rounds) and still land every label on the component min —
    // the round-4 advisor's hard-fail scenario (IllegalStateException at
    // the budget) must be gone. singleTaskBytes=0 pins the DISTRIBUTED
    // path: with broadcast + pointer jumping active this graph converges
    // before the star budget and the fallback would go untested.
    val n = 201
    val vertices = (0 until n).map(_.toLong).toDF("doc_id")
    val chain = (0 until n - 1).map(i => (i.toLong, i + 1L))
      .toDF("doc_a", "doc_b")
    // two components: the 0..200 chain plus an isolated pair far away
    val pairs = chain.unionAll(Seq((9000L, 9001L)).toDF("doc_a", "doc_b"))
    val allV = vertices.unionAll(Seq(9000L, 9001L, 9500L).toDF("doc_id"))
    val t0 = System.nanoTime()
    val out = Dedup.connectedComponents(allV, pairs, maxIters = 60,
      singleTaskBytes = 0L)
    val labels = out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val secs = (System.nanoTime() - t0) / 1e9
    assert((0 until n).forall(i => labels(i.toLong) == 0L))
    assert(labels(9000L) == 9000L && labels(9001L) == 9000L)
    assert(labels(9500L) == 9500L, "isolated vertex keeps its own label")
    // 20 propagation rounds + ~log2(200) star rounds of small jobs; a
    // diameter-long loop (200 rounds) would blow well past this
    assert(secs < 120, f"star-fallback convergence took $secs%.1f s")
  }

  test("substring dup rate counts cross-doc positional windows only") {
    val d = Seq(
      (1L, "a b c d e f"),        // windows: "a b c d e", "b c d e f"
      (2L, "a b c d e x"),        // shares "a b c d e" with doc 1
      (3L, "p q r s t"),          // one unique window
      (4L, "too short"),          // < 5 words: no row
      (5L, "z z z z z z"))        // "z z z z z" twice, but only in doc 5
      .toDF("doc_id", "text")
    val out = Dedup.substringDupRate(d, 5)
      .orderBy($"doc_id").collect()
    assert(out.map(_.getAs[Long]("doc_id")).toSeq == Seq(1L, 2L, 3L, 5L),
      "doc with <5 words must have no windows and no row")
    val byId = out.map(r => r.getAs[Long]("doc_id") ->
      (r.getAs[Long]("n_windows"), r.getAs[Long]("n_dup_windows"),
        r.getAs[Double]("dup_rate"))).toMap
    assert(byId(1L) == ((2L, 1L, 0.5)))
    assert(byId(2L) == ((2L, 1L, 0.5)))
    assert(byId(3L) == ((1L, 0L, 0.0)))
    // within-doc repetition alone is NOT duplication (cross-doc df < 2)
    assert(byId(5L) == ((2L, 0L, 0.0)))
  }

  test("train split is deterministic and ~80/10/10") {
    val a = graft.jobs.DedupJobs.trainSplit(spark, sf("sf0.001"))
      .orderBy($"lang", $"split").collect().toSeq
    val b = graft.jobs.DedupJobs.trainSplit(spark, sf("sf0.001"))
      .orderBy($"lang", $"split").collect().toSeq
    assert(a == b) // hash-based: identical across runs
    val totals = graft.jobs.DedupJobs.trainSplit(spark, sf("sf0.001"))
      .groupBy($"split").agg(sum($"n_docs").as("n"))
      .as[(String, Long)].collect().toMap
    val n = totals.values.sum.toDouble
    assert(totals("train") / n > 0.7 && totals("train") / n < 0.9)
  }

  test("driver-scale minhash stays selective") {
    val out = DedupJobs.dedupMinhashLsh(spark, sf("sf0.001")).count()
    // strict 4-row bands: candidates ≪ all pairs (124,750 at 500 docs)
    assert(out < 1000)
  }

  test("substring dedup clean removes cross-doc windows, keeps the rest") {
    val d = Seq(
      (1L, "a b c d e f"),          // shares window "a b c d e" with doc 2
      (2L, "z a b c d e y"),
      (3L, "short doc"))            // < 5 tokens: passes through verbatim
      .toDF("doc_id", "text")
    val out = Dedup.substringDedupClean(d, 5).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("n_removed"),
          r.getAs[String]("clean_text"))).toMap
    // doc 1: positions 0-4 covered by the shared window start at 0; "f" kept
    assert(out(1L) == ((6L, 5L, "f")))
    // doc 2: the shared window starts at 1 → positions 1-5; "z y" kept
    assert(out(2L) == ((7L, 5L, "z y")))
    // doc 3 has no windows — emitted whole
    assert(out(3L) == ((2L, 0L, "short doc")))
    // a fully-removed doc reassembles to '' (matches the oracle's COALESCE)
    val all = Seq((1L, "p q r s t"), (2L, "p q r s t"))
      .toDF("doc_id", "text")
    val cleaned = Dedup.substringDedupClean(all, 5).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("clean_text")).toMap
    assert(cleaned(1L) == "" && cleaned(2L) == "")
  }

  test("repetition clean trims later in-doc occurrences, keeps cross-doc alone") {
    val d = Seq(
      (1L, "x y z q x y z w"),   // "x y z" repeats at 0 and 4 → drop 4-6
      (2L, "x y z unrelated"),   // cross-doc repeat of "x y z": NOT removed
      (3L, "a a a a"))           // overlapping self-repeat at w=2
      .toDF("doc_id", "text")
    val out = Dedup.repetitionClean(d, 3).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("n_removed"),
          r.getAs[String]("clean_text"))).toMap
    assert(out(1L) == ((8L, 3L, "x y z q w")))
    assert(out(2L) == ((4L, 0L, "x y z unrelated")))
    // w=3 windows of doc 3: "a a a" at 0 and 1 → the later one covers
    // positions 1-3 → only the first token survives
    assert(out(3L) == ((4L, 3L, "a")))
    // the overlapping-run contract at w=2: windows at 0..2, first kept,
    // repeats at 1 and 2 cover positions 1-3 → "a"
    val run = Dedup.repetitionClean(
      Seq((9L, "a a a a")).toDF("doc_id", "text"), 2).collect()
    assert(run.head.getAs[String]("clean_text") == "a" &&
      run.head.getAs[Long]("n_removed") == 3L)
  }

  test("containment pairs: subset relationships score ~1e6 one-way") {
    // B contains A verbatim plus extra text: every bigram of A is in B,
    // so cont(A→B) = 1e6 while the Jaccard stays below the pair gate;
    // C shares nothing
    val docs = Seq(
      (1L, "alpha beta gamma delta", "en"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa", "en"),
      (3L, "one two three four five six", "en"),
      (4L, "one two three four five six", "fr")) // other block: fenced out
      .toDF("doc_id", "text", "block")
    val got = Dedup.containmentPairs(docs, 2, 500000L)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getLong(2), r.getLong(3))).toSeq
    // A has 3 bigrams, all inside B's 9 → (1e6·3) div 3 / (1e6·3) div 9
    assert(got == Seq((1L, 2L, 1000000L, 333333L)))
    // and the symmetric Jaccard on the same frame misses the pair at the
    // same 0.5 operating point: 3/(3+9-3) = 1/3
    val jacc = Dedup.jaccardPairs(docs, 2, 0.5).collect()
    assert(jacc.isEmpty)
  }

  test("overlap kernel: candidate and self-join forms agree; thresholds inclusive") {
    // hand-built distinct (doc_id, block, gh) sets: 1={1,2,3,4} 2={2,3,4,5}
    // 3={1,9} in block 0; 4={1,2,3,4} 5={1,2} in block 1
    val g = Seq(1L -> Seq(1L, 2L, 3L, 4L), 2L -> Seq(2L, 3L, 4L, 5L),
        3L -> Seq(1L, 9L), 4L -> Seq(1L, 2L, 3L, 4L), 5L -> Seq(1L, 2L))
      .flatMap { case (d, hs) => hs.map(h => (d, if (d <= 3) 0 else 1, h)) }
      .toDF("doc_id", "block", "gh")
    val sizes = Dedup.setSizes(g)
    def rows(inter: org.apache.spark.sql.DataFrame) =
      Dedup.withSetSizes(inter, sizes)
        .select($"doc_a", $"doc_b", $"inter", $"na", $"nb")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSet
    // every in-block pair as a candidate; (2, 3) shares nothing, and the
    // cross-block twins 1 and 4 are never a pair
    val cand = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L)).toDF("doc_a", "doc_b")
    val selfJoin = rows(Dedup.blockOverlaps(g))
    assert(selfJoin == Set((1L, 2L, 3L, 4L, 4L), (1L, 3L, 1L, 4L, 2L),
      (4L, 5L, 2L, 4L, 2L)))
    assert(rows(Dedup.candidateOverlaps(cand, g)) == selfJoin)
    // jaccard: (1,2) 3/5, (1,3) 1/5, (4,5) 2/4 — a score equal to the
    // threshold is kept
    val inter = Dedup.blockOverlaps(g)
    def jaccard(t: Double) = Dedup.jaccardScored(inter, sizes, t)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(jaccard(0.5) == Set((1L, 2L), (4L, 5L)))
    assert(jaccard(0.6) == Set((1L, 2L)))
    assert(jaccard(0.6 + 1e-9).isEmpty)
    // containment ppm max(ab, ba): (1,2) 750000, (1,3) 500000, (4,5) 1e6
    def contained(ppm: Long) = Dedup.containmentScored(inter, sizes, ppm)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(contained(500000L) == Set((1L, 2L), (1L, 3L), (4L, 5L)))
    assert(contained(750000L) == Set((1L, 2L), (4L, 5L)))
    assert(contained(1000000L) == Set((4L, 5L)))
    assert(contained(1000001L).isEmpty)
  }

  test("sorted_neighborhood equals a brute-force replay of rank+window+jaccard") {
    val dir = sf("sf0.001")
    val got = DedupJobs.sortedNeighborhood(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        math.rint(r.getDouble(3) * 1e6) / 1e6)).toSet
    val docs = graft.io.Tables.documents(spark, dir)
      .select($"doc_id", $"lang", $"text")
      .as[(Long, String, String)].collect()
    // Spark's trim strips spaces only (Scala's also strips tabs and
    // newlines), and its split keeps a trailing empty word
    def trimSpaces(s: String) = s.replaceAll("^ +| +$", "")
    // reference: global (lang, 40-char normalized prefix, doc_id) order
    val ranked = docs.sortBy { case (id, lang, text) =>
      (lang, trimSpaces(text).toLowerCase.replaceAll("\\s+", " ").take(40), id)
    }
    val cand = (for {
      i <- ranked.indices; j <- (i + 1) to math.min(i + 5, ranked.length - 1)
      if ranked(i)._2 == ranked(j)._2
    } yield (math.min(ranked(i)._1, ranked(j)._1),
      math.max(ranked(i)._1, ranked(j)._1))).toSet
    val grams = docs.map { case (id, _, text) =>
      id -> trimSpaces(text).split("\\s+", -1).toSeq.sliding(2)
        .filter(_.size == 2)
        .map(_.mkString(" ")).toSet
    }.toMap
    val expect = cand.flatMap { case (a, b) =>
      val inter = (grams(a) & grams(b)).size
      val j = inter.toDouble / (grams(a).size + grams(b).size - inter)
      if (j >= 0.35) Some((a, b, inter.toLong, math.rint(j * 1e6) / 1e6))
      else None
    }
    assert(got == expect && got.nonEmpty)
  }

  test("curation pipeline: per-source funnel monotone, totals consistent") {
    val out = DedupJobs.curationPipeline(spark, sf("sf0.001"))
      .select($"source", $"docs_in", $"docs_deduped", $"tokens_removed",
        $"docs_kept", $"tokens_kept")
      .as[(String, Long, Long, Long, Long, Long)].collect()
    assert(out.nonEmpty)
    out.foreach { case (src, in, dd, rm, kept, tok) =>
      assert(in >= dd && dd >= kept, s"funnel not monotone for $src")
      assert(rm >= 0 && tok >= 0)
    }
    // deduped total equals the exact-dedup keeper count
    val keepers = Dedup.exact(
      graft.io.Tables.documents(spark, sf("sf0.001")), $"doc_id", $"text")
      .count()
    assert(out.map(_._3).sum == keepers)
    // docs_in totals cover the corpus
    assert(out.map(_._2).sum == 500L)
  }

  test("dedup_eval arithmetic matches a set-algebra re-derivation") {
    import graft.jobs.DedupJobs
    val sfd = sf("sf0.001")
    val truth = DedupJobs.ngramJaccard(spark, sfd)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    val cand = DedupJobs.dedupMinhashLsh(spark, sfd)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    val tp = (truth & cand).size.toLong
    val expected = (truth.size.toLong, cand.size.toLong, tp,
      if (truth.isEmpty) 0L else tp * 1000000L / truth.size,
      if (cand.isEmpty) 0L else tp * 1000000L / cand.size)
    val got = DedupJobs.dedupEval(spark, sfd)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(expected))
    // the fixture must actually exercise both sides of the confusion
    // matrix: some true pairs, and a candidate set the bands generated
    assert(truth.nonEmpty && cand.nonEmpty && tp > 0)
    assert(got.head._4 >= 0 && got.head._4 <= 1000000L)
    assert(got.head._5 >= 0 && got.head._5 <= 1000000L)
  }

  test("simhash_eval: scorecard matches a brute-force re-derivation; 60 bits discriminate") {
    import graft.jobs.DedupJobs
    val sfd = sf("sf0.001")
    val fps = Dedup.simhashWide(graft.io.Tables.documents(spark, sfd),
        $"doc_id", $"text", 60)
      .as[(Long, Long)].collect()
    // brute-force pairs within Hamming 3 (the eval's operating point)
    val brute = (for {
      (a, fa) <- fps; (b, fb) <- fps if a < b
      if java.lang.Long.bitCount(fa ^ fb) <= 3
    } yield (a, b)).toSet
    val truth = DedupJobs.ngramJaccard(spark, sfd)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    val tp = (truth & brute).size.toLong
    val expected = (truth.size.toLong, brute.size.toLong, tp,
      if (truth.isEmpty) 0L else tp * 1000000L / truth.size,
      if (brute.isEmpty) 0L else tp * 1000000L / brute.size)
    val got = DedupJobs.simhashEval(spark, sfd)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(expected)) // banded fence == brute force (lossless)
    assert(truth.nonEmpty && brute.nonEmpty && tp > 0,
      "fixture must exercise both confusion-matrix sides")
    // the width-audit story: 60-bit fps discriminate where 16 bits
    // saturate (probed r12: 496/500 vs 269/500 distinct at sf0.001)
    val distinct60 = fps.map(_._2).distinct.length
    val distinct16 = Dedup.simhash(graft.io.Tables.documents(spark, sfd),
        $"doc_id", $"text", 16)
      .select($"simhash").as[Long].collect().distinct.length
    assert(distinct60 > distinct16 * 3 / 2)
  }

  test("simhash rejects widths beyond its 32-bit word hash") {
    intercept[IllegalArgumentException] {
      Dedup.simhash(docs, $"doc_id", $"text", 60)
    }
    intercept[IllegalArgumentException] {
      Dedup.simhashWide(docs, $"doc_id", $"text", 61)
    }
  }

  test("soft_dedup: weights invert near-dup family sizes, sampling hash-exact") {
    import graft.jobs.DedupJobs
    val sfd = sf("sf0.001")
    val out = DedupJobs.softDedup(spark, sfd).collect()
    val docs = graft.io.Tables.documents(spark, sfd).count()
    assert(out.length == docs, "one row per document")
    // family sizes agree with an independent dedup_clusters recount
    val famSizes = DedupJobs.dedupClusters(spark, sfd)
      .groupBy($"cluster").count().select($"count").as[Long].collect()
    assert(out.map(_.getAs[Long]("csize")).sum ==
      famSizes.map(n => n * n).sum, "Σ per-doc csize = Σ n²")
    out.foreach { r =>
      val n = r.getAs[Long]("csize")
      assert(r.getAs[Long]("weight_ppm") == 1000000L / n)
      assert(Set(0L, 1L).contains(r.getAs[Long]("kept")))
    }
    // total retained mass ≈ family count: an n-doc family carries
    // n·floor(1e6/n) ∈ [1e6−(n−1), 1e6] ppm
    val mass = out.map(_.getAs[Long]("weight_ppm")).sum
    val families = famSizes.length * 1000000L
    assert(mass <= families && mass >= families - (docs - famSizes.length),
      s"mass=$mass families=${famSizes.length}")
    // the fixture must exercise a real near-dup family, and singletons
    // are always kept (x mod 1 = 0)
    assert(out.exists(_.getAs[Long]("csize") > 1L))
    assert(out.filter(_.getAs[Long]("csize") == 1L)
      .forall(_.getAs[Long]("kept") == 1L))
  }

  test("dedup_cluster_sizes: histogram re-derives, covers the corpus once") {
    import graft.jobs.DedupJobs
    val sfd = sf("sf0.001")
    val fam = DedupJobs.dedupClusters(spark, sfd)
      .groupBy($"cluster").count().select($"count").as[Long].collect()
    val expected = fam.groupBy(identity).map { case (s, o) =>
      s -> (o.size.toLong, s * o.size,
        s * o.size * 1000000L / fam.sum)
    }
    val got = DedupJobs.dedupClusterSizes(spark, sfd).collect()
      .map(r => r.getAs[Long]("csize") ->
        (r.getAs[Long]("n_families"), r.getAs[Long]("n_docs"),
          r.getAs[Long]("docs_share_ppm"))).toMap
    assert(got == expected)
    assert(got.map(_._2._2).sum ==
      graft.io.Tables.documents(spark, sfd).count())
    assert(got.keySet.exists(_ > 1L), "a real family size in the histogram")
  }

  test("corpus_summary: one-row card re-derives from a full collect") {
    import graft.jobs.DedupJobs
    import graft.ops.TextAnalysis
    val sfd = sf("sf0.001")
    val rows = graft.io.Tables.documents(spark, sfd)
      .select($"n_chars", $"lang", $"source",
        TextAnalysis.tokenCount($"text").as("t"),
        TextAnalysis.fingerprint($"text").as("fp"),
        TextAnalysis.qualityScore(TextAnalysis.tokenCount($"text"),
          TextAnalysis.stopwordCount($"text")).as("q"))
      .as[(Long, String, String, Long, String, Double)].collect()
    val n = rows.length.toLong
    val distinct = rows.map(_._5).distinct.length.toLong
    val qSum = rows.map(r => math.round(r._6 * 10000)).sum
    val got = DedupJobs.corpusSummary(spark, sfd).collect()
    assert(got.length == 1)
    val r = got.head
    assert(r.getAs[Long]("n_docs") == n)
    assert(r.getAs[Long]("n_chars") == rows.map(_._1).sum)
    assert(r.getAs[Long]("n_tokens") == rows.map(_._4).sum)
    assert(r.getAs[Long]("n_langs") == rows.map(_._2).distinct.length.toLong)
    assert(r.getAs[Long]("n_sources") == rows.map(_._3).distinct.length.toLong)
    assert(r.getAs[Long]("n_distinct_contents") == distinct)
    assert(r.getAs[Long]("exact_dup_ppm") == (n - distinct) * 1000000L / n)
    assert(r.getAs[Long]("mean_quality_e4") == qSum / n)
  }

  test("source_caps_quality keeps the top-quality docs per cell") {
    import graft.jobs.DedupJobs
    import graft.ops.TextAnalysis
    val sfd = sf("sf0.001")
    val docs = graft.io.Tables.documents(spark, sfd)
      .select($"source", $"lang", $"doc_id",
        TextAnalysis.qualityScore(TextAnalysis.tokenCount($"text"),
          TextAnalysis.stopwordCount($"text")).as("q"))
      .as[(String, String, Long, Double)].collect()
    val expected = docs.groupBy(d => (d._1, d._2)).toSeq.flatMap {
      case (cell, ds) =>
        ds.sortBy(d => (-d._4, d._3)).take(3).zipWithIndex
          .map { case (d, i) => (cell._1, cell._2, d._3) -> (d._4, i + 1L) }
    }.toMap
    val got = DedupJobs.sourceCapsQuality(spark, sfd).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[String]("lang"),
        r.getAs[Long]("doc_id")) ->
        (r.getAs[Double]("quality"), r.getAs[Long]("rn"))).toMap
    assert(got == expected)
    // the cap must bind somewhere (a cell with > 3 docs exists)
    assert(docs.groupBy(d => (d._1, d._2)).exists(_._2.length > 3))
  }

  test("importance_resample: integer Bernoulli keep set re-derives exactly") {
    import graft.jobs.DedupJobs
    import graft.ops.TextAnalysis
    val sfd = sf("sf0.001")
    val docs = graft.io.Tables.documents(spark, sfd)
      .select($"doc_id", $"source",
        TextAnalysis.qualityScore(TextAnalysis.tokenCount($"text"),
          TextAnalysis.stopwordCount($"text")).as("q"))
      .as[(Long, String, Double)].collect()
    def md5Head(s: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 8), 16)
    }
    val expected = docs.flatMap { case (id, src, q) =>
      val qPpm = math.round(q * 1000000.0)
      val pPpm = math.min(1000000L, qPpm * 3L / 2L)
      val uPpm = md5Head(s"rs|$id") % 1000000L
      if (uPpm < pPpm) Some(id -> (src, q, pPpm, uPpm)) else None
    }.toMap
    val got = DedupJobs.importanceResample(spark, sfd).collect().map { r =>
      r.getAs[Long]("doc_id") -> (r.getAs[String]("source"),
        r.getAs[Double]("quality"), r.getAs[Long]("p_ppm"),
        r.getAs[Long]("u_ppm"))
    }.toMap
    assert(got == expected)
    // the filter must bind BOTH ways: some docs dropped, some kept, and
    // some kept docs must owe their survival to p < 1 (u_ppm below a
    // non-saturated p_ppm) — otherwise the weighting is vacuous
    assert(got.nonEmpty && got.size < docs.length)
    assert(got.values.exists(v => v._3 < 1000000L))
  }

  test("split_balance: zero-filled grid, shares and drift re-derive") {
    import graft.jobs.DedupJobs
    val sfd = sf("sf0.001")
    val out = DedupJobs.splitBalance(spark, sfd).collect()
    val buckets = out.map(_.getAs[Long]("bucket")).distinct
    assert(out.length == 3 * buckets.length, "train/val/test × buckets grid")
    val n = graft.io.Tables.documents(spark, sfd).count()
    out.foreach { r =>
      val (o, ns, tb) = (r.getAs[Long]("n_docs"), r.getAs[Long]("split_docs"),
        r.getAs[Long]("bucket_docs"))
      val inS = o * 1000000L / ns
      val ov = tb * 1000000L / n
      assert(r.getAs[Long]("share_in_split_ppm") == inS)
      assert(r.getAs[Long]("share_overall_ppm") == ov)
      assert(r.getAs[Long]("drift_ppm") == math.abs(inS - ov))
    }
    // grid totals reconstruct the corpus exactly once per split set
    assert(out.map(_.getAs[Long]("n_docs")).sum == n)
    // a hash split on 500 docs is balanced but not perfect — some drift
    assert(out.exists(_.getAs[Long]("drift_ppm") > 0))
  }

  test("dedup_best_keeper: argmax-quality keeper per family, exact") {
    import graft.jobs.DedupJobs
    import graft.ops.TextAnalysis
    val sfd = sf("sf0.001")
    val labels = DedupJobs.dedupClusters(spark, sfd)
      .as[(Long, Long)].collect()
    val quality = graft.io.Tables.documents(spark, sfd)
      .select($"doc_id",
        TextAnalysis.qualityScore(TextAnalysis.tokenCount($"text"),
          TextAnalysis.stopwordCount($"text")).as("q"))
      .as[(Long, Double)].collect().toMap
    val expected = labels.groupBy(_._2).map { case (cluster, members) =>
      val best = members.map(_._1).minBy(id => (-quality(id), id))
      cluster -> (best, quality(best), members.length.toLong)
    }
    val got = DedupJobs.dedupBestKeeper(spark, sfd).collect()
      .map(r => r.getAs[Long]("cluster") ->
        (r.getAs[Long]("keeper"), r.getAs[Double]("best_quality"),
          r.getAs[Long]("n_members"))).toMap
    assert(got == expected)
    // a real multi-member family must be exercised, and at least one
    // family's keeper must differ from min(doc_id) (else the quality rank
    // is dead code on this fixture)
    assert(expected.values.exists(_._3 > 1L))
    assert(expected.exists { case (cluster, (keeper, _, n)) =>
      n > 1L && keeper != cluster
    }, "quality rank never overrode the min-id keeper")
  }

  test("cross_source_dups: pair counts and rates from a re-derivation") {
    import graft.jobs.DedupJobs
    val sfd = sf("sf0.001")
    val srcOf = graft.io.Tables.documents(spark, sfd)
      .select($"doc_id", $"source").as[(Long, String)].collect().toMap
    val pairs = DedupJobs.ngramJaccard(spark, sfd)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect()
    val nBySrc = srcOf.values.groupBy(identity).map { case (s, o) => s -> o.size.toLong }
    val expected = pairs
      .map { case (a, b) =>
        val (sa, sb) = (srcOf(a), srcOf(b))
        (if (sa <= sb) sa else sb, if (sa <= sb) sb else sa)
      }
      .groupBy(identity).map { case ((sa, sb), o) =>
        val (na, nb) = (nBySrc(sa), nBySrc(sb))
        val rate = if (sa == sb) o.size * 2000000L / (na * (na - 1))
                   else o.size * 1000000L / (na * nb)
        (sa, sb) -> (o.size.toLong, na, nb, rate)
      }
    val got = DedupJobs.crossSourceDups(spark, sfd).collect()
      .map(r => (r.getAs[String]("source_a"), r.getAs[String]("source_b")) ->
        (r.getAs[Long]("n_pairs"), r.getAs[Long]("docs_a"),
          r.getAs[Long]("docs_b"), r.getAs[Long]("rate_ppm"))).toMap
    assert(got == expected)
    assert(got.nonEmpty, "fixture yields near-dup pairs")
  }

  test("cross_modal_clusters: union closure of text + image evidence, genuinely coarser") {
    val sfd = sf("sf0.001")
    def pairsOf(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
      df.select("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val text = pairsOf(DedupJobs.pipeline(spark, sfd).candidates)
    val img = pairsOf(graft.jobs.MultimodalJobs.imageNeardup(spark, sfd))
    val docs = graft.io.Tables.documents(spark, sfd)
      .select("doc_id").collect().map(_.getLong(0))
    // local union-find truth over the unioned pair graphs
    def closure(edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = scala.collection.mutable.Map(docs.toSeq.map(d => d -> d): _*)
      def find(x: Long): Long = {
        var r = x
        while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
        r
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      docs.map(d => d -> find(d)).toMap
    }
    val expected = closure(text ++ img)
    val got = DedupJobs.crossModalClusters(spark, sfd).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected)
    // the merge must be REAL: coarser than the text-only closure AND the
    // image-only closure (some cluster unions evidence across modalities)
    val textOnly = closure(text)
    val imgOnly = closure(img)
    assert(got != textOnly && got != imgOnly,
      "union closure degenerate — merges no cross-modal evidence")
    assert(docs.exists(d => got(d) != textOnly(d)) &&
      docs.exists(d => got(d) != imgOnly(d)))
  }
}
