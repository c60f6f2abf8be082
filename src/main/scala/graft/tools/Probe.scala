package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import Harness.median

/** Scaling probes (SCALE.md §8) — committed so every number in SCALE.md is
  * repeatable. Three corpus shapes, selected by `SPARK_GRAFT_PROBE_MODE`
  * (`dup` | `distinct` | `zipf` | `all`, default `all`):
  *
  *  - **dup**: the documents/embeddings tables replicated `copies`× with
  *    fresh ids and IDENTICAL content — the exact-duplicate mass a crawl
  *    presents. A query whose cost tracks true duplicate mass stays
  *    ~linear; anything inheriting the dup² join blows up here.
  *  - **distinct**: replicated `copies`× with PERTURBED content (one word
  *    substituted per copy; one embedding component nudged per copy), so
  *    identity compression cannot collapse the copies. This isolates the
  *    residual quadratic zone — common grams / near-identical vectors
  *    across DISTINCT contents — that the dup probe (by design) no longer
  *    exercises.
  *  - **zipf**: a generated Zipf(1)-vocabulary corpus (the token
  *    distribution of real crawl text, which the synthetic table's tiny
  *    dense vocabulary inverts) at two sizes, timing the three exact-
  *    Jaccard plans against each other: plain identity-compressed
  *    ([[graft.ops.Dedup.jaccardPairs]]), prefix-filtered
  *    ([[graft.ops.Dedup.jaccardPairsPrefix]]), and the composed fence
  *    ([[graft.ops.Dedup.jaccardPairsComposed]]) — the measured crossover
  *    that justifies which plan each corpus shape should register.
  *
  * Usage: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt "runMain graft.tools.Probe"
  */
object Probe {
  private val DupQueries = Seq(
    "dedup_exact", "dedup_simhash", "dedup_minhash_lsh", "dedup_clusters",
    "decontamination", "ngram_jaccard", "text_repetition", "doc_chunks",
    "substring_dup_rate", "substring_dedup_clean", "semantic_dedup",
    // round 6: trainer cost must track VOCAB (flat under dup mass), the
    // scoring/contamination cascades must stay linear
    "bpe_merges", "bpe_encode", "lm_surprise", "ngram_contamination",
    "source_caps",
    // round 9: chunk-dedup accounting must stay linear under copies (the
    // first-writer rank is a hash-keyed window, never a pair join) and
    // the cluster-rooted split rides the same banded candidate graph
    "cdc_chunks", "split_leakage_safe")

  /** The residual-zone suspects: pairwise joins whose fences rely on
    * collapsing identical content, plus the aggregation-only cascade that
    * should be shape-immune either way.
    */
  private val DistinctQueries = Seq(
    "ngram_jaccard", "ngram_jaccard_prefix", "substring_dup_rate",
    "substring_dedup_clean", "semantic_dedup")

  /** Round 7/8 served-ANN stack: corpus 4× at FIXED query load. The
    * perturbed replicas are distinct-but-near vectors, so cell occupancy
    * genuinely quadruples; the claim under test is that the linear stages
    * (cell assign, code scan) scale ~4× while the shortlist-bounded
    * re-rank and the per-query candidate joins never go quadratic.
    */
  private val AnnQueries = Seq(
    "ann_ivf_pq", "ann_ivf_pq_rerank", "ann_ivf_pq_from_artifact",
    "hard_negatives")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val copies = sys.env.getOrElse("SPARK_GRAFT_PROBE_COPIES", "4").toInt
    val mode = sys.env.getOrElse("SPARK_GRAFT_PROBE_MODE", "all")
    val spark = Harness.session(Harness.cores, Harness.TimedPlanChars)
    Harness.warm(spark)
    def time(thunk: => Long): Double = Harness.timed(spark)(thunk)
    def timeQuery(name: String, dir: String): Double =
      time(graft.SparkEntry.queries(name)(spark, dir).count())

    def replicate(perturb: Boolean): String = {
      val tag = if (perturb) "distinct" else "dup"
      val dir = s"/tmp/graft_probe_${tag}_${copies}x"
      val base = spark.read.parquet(s"$sfDir/documents.parquet")
      (0 until copies).map { k =>
          val fresh = base.withColumn("doc_id", col("doc_id") + lit(k * 10000000L))
          // one word substituted per copy: normalized contents are all
          // DISTINCT, but bigram overlap stays near-total, so every copy
          // group is still a near-dup cluster the pair joins must resolve
          if (perturb && k > 0)
            fresh.withColumn("text",
              regexp_replace(col("text"), "^\\S+", s"probeword$k"))
          else fresh
        }
        .reduce(_ unionAll _)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val eBase = spark.read.parquet(s"$sfDir/embeddings.parquet")
      (0 until copies).map { k =>
          val fresh = eBase.withColumn("vec_id", col("vec_id") + lit(k * 10000000L))
          // nudge one component per copy: vectors distinct (identity
          // compression can't collapse them) yet cosine ≈ 1 — still inside
          // the near-dup threshold, so the within-cell join sees the mass
          if (perturb && k > 0)
            fresh.withColumn("embedding",
              transform(col("embedding"), (x, i) =>
                when(i === lit(0), x + lit(k * 1e-3f)).otherwise(x)))
          else fresh
        }
        .reduce(_ unionAll _)
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      dir
    }

    // optional comma-separated restriction, e.g.
    // SPARK_GRAFT_PROBE_QUERIES=bpe_merges,lm_surprise
    val only = sys.env.get("SPARK_GRAFT_PROBE_QUERIES")
      .map(_.split(",").map(_.trim).toSet)

    def runRegistry(label: String, queries0: Seq[String], probeDir: String): Unit = {
      val queries = only.fold(queries0)(s => queries0.filter(s))
      println(s"== $label (${copies}x, vs $sfDir) ==")
      println(f"${"query"}%-22s ${"base"}%8s ${s"${copies}x"}%8s  ratio")
      queries.foreach { q =>
        val b = median((1 to 3).map(_ => timeQuery(q, sfDir)))
        val p = median((1 to 3).map(_ => timeQuery(q, probeDir)))
        println(f"$q%-22s $b%8.2f $p%8.2f  ${p / b}%.1fx")
      }
    }

    /** Zipf(1) corpus: `nDocs` base documents of `wordsPerDoc` tokens drawn
      * from a `vocab`-word vocabulary by inverse-CDF sampling
      * (P(rank ≤ k) ≈ ln k / ln V ⇒ rank = V^u), plus one perturbed
      * near-dup copy for half the documents — the head-heavy token law and
      * near-dup structure of real crawl text. Deterministic (hash-seeded).
      */
    def zipfCorpus(nDocs: Int, vocab: Int, wordsPerDoc: Int): String = {
      val dir = s"/tmp/graft_probe_zipf_$nDocs"
      val u = (pmod(hash(col("doc_id") * lit(131071) + col("i")), lit(1048576))
        .cast("double") + 0.5) / 1048576.0
      val word = concat(lit("w"),
        floor(pow(lit(vocab.toDouble), u)).cast("long"))
      val base = spark.range(nDocs).select(col("id").as("doc_id"))
        .select(col("doc_id"),
          explode(sequence(lit(0), lit(wordsPerDoc - 1))).as("i"))
        .select(col("doc_id"), col("i"), word.as("w"))
        .groupBy(col("doc_id"))
        .agg(concat_ws(" ", array_sort(collect_list(struct(col("i"), col("w"))))
          .getField("w")).as("text"))
      val nearDups = base.filter(col("doc_id") % 2 === 0)
        .select((col("doc_id") + lit(10000000L)).as("doc_id"),
          regexp_replace(col("text"), "^\\S+", "dupmark").as("text"))
      base.unionAll(nearDups)
        .select(col("doc_id"), lit("zz").as("block"), col("text"))
        .write.mode("overwrite").parquet(dir)
      dir
    }

    def runZipf(nDocs: Int, vocab: Int, wordsPerDoc: Int): Unit = {
      import graft.ops.Dedup
      val dir = zipfCorpus(nDocs, vocab, wordsPerDoc)
      val d = () => spark.read.parquet(dir)
      val plans: Seq[(String, () => Long)] = Seq(
        "plain_compressed" ->
          (() => Dedup.jaccardPairs(d(), 2, 0.35).count()),
        "prefix_only" ->
          (() => Dedup.jaccardPairsPrefix(d(), 2, 7, 20).count()),
        "composed" ->
          (() => Dedup.jaccardPairsComposed(d(), 2, 7, 20).count()))
      println(s"== zipf corpus: $nDocs base docs (+${nDocs / 2} near-dups), " +
        s"vocab $vocab, $wordsPerDoc w/doc ==")
      plans.foreach { case (name, thunk) =>
        val t = median((1 to 3).map(_ => time(thunk())))
        println(f"$name%-22s $t%8.2f s")
      }
    }

    /** §8e: the image/audio perceptual-dedup stack under a replicated
      * corpus. The asset fixtures derive ENTIRELY from doc_id, so fresh
      * ids (the +k·10M offset) synthesize genuinely new payloads with new
      * fingerprint families — distinct-fingerprint count multiplies with
      * the corpus, the adversarial case for the band join. The claim
      * under test: decode (linear narrow scan) dominates and banded
      * candidate mass stays near-linear, so wall time scales ~copies,
      * never copies².
      */
    val ImageQueries = Seq(
      "image_neardup", "image_clusters", "image_curation",
      "audio_neardup", "audio_clusters", "audio_curation",
      "video_neardup", "video_clusters", "video_curation",
      "thumbnail_match")

    /** Regime-crossover probe for [[graft.ops.Dedup.connectedComponents]]:
      * time the single-task union-find path (singleTaskBytes=MaxValue)
      * against the distributed min-label/star path (limit=0) on synthetic
      * graphs ABOVE and below the 1M-edge default, in the two shapes that
      * bracket real dup graphs: `star` (groups of 8, the shallow
      * many-small-components shape near-dup pairs actually produce) and
      * `er` (Erdős–Rényi at mean degree 4 — one giant low-diameter
      * component, the propagation-friendly worst case for union-find's
      * single task).
      */
    def runCc(): Unit = {
      import graft.ops.Dedup
      println("== connected-components regime crossover (synthetic) ==")
      println(f"${"shape"}%-6s ${"edges"}%10s ${"union-find"}%11s ${"distributed"}%12s")
      def graph(shape: String, m: Long): (DataFrame, DataFrame) = shape match {
        case "star" =>
          val groups = m / 7 + 1
          val n = groups * 8
          val p = spark.range(m).select(
            ((col("id") / 7) * 8).as("doc_a"),
            ((col("id") / 7) * 8 + col("id") % 7 + 1).as("doc_b"))
          (spark.range(n).select(col("id").as("doc_id")), p)
        case "er" =>
          val n = m / 2
          val p = spark.range(m).select(
            pmod(hash((col("id") * 2654435761L).cast("long")), lit(n))
              .cast("long").as("doc_a"),
            pmod(hash((col("id") * 40503L + 7L).cast("long")), lit(n))
              .cast("long").as("doc_b"))
            .filter(col("doc_a") =!= col("doc_b"))
          (spark.range(n).select(col("id").as("doc_id")), p)
      }
      val shapes = sys.env.getOrElse("SPARK_GRAFT_PROBE_CC_SHAPES", "star,er")
        .split(",").map(_.trim).toSeq
      val sizes = sys.env.getOrElse("SPARK_GRAFT_PROBE_CC_SIZES",
        "250000,1000000,4000000,16000000").split(",").map(_.trim.toLong).toSeq
      for (shape <- shapes; m <- sizes) {
        val (v, p) = graph(shape, m)
        val uf = median((1 to 3).map(_ => time(Dedup.connectedComponents(
          v, p, singleTaskBytes = Long.MaxValue).count())))
        val dist = median((1 to 3).map(_ => time(Dedup.connectedComponents(
          v, p, singleTaskBytes = 0L).count())))
        println(f"$shape%-6s $m%10d $uf%11.2f $dist%12.2f")
      }
    }

    /** §8g: the link-analysis stack under a replicated event log. Fresh
      * user ids per copy (the item catalog stays fixed, as in production)
      * make the interaction graph genuinely grow ~copies× in edges; the
      * claim under test is that the one-shuffle edge aggregation is the
      * only corpus-proportional stage — the fixpoint runs over the edge
      * aggregate, so wall time scales with the LOG, sublinearly once the
      * scan dominates. Also times the two [[graft.ops.Graph.pageRank]]
      * regimes on synthetic bipartite graphs bracketing the 4M limit,
      * the §8f crossover story for the power-iteration family.
      */
    def runGraph(): Unit = {
      import graft.ops.Graph
      val dir = s"/tmp/graft_probe_graph_${copies}x"
      val base = graft.io.Tables.events(spark, sfDir)
      (0 until copies).map(k =>
          base.withColumn("user_id", col("user_id") + lit(k * 10000000L)))
        .reduce(_ unionAll _)
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      println(s"== item_pagerank under replicated events (${copies}x) ==")
      val b = median((1 to 3).map(_ => timeQuery("item_pagerank", sfDir)))
      val p = median((1 to 3).map(_ => timeQuery("item_pagerank", dir)))
      println(f"item_pagerank          $b%8.2f $p%8.2f  ${p / b}%.1fx")
      // round 11: the lift-thresholded metrics. Fresh user namespaces
      // scale co, na, nb, and U together, so the lift RATIO — and with it
      // the edge set — is copy-invariant: the probe isolates the
      // corpus-proportional stages (event scan + capped per-user pair
      // join) from the fixpoint/wedge cost, which must stay flat.
      for (q <- Seq("item_triangles", "item_kcore")) {
        val qb = median((1 to 3).map(_ => timeQuery(q, sfDir)))
        val qp = median((1 to 3).map(_ => timeQuery(q, dir)))
        println(f"$q%-22s $qb%8.2f $qp%8.2f  ${qp / qb}%.1fx")
      }
      println("== pageRank regime crossover (synthetic bipartite) ==")
      println(f"${"edges"}%10s ${"single-task"}%12s ${"distributed"}%12s")
      val sizes = sys.env.getOrElse("SPARK_GRAFT_PROBE_PR_SIZES",
        "1000000,4000000,16000000").split(",").map(_.trim.toLong).toSeq
      for (m <- sizes) {
        val nu = m / 4
        val e0 = spark.range(m).select(
          (pmod(hash((col("id") * 2654435761L).cast("long")), lit(nu))
            .cast("long") * 2).as("src"),
          (pmod(hash((col("id") * 40503L + 7L).cast("long")), lit(1000))
            .cast("long") * 2 + 1).as("dst"))
        val sym = e0.unionAll(e0.select(col("dst").as("src"), col("src").as("dst")))
        val one = median((1 to 3).map(_ => time(Graph.pageRank(
          sym, iters = 10, singleTaskBytes = Long.MaxValue).count())))
        val dist = median((1 to 3).map(_ => time(Graph.pageRank(
          sym, iters = 10, singleTaskBytes = 0L).count())))
        println(f"$m%10d $one%12.2f $dist%12.2f")
      }
    }

    /** §8e addendum: the Hamming band-plan crossover, isolated from the
      * codec. One decode pass per scale lands (doc_id, fp) in parquet;
      * the timed stage is then ONLY the banded self-join — fixed 16-bit
      * [[graft.ops.Dedup.Bands63]] vs the corpus-scaled
      * [[graft.ops.Dedup.bandPlan]] — over fingerprint counts that cross
      * the c=1 plan's 2^15 accidental-collision knee (the audio fixture
      * synthesizes ~0.7 distinct fps per doc, so 64× sf0.1 ≈ 46k distinct
      * fps > 32768). The claim: fixed-width wall time bends quadratic as
      * F²/2^w bites; the auto plan stays near-linear because the knee
      * pushes out 2^(width−16) per widening step. Output counts must
      * match exactly (lossless either way).
      */
    def runBands(): Unit = {
      import graft.ops.{Dedup, Multimodal}
      println("== Hamming band-plan crossover (audio fps; decode excluded) ==")
      println(f"${"copies"}%7s ${"distinct"}%9s ${"fixed16"}%9s ${"auto"}%9s  plan")
      val scales = sys.env.getOrElse("SPARK_GRAFT_PROBE_BAND_SIZES", "4,16,64")
        .split(",").map(_.trim.toInt).toSeq
      val base = spark.read.parquet(s"$sfDir/documents.parquet")
      for (c <- scales) {
        val dir = s"/tmp/graft_probe_bands_${c}x"
        val docs = (0 until c).map(k =>
            base.withColumn("doc_id", col("doc_id") + lit(k * 10000000L)))
          .reduce(_ unionAll _)
        Multimodal.audioScan(spark, docs).select(col("doc_id"), col("fp"))
          .write.mode("overwrite").parquet(dir)
        val fp = () => spark.read.parquet(dir)
        val f = fp().select(col("fp")).distinct().count()
        val plan = Dedup.bandPlan(f, 3)
        var nFixed = 0L; var nAuto = 0L
        val tF = median((1 to 3).map(_ => time {
          nFixed = Dedup.hammingPairs(fp(), Dedup.Bands63, 3).count(); nFixed
        }))
        val tA = median((1 to 3).map(_ => time {
          nAuto = Dedup.hammingPairsAuto(fp(), 3).count(); nAuto
        }))
        require(nFixed == nAuto, s"plan changed the output: $nFixed vs $nAuto")
        println(f"$c%7d $f%9d $tF%9.2f $tA%9.2f  c=${plan.head.size}, " +
          s"${plan.size} bands, $nFixed pairs")
      }
      // The audio fixture tops out near 50k distinct fps at 64× — below
      // the c=1→2 crossover (~10⁵). The synthetic section pushes F across
      // it: splitmix-avalanched 63-bit fps (uniform — the adversarial
      // accidental-collision shape) plus a Hamming-1 planted dup per 8
      // ids so true pairs exist. Same lossless invariant enforced.
      println("== band-plan crossover (synthetic uniform fps) ==")
      println(f"${"fps"}%9s ${"fixed16"}%9s ${"auto"}%9s  plan")
      val fsizes = sys.env.getOrElse("SPARK_GRAFT_PROBE_FP_SIZES",
        "200000,800000,3200000").split(",").map(_.trim.toLong).toSeq
      for (n <- fsizes) {
        val dir = s"/tmp/graft_probe_fps_$n"
        // xxhash64 = uniform 63-bit fps without ANSI-overflow arithmetic
        val fpCol = xxhash64(col("id")).bitwiseAND(lit(Long.MaxValue))
        val base = spark.range(n).select(col("id").as("doc_id"),
          fpCol.as("fp"))
        base.unionAll(base.filter(col("doc_id") % 8 === 0)
            .select((col("doc_id") + lit(1L << 40)).as("doc_id"),
              expr("fp ^ shiftleft(CAST(1 AS BIGINT), " +
                "CAST(doc_id % 63 AS INT))").as("fp")))
          .write.mode("overwrite").parquet(dir)
        val fp = () => spark.read.parquet(dir)
        val f = fp().select(col("fp")).distinct().count()
        val plan = Dedup.bandPlan(f, 3)
        var nFixed = 0L; var nAuto = 0L
        val tF = median((1 to 3).map(_ => time {
          nFixed = Dedup.hammingPairs(fp(), Dedup.Bands63, 3).count(); nFixed
        }))
        val tA = median((1 to 3).map(_ => time {
          nAuto = Dedup.hammingPairsAuto(fp(), 3).count(); nAuto
        }))
        require(nFixed == nAuto, s"plan changed the output: $nFixed vs $nAuto")
        println(f"$f%9d $tF%9.2f $tA%9.2f  c=${plan.head.size}, " +
          s"${plan.size} bands, $nFixed pairs")
      }
    }

    def runClustered(): Unit = {
      import graft.ops.Dedup
      // The derate question (SCALE §8e): real perceptual fingerprints
      // concentrate band VALUES (dark images, silent audio) — a hot value
      // with multiplicity h contributes h²/2 accidental candidates to its
      // band, not the birthday mean F²/2^(w+1). Fixture: n distinct fps,
      // h of them sharing ONE value in the (0,16) band (distinct
      // elsewhere: uniform high bits), the rest fully uniform; planted
      // Hamming-1 dups so true pairs exist. Measured: c=1 (the hot band
      // drowns), forced c=2 (the hot value splits across the wider key's
      // extra uniform bits), and what auto picks from F alone.
      println("== band-plan under clustered band values ==")
      println(f"${"n"}%9s ${"hot"}%7s ${"exactC1"}%11s ${"fixed16"}%9s ${"c2"}%9s ${"auto"}%9s  autoplan")
      val n = sys.env.getOrElse("SPARK_GRAFT_PROBE_CLUST_N", "800000").toLong
      val hots = sys.env.getOrElse("SPARK_GRAFT_PROBE_CLUST_HOT",
        "20000,40000,80000").split(",").map(_.trim.toLong).toSeq
      val c2plan = Dedup.bandBlocks(5, 63).combinations(2).toSeq
      for (h <- hots) {
        val dir = s"/tmp/graft_probe_clust_${n}_$h"
        // uniform 47 high bits << 16; low 16 = hot constant for the first
        // h ids, else uniform — all fps distinct w.h.p. via the high bits
        val hi = xxhash64(col("id")).bitwiseAND(lit((1L << 47) - 1L))
        val lo = when(col("id") < h, lit(0x1234L))
          .otherwise(xxhash64(col("id"), lit(7)).bitwiseAND(lit(0xFFFFL)))
        val base = spark.range(n).select(col("id").as("doc_id"),
          shiftleft(hi, 16).bitwiseOR(lo).as("fp"))
        base.unionAll(base.filter(col("doc_id") % 8 === 0)
            .select((col("doc_id") + lit(1L << 40)).as("doc_id"),
              expr("fp ^ shiftleft(CAST(1 AS BIGINT), " +
                "CAST(16 + doc_id % 47 AS INT))").as("fp")))
          .write.mode("overwrite").parquet(dir)
        val fp = () => spark.read.parquet(dir)
        val f = fp().select(col("fp")).distinct().count()
        // exact c=1 accidental candidate count: Σ_{band,value} C(cnt,2)
        val exactC1 = Dedup.exactC1(fp().select(col("fp")).distinct(),
          Dedup.Bands63.map(Seq(_)))
        val plan = Dedup.bandPlanMeasured(f, exactC1, 3)
        var n1 = 0L; var n2 = 0L; var nA = 0L
        val tF = median((1 to 3).map(_ => time {
          n1 = Dedup.hammingPairs(fp(), Dedup.Bands63, 3).count(); n1 }))
        val t2 = median((1 to 3).map(_ => time {
          n2 = Dedup.hammingPairsPlanned(fp(), c2plan, 3).count(); n2 }))
        val tA = median((1 to 3).map(_ => time {
          nA = Dedup.hammingPairsAuto(fp(), 3).count(); nA }))
        require(n1 == n2 && n2 == nA, s"plans disagree: $n1 / $n2 / $nA")
        println(f"$f%9d $h%7d $exactC1%11d $tF%9.2f $t2%9.2f $tA%9.2f" +
          s"  c=${plan.head.size}, ${plan.size} bands, $n1 pairs")
      }
    }

    /** §8h addendum: the co-occurrence CF stack under a replicated event
      * log (fresh user namespaces, fixed item catalog — the production
      * growth axis). The degree cap bounds each user's pair contribution
      * at cap², so candidate mass grows ~copies× with the user count
      * while the item-pair aggregate saturates toward |items|²·K; the
      * claim under test is wall time ≤ copies× — the capped per-user
      * pair join is the only corpus-proportional stage, and serving
      * (item_recs) adds user-keyed joins that scale with the history,
      * never quadratically.
      */
    def runCf(): Unit = {
      val dir = s"/tmp/graft_probe_graph_${copies}x"
      val base = graft.io.Tables.events(spark, sfDir)
      (0 until copies).map(k =>
          base.withColumn("user_id", col("user_id") + lit(k * 10000000L)))
        .reduce(_ unionAll _)
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      println(s"== CF stack under replicated events (${copies}x, fresh users) ==")
      for (q <- Seq("item_similarity", "item_recs")) {
        val b = median((1 to 3).map(_ => timeQuery(q, sfDir)))
        val p = median((1 to 3).map(_ => timeQuery(q, dir)))
        println(f"$q%-22s $b%8.2f $p%8.2f  ${p / b}%.1fx")
      }
    }

    /** §8h-iii: the path family. (a) graph_reach/cheapest_path under a
      * replicated event log with fresh user namespaces — the claim is
      * the §8g one: only the edge aggregation is corpus-proportional,
      * the BFS/min-plus rounds run over the edge frame. (b) The regime
      * crossover for [[graft.ops.Graph.hopDistances]] and
      * [[graft.ops.Graph.minPlusDistances]] on the §8g synthetic
      * bipartite shape, bracketing the 4M default limit.
      */
    def runPaths(): Unit = {
      import graft.ops.Graph
      val dir = s"/tmp/graft_probe_graph_${copies}x"
      val base = graft.io.Tables.events(spark, sfDir)
      (0 until copies).map(k =>
          base.withColumn("user_id", col("user_id") + lit(k * 10000000L)))
        .reduce(_ unionAll _)
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      println(s"== path family under replicated events (${copies}x) ==")
      for (q <- Seq("graph_reach", "cheapest_path")) {
        val b = median((1 to 3).map(_ => timeQuery(q, sfDir)))
        val p = median((1 to 3).map(_ => timeQuery(q, dir)))
        println(f"$q%-22s $b%8.2f $p%8.2f  ${p / b}%.1fx")
      }
      println("== hop/min-plus regime crossover (synthetic bipartite) ==")
      println(f"${"edges"}%10s ${"bfs-1task"}%10s ${"bfs-dist"}%9s " +
        f"${"mp-1task"}%9s ${"mp-dist"}%8s")
      val sizes = sys.env.getOrElse("SPARK_GRAFT_PROBE_PR_SIZES",
        "1000000,4000000,16000000").split(",").map(_.trim.toLong).toSeq
      for (m <- sizes) {
        val nu = m / 4
        val e0 = spark.range(m).select(
          (pmod(hash((col("id") * 2654435761L).cast("long")), lit(nu))
            .cast("long") * 2).as("src"),
          (pmod(hash((col("id") * 40503L + 7L).cast("long")), lit(1000))
            .cast("long") * 2 + 1).as("dst"))
        val sym = e0.unionAll(
          e0.select(col("dst").as("src"), col("src").as("dst")))
        val seeds = spark.range(100).select((col("id") * 2).as("seed"))
        val wsym = sym.withColumn("w", lit(3L))
        val b1 = median((1 to 3).map(_ => time(Graph.hopDistances(
          sym, seeds, 4, singleTaskBytes = Long.MaxValue).count())))
        val bd = median((1 to 3).map(_ => time(Graph.hopDistances(
          sym, seeds, 4, singleTaskBytes = 0L).count())))
        val m1 = median((1 to 3).map(_ => time(Graph.minPlusDistances(
          wsym, seeds, 4, singleTaskBytes = Long.MaxValue).count())))
        val md = median((1 to 3).map(_ => time(Graph.minPlusDistances(
          wsym, seeds, 4, singleTaskBytes = 0L).count())))
        println(f"$m%10d $b1%10.2f $bd%9.2f $m1%9.2f $md%8.2f")
      }
    }

    if (mode == "paths")
      runPaths()
    if (mode == "cf")
      runCf()
    if (mode == "clustered")
      runClustered()
    if (mode == "bands")
      runBands()
    if (mode == "graph")
      runGraph()
    if (mode == "image")
      runRegistry("image/audio pipelines (fresh-id copies)", ImageQueries,
        replicate(perturb = false))
    if (mode == "cc")
      runCc()
    if (mode == "dup" || mode == "all")
      runRegistry("dup-heavy (identical copies)", DupQueries,
        replicate(perturb = false))
    if (mode == "distinct" || mode == "all")
      runRegistry("distinct-content (perturbed copies)", DistinctQueries,
        replicate(perturb = true))
    if (mode == "ann" || mode == "all")
      runRegistry("served ANN stack (4x near-distinct vectors)", AnnQueries,
        replicate(perturb = true))
    if (mode == "zipf" || mode == "all") {
      runZipf(5000, 50000, 60)
      runZipf(20000, 50000, 60)
    }
    spark.stop()
  }
}
