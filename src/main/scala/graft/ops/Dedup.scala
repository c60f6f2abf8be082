package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Document deduplication for training-data pipelines: exact, MinHash+LSH,
  * SimHash, and n-gram Jaccard.
  *
  * Design for 100 TB:
  *  - Exact dedup is one hash aggregation on a fingerprint (one shuffle of
  *    (hash, id) pairs, never the text).
  *  - MinHash signatures are computed in a single groupBy with k min()
  *    aggregates over exploded shingles — partial aggregation means the
  *    shuffle carries one k-vector per document. LSH banding turns the
  *    O(n²) pair search into b self-equi-joins on small band keys; each is
  *    a plain shuffle join on a (band) key whose buckets are the only
  *    quadratic zone.
  *  - SimHash is one groupBy with 64 integer sums; near-dup pairs then only
  *    need a cheap integer hamming filter.
  *  - Exact n-gram Jaccard is quadratic by nature; `jaccardPairs` requires
  *    a blocking key (lang, length bucket, LSH bucket, …), computes
  *    intersections by an equi-join on grams (no cross join anywhere), and
  *    collapses identical contents to one representative first so the join
  *    is invariant to exact-dup multiplicity; `jaccardPairsPrefix` is the
  *    lossless df-ordered prefix join (PPJoin family) that additionally
  *    fences the stop-gram f² zone on Zipf-vocabulary corpora.
  *
  * Text contract, the Spark form of each decision (DuckDB forms in
  * `graft.jobs.OracleSql`): md5-hex-prefix hashes cut by one limb
  * reader, the word split, and a row's positional windows.
  */
object Dedup {

  /** `width` hex chars of `hex` from 1-based `from` as a BIGINT. */
  private def hexLimb(hex: Column, from: Int, width: Int): Column =
    conv(substring(hex, from, width), 16, 10).cast("long")

  /** First 8 md5 hex chars as a non-negative BIGINT (32-bit range). */
  def md5Long(c: Column): Column = hexLimb(md5(c), 1, 8)

  /** First 15 md5 hex chars as a 60-bit BIGINT: past birthday range for
    * corpus-scale vocabularies, never touching the sign bit.
    */
  def hash60(c: Column): Column = hexLimb(md5(c), 1, 15)

  /** The 64-bit window hash: md5's first 16 hex chars as two 32-bit limbs
    * (gh1, gh2), so `gh1` is [[md5Long]]. Positional-window consumers key
    * on both limbs: a single 32-bit key saturates by birthday collisions
    * at crawl scale (~10¹¹ distinct windows against 2³² buckets), at 64
    * bits the per-window false-collision probability stays ~n/2⁶⁴. The
    * batch screens and their streaming twins
    * ([[graft.streaming.StreamingDecontam]] joins on
    * `DedupJobs.evalWindowHashes`) share this one definition.
    */
  def windowHash(window: Column): Seq[Column] = {
    val h = md5(window)
    Seq(hexLimb(h, 1, 8).as("gh1"), hexLimb(h, 9, 8).as("gh2"))
  }

  /** The 120-bit identity-compression key: md5's first 30 hex chars as
    * two 60-bit limbs (gk1, gk2).
    */
  def contentKey(content: Column): Seq[Column] = {
    val h = md5(content)
    Seq(hexLimb(h, 1, 15).as("gk1"), hexLimb(h, 16, 15).as("gk2"))
  }

  /** The word split. `trim` strips spaces only (in DuckDB too), so a
    * leading tab or trailing newline yields an empty first or last word.
    */
  def words(text: Column): Column = split(trim(text), "\\s+")

  /** A row's `w`-word windows in order, ragged tail dropped: per row, the
    * grams of [[explodedGrams]]. Pass a projected array column — the
    * lambda reads `words` once per element.
    */
  def rowWindows(words: Column, w: Int): Column =
    filter(transform(words, (_, i) => array_join(slice(words, i + 1, lit(w)), " ")),
      (_, i) => i <= size(words) - w)

  /** Distinct word tokens of a document. */
  def wordSet(text: Column): Column = array_distinct(words(text))

  /** Exact dedup: group by content fingerprint, keep the smallest id.
    * Output one row per distinct content: (fingerprint, keeper, n_dups).
    */
  def exact(df: DataFrame, id: Column, text: Column): DataFrame =
    df.groupBy(TextAnalysis.fingerprint(text).as("fingerprint"))
      .agg(min(id).as("keeper"), count(lit(1)).as("n_dups"))

  /** Word n-grams, explode-first: words exploded with position, grams
    * assembled by `lead()` over the per-doc window — all codegen'd (an
    * array-lambda `transform` route would interpret per element, ~10×
    * slower at corpus scale). Preserves every non-`text` input column.
    *
    * `distinct = false` skips the set-semantics dedup — a full shuffle of
    * every (doc_id, gram) STRING pair. Duplicate-insensitive consumers
    * (minhash: `min()` absorbs dups in the partial agg) must opt out;
    * set-semantics consumers (Jaccard counting) should instead distinct
    * ONCE, after hashing, on int keys — the window's doc_id partitioning
    * already clusters (doc_id, gh), so that dedup needs no new exchange.
    */
  def explodedGrams(df: DataFrame, n: Int, distinct: Boolean = true): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val others = df.columns.toSeq.filterNot(_ == "text").map(col)
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val exploded = df.select(others :+
      posexplode(words(col("text"))).as(Seq("pos", "w")): _*)
    val withParts = (1 until n).foldLeft(exploded) { (acc, j) =>
      acc.withColumn(s"w$j", lead(col("w"), j).over(w))
    }
    val parts = col("w") +: (1 until n).map(j => col(s"w$j"))
    val grams = withParts
      .filter(if (n > 1) parts.last.isNotNull else lit(true)) // ragged tail
      .select(others :+ concat_ws(" ", parts: _*).as("gram"): _*)
    if (distinct) grams.distinct() else grams
  }

  /** The hashed gram set: [[explodedGrams]] with each gram replaced by its
    * 32-bit [[md5Long]] `gh`, keeping every non-`text` column of `df`
    * (doc_id, and a blocking key where the caller has one). Grams never
    * leave the window stage as strings, so every later shuffle is on ints.
    *
    * `distinct = true` is the set semantics Jaccard-style counting needs,
    * taken ONCE, after hashing: the gram window leaves the frame
    * partitioned by doc_id, which clusters (doc_id, …, gh) too, so the
    * dedup adds no exchange (a string distinct inside [[explodedGrams]]
    * would be a full extra gram shuffle). Duplicate-insensitive consumers
    * (minhash's `min()`) keep `distinct = false`.
    */
  def hashedGrams(df: DataFrame, n: Int, distinct: Boolean): DataFrame = {
    val keys = df.columns.toSeq.filterNot(_ == "text").map(col)
    val hashed = explodedGrams(df, n, distinct = false)
      .select(keys :+ md5Long(col("gram")).as("gh"): _*)
    if (distinct) hashed.distinct() else hashed
  }

  /** MinHash signature: k permutations simulated by salted hashes;
    * h_j(doc) = min over shingles of md5Long(j || ":" || shingle).
    * One row per doc with columns h0..h{k-1}. Shingles are word `n`-grams —
    * use n ≥ 2 when the vocabulary is small, or single-word minima collide
    * on every common word and LSH banding degenerates to all-pairs.
    */
  def minhashSignatures(
      df: DataFrame, id: Column, text: Column, k: Int, n: Int = 2): DataFrame =
    minhashFromHashes(
      // no distinct: min() is duplicate-insensitive, and skipping it leaves
      // exactly ONE exchange (the gram window's doc_id partitioning, which
      // the signature groupBy then reuses) between scan and signature agg
      hashedGrams(df.select(id.as("doc_id"), text.as("text")), n,
        distinct = false), k)

  /** Smallest prime above 2^32 — the universal-hash modulus. */
  val MinhashPrime: Long = 4294967311L

  /** The j-th minhash of a 32-bit base gram hash: affine universal-hash mix
    * `(a_j·h + b_j) mod p`. ONE md5 per gram feeds all k signature slots —
    * the k salted-md5 variant costs k full digests per (doc, gram) row,
    * pure waste at corpus scale.
    *
    * The multipliers must be LARGE: with small a_j the map is
    * piecewise-monotone under the mod, the k argmins correlate, and LSH
    * bands collide together (measured 13× the candidate volume). Large odd
    * a_j wraps ~a_j times, decorrelating the argmins, while keeping
    * a_j·h < 2^62 — overflow-free i64 arithmetic in any engine. Forcing
    * the 2^29 bit pins every a_j into [2^29, 2^30) — a bare multiplicative
    * recurrence mod 2^30 leaves some residues small (the round-2 advisor
    * measured a_4 ≈ 2^27), re-risking exactly that correlation.
    * `PureFunctionProps` pins the [2^29, 2^30)/odd/distinct invariant.
    * These constants are part of the oracle contract: the DuckDB oracle SQL
    * is generated from this same function, so both engines always agree.
    */
  def minhashA(j: Int): Long =
    (536870912L + (((j + 1) * 668265261L) % 536870912L)) | 1L
  def minhashB(j: Int): Long = (j * 374761393L) % MinhashPrime

  def minhashCol(gh: Column, j: Int): Column =
    (gh * lit(minhashA(j)) + lit(minhashB(j))) % MinhashPrime

  /** MinHash signatures from a hashed gram frame (doc_id, gh) — lets one
    * cached scan feed both the LSH candidate stage and an
    * exact-verification join (see `DedupJobs.decontamination`).
    */
  def minhashFromHashes(hashed: DataFrame, k: Int): DataFrame = {
    val aggs = (0 until k).map(j => min(minhashCol(col("gh"), j)).as(s"h$j"))
    hashed.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
  }

  /** LSH candidate pairs from a signature frame: `bands` bands of `rowsPerBand`
    * hashes; docs sharing any full band are candidates. Output
    * (doc_a, doc_b, est_jaccard) with est = fraction of matching hashes.
    */
  def lshCandidates(sig: DataFrame, k: Int, bands: Int,
      scope: CacheScope = CacheScope.unmanaged): DataFrame = {
    val rowsPerBand = k / bands
    require(bands * rowsPerBand == k, s"k=$k not divisible into $bands bands")
    // one k-vector per document — tiny; cache so the b self-joins don't
    // recompute the shingle→minhash lineage 2×bands times
    val cached = scope.cache(sig)
    val a = cached.alias("a")
    val b = cached.alias("b")
    val pairs = (0 until bands).map { bi =>
      val bandEq = (0 until rowsPerBand)
        .map(r => col(s"a.h${bi * rowsPerBand + r}") === col(s"b.h${bi * rowsPerBand + r}"))
        .reduce(_ && _)
      a.join(b, bandEq && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          (0 until k).map(j =>
            when(col(s"a.h$j") === col(s"b.h$j"), 1).otherwise(0))
            .reduce(_ + _).cast("double").divide(k).as("est_jaccard"))
    }.reduce(_ unionAll _)
    pairs.distinct()
  }

  /** Signature rows unpivoted to one row per (doc, band): (id, bi, bk)
    * with `bk` the band's hash columns as a STRUCT — the exact band
    * content, never a lossy hash of it, so joining on (bi, bk) is
    * bit-exact band equality. The unpivot-then-join form replaces a
    * per-band join cascade with ONE equi-join: same pair set, one codegen
    * unit and one exchange per side instead of `bands` of each (the
    * cascade's near-identical generated joins were the dominant
    * cold-codegen cost of the incremental gate queries on the round-6
    * driver bench).
    */
  private def bandRows(
      sig: DataFrame, k: Int, bands: Int, idAs: String): DataFrame = {
    val rpb = k / bands
    val rows = (0 until bands).map { bi =>
      struct(lit(bi).as("bi"),
        struct((0 until rpb).map(r => col(s"h${bi * rpb + r}").as(s"x$r")): _*)
          .as("bk"))
    }
    sig.select(col("doc_id").as(idAs), explode(array(rows: _*)).as("b"))
      .select(col(idAs), col("b.bi").as("bi"), col("b.bk").as("bk"))
  }

  /** LSH candidates ACROSS two signature sets (incremental ingestion: new
    * batch vs existing corpus) — one band-row equi-join BETWEEN the
    * frames ([[bandRows]]), never within either side, so the join mass
    * tracks new×old collisions only. No internal caches: each side is
    * read exactly once (cache the inputs upstream if they are derived —
    * the incremental gate queries cache their flagged signature frame).
    * Output (left_id, right_id), deduped across bands.
    */
  def lshCandidatesAcross(
      left: DataFrame, right: DataFrame, k: Int, bands: Int,
      scope: CacheScope = CacheScope.unmanaged): DataFrame = {
    val rowsPerBand = k / bands
    require(bands * rowsPerBand == k, s"k=$k not divisible into $bands bands")
    bandRows(left, k, bands, "left_id")
      .join(bandRows(right, k, bands, "right_id"), Seq("bi", "bk"))
      .select(col("left_id"), col("right_id")).distinct()
  }

  /** [[lshCandidatesAcross]] with a Bloom prescreen on the big side — the
    * incremental-ingestion shape at 100 TB. `left` is the SMALL frame (the
    * arriving batch's signatures), `right` the huge one (the corpus
    * signature table): a Bloom filter over every band key of `left` is
    * built driver-side (two actions over the small frame only) and filters
    * `right`'s band rows BEFORE the join, so the corpus-side exchange
    * carries only band rows whose keys might collide with the batch —
    * O(true collisions + fpp·corpus) rows instead of the whole corpus.
    *
    * Lossless by the no-false-negative property: any old row truly sharing
    * a band with a new row has that band key in the filter and survives
    * the prescreen; false positives die in the exact band-row equi-join
    * that follows (the join matches on the real h-column struct, never on
    * the 64-bit band-key hash, so hash collisions cannot fabricate pairs).
    * Output is bit-identical to [[lshCandidatesAcross]] — the gate query
    * reuses the unfiltered oracle, so losslessness is hash-checked.
    */
  def lshCandidatesAcrossBloom(
      left: DataFrame, right: DataFrame, k: Int, bands: Int,
      fpp: Double = 0.01, scope: CacheScope = CacheScope.unmanaged): DataFrame = {
    val rowsPerBand = k / bands
    require(bands * rowsPerBand == k, s"k=$k not divisible into $bands bands")
    // the batch's band rows feed three consumers (count, Bloom build, the
    // join probe) — cache them; the corpus's surviving band rows feed only
    // the one join, so they stay uncached
    val la = scope.cache(bandRows(left, k, bands, "left_id"))
    // one 64-bit key per band row: band index + the band's hash columns
    val key = xxhash64(
      (col("bi") +: (0 until rowsPerBand).map(r => col(s"bk.x$r"))): _*)
    val nLeftBands = la.count()
    if (nLeftBands == 0)
      // nothing arriving ⇒ no candidates; also `stat.bloomFilter` NPEs on
      // an empty frame (its aggregate yields null), so don't build one
      return la.select(col("left_id"), col("left_id").as("right_id"))
    val bloom = la.select(key.as("bk64")).stat.bloomFilter("bk64", nLeftBands, fpp)
    val rb = bandRows(right, k, bands, "right_id")
      .filter(graft.functions.SketchFunctions.bloom_might_contain(bloom, key))
    la.join(rb, Seq("bi", "bk"))
      .select(col("left_id"), col("right_id")).distinct()
  }

  /** SimHash fingerprint over word hashes, `bits` wide (≤ 32 with the
    * 32-bit md5Long). One row per doc: (doc_id, simhash).
    */
  def simhash(df: DataFrame, id: Column, text: Column, bits: Int): DataFrame = {
    require(bits <= 32, s"simhash word hash is 32-bit; use simhashWide for $bits bits")
    simhashHashed(df, id, text, bits, md5Long)
  }

  /** [[simhash]] with a 60-bit word hash (15 md5 hex chars — the hash60
    * convention shared with the oracle's `hex60Sql`). A 32-bit word hash
    * leaves bits 32+ of a wider fingerprint structurally zero — every
    * sign sum there is −|words| — so any simhash wider than 32 bits MUST
    * hash words at ≥ fingerprint width.
    */
  def simhashWide(df: DataFrame, id: Column, text: Column, bits: Int): DataFrame = {
    require(bits <= 60, s"wide simhash word hash is 60-bit; got bits=$bits")
    simhashHashed(df, id, text, bits, hash60)
  }

  private def simhashHashed(df: DataFrame, id: Column, text: Column,
      bits: Int, wordHash: Column => Column): DataFrame = {
    val words = df
      .select(id.as("doc_id"), explode(wordSet(text)).as("w"))
      .withColumn("wh", wordHash(col("w")))
    val sums = (0 until bits).map { b =>
      sum(shiftright(col("wh"), b).bitwiseAND(1) * 2 - 1).as(s"s$b")
    }
    val fp = (0 until bits).map { b =>
      when(col(s"s$b") > 0, lit(1L << b)).otherwise(0L)
    }.reduce(_ + _)
    words.groupBy(col("doc_id"))
      .agg(sums.head, sums.tail: _*)
      .select(col("doc_id"), fp.as("simhash"))
  }

  /** Connected components over near-dup pairs: every document labelled with
    * the minimum doc_id reachable through the pair graph — the cluster
    * representative a dedup pipeline keeps. Min-label propagation iterated
    * to fixpoint; the fixpoint (component minimum) is engine-independent,
    * so a SQL transitive-closure oracle reproduces it exactly.
    *
    * Scale: each iteration is one equi-join + one aggregation; iteration
    * count is the component diameter. Near-dup clusters are shallow (dups
    * of one document), so convergence is typically a handful of rounds.
    * Pathological deep chains no longer exhaust the budget: after
    * `starAfter` unconverged propagation rounds the graph is CONTRACTED
    * through the labels found so far and finished with alternating
    * large-star/small-star ([[starContract]]) — O(log d) rounds regardless
    * of diameter, so a diameter-200 chain converges instead of throwing.
    * The driver loop is control flow only — all data work is distributed,
    * and each iteration's action is the convergence count.
    *
    * Scale shape: the near-dup edge set is proportional to DUP PAIRS,
    * not to the corpus — orders of magnitude smaller than the vertex
    * frame at any realistic dup rate, and the fixpoint over it is a
    * SEQUENTIAL recurrence with no parallelism worth buying (the
    * round-6 BPE lesson: k chained rounds of a frame that fits in one
    * task = k×3 exchanges of pure scheduling). So when one count of the
    * candidate pairs shows ≤ `singleTaskBytes` of pairs (16 B each; the
    * [[Regime]] choice at site `union_find`), the component
    * labels are resolved by UNION-FIND (min-rooted, path-compressed)
    * inside ONE executor task (`coalesce(1).mapPartitions` — no driver
    * collect), and the resulting (node → component-min) map — bounded by
    * 2·|pairs| rows — is broadcast-joined back onto the corpus-sized
    * vertex frame, which therefore never shuffles at all. Above the
    * limit the distributed min-label loop below runs (three exchanges
    * per round, diameter rounds, star-contraction fallback for deep
    * chains) — the correct shape when the dup graph itself is too big
    * for one task's memory.
    *
    * The default ([[Regime.SingleTaskBytes]], 4M pairs) is MEASURED, not
    * argued (SCALE.md §8f, round-9 probe): union-find beats the
    * distributed loop at every probed size through 16M edges on both
    * bracketing graph shapes (star 4M: 4.5 vs 11.1 s; ER 4M: 5.8 vs
    * 32.8 s; even 16M: 17-24 vs 29-89 s), so the regime boundary is set by the single task's MEMORY, not speed —
    * ~4M edges ≈ ≤8M-entry hash map ≈ ~400 MB, comfortable in a
    * standard executor; 16M would court task OOM on a busy one.
    */
  def connectedComponents(
      vertices: DataFrame, pairs: DataFrame, maxIters: Int = 100,
      starAfter: Int = 20,
      singleTaskBytes: Long = Regime.SingleTaskBytes): DataFrame = {
    val spark = vertices.sparkSession
    import spark.implicits._
    val pr = pairs
      .select(col("doc_a").cast("long"), col("doc_b").cast("long")).cache()
    // one count() materializes the pair cache (every path reads it next)
    // and picks the resolution strategy
    if (Regime.choose("union_find", pr.count() * pr.schema.defaultSize,
        singleTaskBytes)) {
      // Single-task union-find over the dup-pair graph. Orientation and
      // duplicate pairs are irrelevant to union-find, so the symmetric
      // union + distinct the distributed loop needs are skipped too.
      // localCheckpoint (eager) so the pair cache can be released before
      // the caller consumes the output.
      val mapping = pr.as[(Long, Long)].coalesce(1).mapPartitions { it =>
        val parent = scala.collection.mutable.HashMap.empty[Long, Long]
        def find(x: Long): Long = {
          var r = x
          while (parent(r) != r) r = parent(r)
          var c = x
          while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
          r
        }
        it.foreach { case (a, b) =>
          if (!parent.contains(a)) parent.update(a, a)
          if (!parent.contains(b)) parent.update(b, b)
          val ra = find(a); val rb = find(b)
          // union by MIN root — the component minimum the oracle's
          // transitive-closure MIN reproduces; path compression keeps the
          // min-union chains short
          if (ra < rb) parent.update(rb, ra)
          else if (rb < ra) parent.update(ra, rb)
        }
        parent.keys.toArray.iterator.map(k => (k, find(k)))
      }.toDF("node", "root").localCheckpoint()
      pr.unpersist()
      val out = vertices.join(broadcast(mapping),
          col("doc_id") === col("node"), "left")
        .select(col("doc_id"),
          coalesce(col("root"), col("doc_id")).as("cluster"))
      return out
    }
    val edges = pr
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionAll(pr.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .distinct().cache()
    // materialize the symmetric edge cache NOW so the raw pair cache can be
    // released before the loop — this is exactly the regime where the pair
    // graph is large, and holding both frames doubles cache memory for the
    // whole iteration (the count is work round 0 would do anyway)
    edges.count()
    pr.unpersist()
    var labels = vertices.select(col("doc_id"), col("doc_id").as("cluster"))
      .cache()
    var converged = false
    var i = 0
    while (!converged && i < math.min(starAfter, maxIters)) {
      val nbrMin = edges
        .join(labels.select(col("doc_id").as("dst"),
          col("cluster").as("nbr_cluster")), "dst")
        .groupBy(col("src").as("doc_id"))
        .agg(min(col("nbr_cluster")).as("nbr_min"))
      // change detection rides the propagation join (a "did any label
      // drop" flag computed in-row) — a separate next⨝prev count join
      // would pay an extra shuffle per iteration for the same bit
      val next = labels.join(nbrMin, Seq("doc_id"), "left")
        .select(col("doc_id"),
          least(col("cluster"), coalesce(col("nbr_min"), col("cluster")))
            .as("cluster"),
          (coalesce(col("nbr_min"), col("cluster")) < col("cluster"))
            .as("chg"))
      // `labels` feeds each round TWICE (nbrMin + the outer join), so an
      // uncut plan TREE doubles per round (1.98 GB of plan text at depth 10,
      // SCALE.md §8f); the cut keeps every round's plan the same size
      val (cut, changed) = Fixpoint.step(labels, next)(
        _.filter(col("chg")).count())
      labels = cut.select(col("doc_id"), col("cluster"))
      converged = changed == 0
      i += 1
    }
    val out = if (converged) labels else {
      // Deep-chain fallback: label(u) is already the minimum within
      // `starAfter` hops, so mapping every edge endpoint through its label
      // CONTRACTS each converged neighborhood to its representative; the
      // contracted graph has the same component structure (and every true
      // component minimum m survives contraction, because label(m) = m).
      // Large-star/small-star then finishes in O(log d) rounds. Lossless:
      // component minima are preserved by both phases.
      val contracted = edges
        .join(labels.select(col("doc_id").as("src"),
          col("cluster").as("csrc")), "src")
        .join(labels.select(col("doc_id").as("dst"),
          col("cluster").as("cdst")), "dst")
        .select(col("csrc").as("src"), col("cdst").as("dst"))
        .filter(col("src") =!= col("dst"))
      val roots = starContract(contracted, math.max(maxIters - i, 16))
      labels.join(roots, labels("cluster") === roots("node"), "left")
        .select(col("doc_id"),
          coalesce(col("root"), col("cluster")).as("cluster"))
    }
    edges.unpersist()
    out
  }

  /** Alternating large-star/small-star contraction (the published
    * MapReduce connected-components scheme for deep graphs — Kiveris et
    * al., "Connected Components in MapReduce and Beyond", SoCC'14):
    * large-star points every node's LARGER neighbors at the minimum of its
    * neighborhood (incl. itself); small-star points every node's smaller
    * neighbors (and the node) at their minimum. Each round halves long
    * paths, so the edge set converges to per-component stars centered at
    * the component minimum in O(log d) rounds — the fallback
    * [[connectedComponents]] switches to when plain min-label propagation
    * (cost = diameter rounds) exhausts its budget.
    *
    * Input: an edge list (src, dst); orientation and duplicates are
    * irrelevant (canonicalized here). Output: (node, root) for every node
    * that shares a component with a smaller node — isolated nodes and
    * component minima have no row (callers coalesce to self).
    *
    * Scale shape per round: one symmetric-neighborhood min agg + two
    * equi-joins + one agg, all on int keys; no neighborhood is ever
    * collected into one row, so high-degree hubs spread across reducers.
    */
  private[ops] def starContract(
      edgeList: DataFrame, maxRounds: Int): DataFrame = {
    // a cut (not a cache): e's plan is inlined ~12× into each round's
    // tree (see below), so it must enter the loop as a LEAF
    var e = edgeList
      .select(greatest(col("src"), col("dst")).as("hi"),
        least(col("src"), col("dst")).as("lo"))
      .filter(col("hi") =!= col("lo")).distinct().localCheckpoint()
    var prevCount = e.count()
    var converged = prevCount == 0L
    var r = 0
    while (!converged && r < maxRounds) {
      val sym = e.select(col("hi").as("u"), col("lo").as("v"))
        .unionAll(e.select(col("lo").as("u"), col("hi").as("v")))
      val mn = sym.groupBy(col("u")).agg(min(col("v")).as("mn"))
      // large-star: (larger neighbor v of u) → min(Γ(u) ∪ {u}); every
      // output edge has hi > lo by construction
      val large = sym.join(mn, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("hi"), least(col("u"), col("mn")).as("lo"))
        .distinct()
      // small-star on the (hi > lo)-oriented result: hi's smaller
      // neighbors are exactly its `lo`s — each of them, plus hi itself,
      // points at their minimum
      val mn2 = large.groupBy(col("hi")).agg(min(col("lo")).as("mn"))
      val small = large.join(mn2, "hi")
        .select(col("lo").as("hi"), col("mn").as("lo"))
        .filter(col("hi") =!= col("lo"))
        .unionAll(mn2.select(col("hi"), col("mn").as("lo")))
        .distinct()
      // one star round references the previous edge set ~12× (sym twice
      // in large, large thrice in small), so an uncut plan grows
      // ~12^rounds — five uncut rounds overflow the tree-printer's stack.
      // Fixpoint test: both sides are distinct sets, so equal size plus
      // empty difference means set equality (stars map to themselves)
      val (next, (nextCount, same)) = Fixpoint.step(e, small) { n =>
        val c = n.count()
        (c, c == prevCount && n.exceptAll(e).count() == 0)
      }
      converged = same
      e = next
      prevCount = nextCount
      r += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"starContract did not converge in $maxRounds rounds " +
          s"($prevCount edges live) — this bounds only a runaway loop; " +
          "O(log d) rounds suffice for any real graph")
    // at the fixpoint each non-root node carries exactly one edge, to its
    // component minimum; eager checkpoint, so the mapping no longer reads
    // `e` when its blocks are released
    val roots = e.groupBy(col("hi")).agg(min(col("lo")).as("root"))
      .select(col("hi").as("node"), col("root"))
      .localCheckpoint()
    Fixpoint.release(e)
    roots
  }

  /** Hamming near-dup self-join over ≤63-bit fingerprints (perceptual
    * image hashes, simhashes) WITHOUT a blocking key: all pairs with
    * bit_count(a XOR b) ≤ `maxHamming`, found by banded Hamming LSH.
    *
    * Bands: `bands` is a (shift, width) split of the fingerprint into
    * `bands.size` disjoint bit ranges. Pigeonhole: with
    * maxHamming < bands.size, any qualifying pair has at least one band
    * its differing bits never touch, so per-band int equi-joins are a
    * LOSSLESS candidate generator — never all-pairs. FIRST-shared-band
    * rule: a pair joined on band b survives only if every band BEFORE b
    * differs (computable in-row from the two fingerprint columns), so
    * each candidate pair materializes exactly once — no distinct (the
    * multiplicity-1 rule).
    *
    * Identity compression (the jaccardPairs discipline): the band join
    * runs on DISTINCT fingerprints only; member expansion afterward
    * restores every doc pair — cross-fingerprint products plus the
    * intra-fingerprint C(n,2) pairs at Hamming 0 — so join cost is
    * invariant to exact-dup multiplicity while the output keeps the
    * uncompressed all-pairs semantics the oracle computes.
    *
    * `fp` must provide (doc_id, fp); it is read five times (distinct,
    * two member sides, two intra sides) and is cached through `scope`.
    * Output: (doc_a, doc_b, hamming), doc_a < doc_b.
    */
  /** The 16/16/16/15 band split of a 63-bit fingerprint: 4 bands, so the
    * pigeonhole recall guarantee holds through Hamming distance 3.
    */
  val Bands63: Seq[(Int, Int)] = Seq((0, 16), (16, 16), (32, 16), (48, 15))

  /** (shift, width) band value of fingerprint column `c`. */
  def bandVal(c: Column, b: (Int, Int)): Column =
    shiftrightunsigned(c, b._1).bitwiseAND(lit((1L << b._2) - 1L))

  /** Super-band value: the member blocks' band values concatenated into
    * one ≤63-bit join key (total width ≤ fingerprint width by
    * construction, so the packing never overflows a Long).
    */
  def superBandVal(c: Column, blocks: Seq[(Int, Int)]): Column =
    blocks.foldLeft(lit(0L): Column) { case (acc, (s, w)) =>
      shiftleft(acc, w).bitwiseOR(bandVal(c, (s, w)))
    }

  /** Corpus-scaled Hamming band plan (SCALE.md §8e): disjoint 16-bit
    * bands drown in ACCIDENTAL collisions once distinct-fingerprint count
    * F approaches 2^16 — expected same-value pairs per band grow F²/2^w,
    * ~10¹² candidate pairs at F = 10⁸. Wider disjoint bands can't exist
    * (pigeonhole needs > maxHamming bands inside `bits` total), so the
    * plan generalizes to SUPER-bands: partition the fingerprint into
    * k = c + maxHamming near-equal blocks and join on every c-block
    * combination. Pigeonhole still holds — ≤ maxHamming differing bits
    * dirty ≤ maxHamming blocks, leaving ≥ c clean blocks, so at least one
    * super-band (that c-combination) matches exactly — while the join key
    * widens to ~c·bits/k bits, pushing the accidental-collision knee out
    * by a factor 2^(width−bits/(maxHamming+1)).
    *
    * Selection is a MEASURED cost-model argmin over c ∈ [1, 4] (SCALE.md
    * §8e addendum). Per-c cost has two terms: band-row REPLICATION
    * B(c)·F (join input — shuffled, sorted, hash-probed) and expected
    * ACCIDENTAL candidates B(c)·F²/2^(minWidth(c)+1) (birthday bound on
    * the narrowest band; B(c) = C(c+maxHamming, c) bands). They are NOT
    * equal-weight: the synthetic probe measured an accidental candidate
    * at ~1 ns (it streams through a codegen'd bit_count filter) vs
    * ~0.6 µs per replicated row — a ~640× ratio, which on UNIFORM
    * fingerprints pushes the c=1→2 crossover out to ~10⁸ distinct fps.
    * Real perceptual fingerprints are NOT uniform (dark images, silent
    * audio concentrate band values, and a single hot band value
    * contributes multiplicity², not the birthday mean), so the weight
    * here derates the measured ratio 10× to [[AccidentalCostRatio]] = 64:
    * crossovers land at F ≈ 1.4·10⁷ (c=2), 2·10⁹ (c=3), 10¹¹ (c=4).
    * c = 1 reproduces the disjoint plan exactly ([[Bands63]] for 63/3);
    * past the c = 4 ceiling, shard the corpus before pairing.
    */
  /** Near-equal partition of [0, bits) into k blocks: (bits mod k) blocks
    * get the extra bit, widest first so shifts are cumulative. The block
    * layout for a super-band plan of c = k − maxHamming.
    */
  private[graft] def bandBlocks(k: Int, bits: Int): Seq[(Int, Int)] = {
    val base = bits / k
    val rem = bits % k
    val widths = Seq.tabulate(k)(i => base + (if (i < rem) 1 else 0))
    widths.scanLeft(0)(_ + _).zip(widths).map { case (s, w) => (s, w) }
  }

  def bandPlan(distinctFps: Long, maxHamming: Int, bits: Int = 63)
      : Seq[Seq[(Int, Int)]] =
    bandPlanMeasured(distinctFps, exactC1 = -1L, maxHamming, bits)

  /** [[bandPlan]] fed a MEASURED c = 1 accidental-candidate count instead
    * of the birthday estimate (`exactC1 < 0` = no measurement, assume
    * uniform). The clustered probe (SCALE §8e addendum 2) is why: real
    * perceptual fingerprints concentrate band VALUES, a hot value of
    * multiplicity h contributes h²/2 candidates — at F = 9·10⁵ (600×
    * below the uniform crossover) a 4.4% hot fraction already makes c = 2
    * twice as fast, and the F-only model cannot see it (measured 165×
    * birthday-underestimate at 8.9% hot). The skew factor
    * s = exactC1 / birthday(1) rescales every c's birthday estimate —
    * exact for c = 1 by construction; for c ≥ 2 it assumes the clustering
    * lives inside single blocks so the wider key's extra bits divide the
    * hot mass uniformly (conservative: it overestimates the wide-band
    * accidental mass, erring toward c = 1). Validated against wall-clock
    * at h/F = 2.2/4.4/8.9%: picks c=2 exactly where c=2 measures faster.
    */
  def bandPlanMeasured(distinctFps: Long, exactC1: Long, maxHamming: Int,
      bits: Int = 63): Seq[Seq[(Int, Int)]] = {
    require(maxHamming >= 0 && bits >= maxHamming + 1,
      s"bandPlan needs bits ($bits) > maxHamming ($maxHamming)")
    def blocksOf(k: Int): Seq[(Int, Int)] = bandBlocks(k, bits)
    val f = distinctFps.toDouble
    def birthday(c: Int): Double = {
      val k = c + maxHamming
      val minWidth = blocksOf(k).map(_._2).sorted.take(c).sum
      val bands = (1 to c).foldLeft(1.0)((a, i) => a * (k - i + 1) / i)
      bands * f * f /
        math.pow(2.0, math.min(minWidth + 1, 62).toDouble)
    }
    val skew =
      if (exactC1 < 0L) 1.0
      else math.max(exactC1.toDouble / math.max(birthday(1), 1.0), 1.0)
    def cost(c: Int): Double = {
      val k = c + maxHamming
      val bands = (1 to c).foldLeft(1.0)((a, i) => a * (k - i + 1) / i)
      bands * f + skew * birthday(c) / AccidentalCostRatio
    }
    val c = (1 to 4).minBy(cost) // ties resolve to the smaller c
    blocksOf(c + maxHamming).combinations(c).toSeq
  }

  /** How many accidental candidates cost one replicated band row —
    * measured ~640 on uniform synthetic fps (SCALE §8e addendum: 3.6M
    * fps, fixed16 9.6 s vs c=2 23.2 s), derated 10× for the band-value
    * clustering real perceptual fingerprints exhibit.
    */
  val AccidentalCostRatio: Double = 64.0

  def hammingPairs(fp: DataFrame, bands: Seq[(Int, Int)], maxHamming: Int,
      scope: CacheScope = CacheScope.unmanaged): DataFrame =
    hammingPairsPlanned(fp, bands.map(Seq(_)), maxHamming, scope)

  /** [[hammingPairs]] with the band plan derived from the corpus. Caches
    * the fingerprint frame; its row count (a near-free job that
    * materializes the cache the join reads anyway) short-circuits small
    * corpora straight to the disjoint plan with ZERO model jobs: at or
    * below [[Regime.HammingShortCircuitBytes]] (16384 fingerprints; site
    * `hamming_auto`) even the adversarial worst case (every distinct fp
    * sharing one band value → n²/2 accidental candidates) costs under a
    * second at the measured ~7 ns/candidate hot-key rate, less than the
    * model jobs themselves (the r10 probe: 1.99 s auto vs 1.22 s fixed at
    * 64×). Above it, the distinct-fp frame is built ONCE
    * (cached, shared with the join core — previously the core rebuilt
    * it), counted, and one 16-bit-key aggregation measures the EXACT
    * c = 1 accidental-candidate mass Σ C(cnt, 2) for
    * [[bandPlanMeasured]] — the clustered probe showed F alone misses
    * hot-value corpora by two orders. Output is plan-invariant (all
    * plans are lossless candidate generators with multiplicity exactly
    * 1), so oracles never see the switch; only the candidate mass does.
    */
  def hammingPairsAuto(fp: DataFrame, maxHamming: Int,
      scope: CacheScope = CacheScope.unmanaged, bits: Int = 63): DataFrame = {
    // Hoisted from bandPlanMeasured: the small-corpus short-circuit below
    // skips that call, and bits <= maxHamming would silently degrade its
    // disjoint plan to zero-width bands (an all-pairs join) instead of
    // failing fast.
    require(maxHamming >= 0 && bits >= maxHamming + 1,
      s"need bits=$bits >= maxHamming=$maxHamming + 1 for a pigeonhole plan")
    val fpc = scope.cache(fp.select(col("doc_id"), col("fp")))
    val disjoint = bandBlocks(maxHamming + 1, bits).map(Seq(_))
    // sized at two longs per row whatever the id column's type, so the
    // boundary stays 16384 fingerprints for every caller
    if (Regime.choose("hamming_auto", fpc.count() * 16L,
        Regime.HammingShortCircuitBytes))
      return hammingCore(fpc, disjoint, maxHamming)
    val distinctFp = scope.cache(fpc.select(col("fp")).distinct())
    val f = distinctFp.count()
    hammingCore(fpc,
      bandPlanMeasured(f, exactC1(distinctFp, disjoint), maxHamming, bits),
      maxHamming, Some(distinctFp))
  }

  /** The EXACT accidental-candidate mass of band plan `bands` over a
    * distinct (fp) frame: Σ over (band, value) of C(cnt, 2), the number
    * of fingerprint pairs the banded join would test. One job.
    */
  private[graft] def exactC1(distinctFp: DataFrame,
      bands: Seq[Seq[(Int, Int)]]): Long =
    distinctFp.select(bandExplode(col("fp"), bands))
      .groupBy(col("b"), col("bv")).count()
      .agg(sum(expr("count * (count - 1) div 2"))).first().getLong(0)

  /** One row per band of fingerprint `fp`: (b, bv), b the band's index in
    * `bands` and bv its [[superBandVal]].
    */
  private def bandExplode(fp: Column, bands: Seq[Seq[(Int, Int)]]): Column =
    posexplode(array(bands.map(b => superBandVal(fp, b)): _*)).as(Seq("b", "bv"))

  /** The FIRST-shared-band predicate: a candidate joined on band `b`
    * survives only if every band before `b` differs between fingerprints
    * `x` and `y` — in-row, so each pair materializes exactly once.
    */
  private def firstSharedBand(bands: Seq[Seq[(Int, Int)]], b: Column,
      x: Column, y: Column): Column =
    bands.zipWithIndex.map { case (bd, j) =>
      (lit(j) >= b) || (superBandVal(x, bd) =!= superBandVal(y, bd))
    }.reduce(_ && _)

  /** The bipartite banded join: every (probe row, build row) pair whose
    * fingerprint columns `probeFp` / `buildFp` share at least one band of
    * `bands`, each pair exactly once (the [[hammingCore]] predicate). The
    * output keeps both sides' columns, which must not clash; the caller
    * applies its own Hamming bound or verify. Lossless for pairs within
    * maxHamming whenever `bands` is a pigeonhole plan for it
    * ([[bandPlan]]). No identity compression: each side joins row by row,
    * so the probe may be a stream and the build a landed index.
    */
  private[graft] def bandedProbe(probe: DataFrame, probeFp: String,
      build: DataFrame, buildFp: String,
      bands: Seq[Seq[(Int, Int)]]): DataFrame = {
    def banded(side: DataFrame, fp: String) =
      side.select(col("*"), bandExplode(col(fp), bands))
    banded(probe, probeFp).join(banded(build, buildFp), Seq("b", "bv"))
      .filter(firstSharedBand(bands, col("b"), col(probeFp), col(buildFp)))
      .drop("b", "bv")
  }

  /** The banded-join core over an arbitrary super-band plan (each band a
    * list of (shift, width) blocks; [[hammingPairs]] passes singletons,
    * [[hammingPairsAuto]] passes [[bandPlan]]'s combinations). Recall
    * contract: the caller's plan must guarantee every ≤maxHamming pair
    * shares at least one band — true of any all-c-combinations plan with
    * k − c ≥ maxHamming blocks, and of disjoint plans with more bands
    * than maxHamming. FIRST-shared-band rule, identity compression, and
    * the intra-fingerprint expansion are as documented on
    * [[hammingPairs]].
    */
  def hammingPairsPlanned(fp: DataFrame, bands: Seq[Seq[(Int, Int)]],
      maxHamming: Int,
      scope: CacheScope = CacheScope.unmanaged): DataFrame =
    hammingCore(scope.cache(fp.select(col("doc_id"), col("fp"))), bands,
      maxHamming)

  /** The join itself, over an ALREADY-cached (doc_id, fp) frame (read five
    * times: distinct, two member sides, two intra sides).
    */
  private def hammingCore(fpc: DataFrame, bands: Seq[Seq[(Int, Int)]],
      maxHamming: Int, sharedDistinct: Option[DataFrame] = None): DataFrame = {
    require(bands.size > maxHamming,
      s"pigeonhole needs more bands (${bands.size}) than maxHamming=$maxHamming")
    val distinctFp =
      sharedDistinct.getOrElse(fpc.select(col("fp")).distinct())
    val bandRows = distinctFp.select(col("fp"), bandExplode(col("fp"), bands))
    val fpPairs = bandRows.alias("x").join(bandRows.alias("y"),
        col("x.b") === col("y.b") && col("x.bv") === col("y.bv") &&
          col("x.fp") < col("y.fp"))
      .filter(firstSharedBand(bands, col("x.b"), col("x.fp"), col("y.fp")))
      .select(col("x.fp").as("fp_a"), col("y.fp").as("fp_b"),
        bit_count(col("x.fp").bitwiseXOR(col("y.fp"))).cast("long")
          .as("hamming"))
      .filter(col("hamming") <= maxHamming)
    val inter = fpPairs
      .join(fpc.select(col("fp").as("fp_a"), col("doc_id").as("da")), "fp_a")
      .join(fpc.select(col("fp").as("fp_b"), col("doc_id").as("db")), "fp_b")
      .select(least(col("da"), col("db")).as("doc_a"),
        greatest(col("da"), col("db")).as("doc_b"), col("hamming"))
    val intra = fpc.alias("m").join(fpc.alias("n"),
        col("m.fp") === col("n.fp") && col("m.doc_id") < col("n.doc_id"))
      .select(col("m.doc_id").as("doc_a"), col("n.doc_id").as("doc_b"),
        lit(0L).as("hamming"))
    inter.unionAll(intra)
  }

  /** Per-doc gram-set sizes (doc_id, n_grams) of a distinct hashed gram
    * frame, counted in the same hash space as the intersections, so
    * engine parity holds even under (vanishingly rare) hash collisions.
    */
  private[graft] def setSizes(g: DataFrame): DataFrame =
    g.groupBy(col("doc_id")).agg(count(lit(1)).as("n_grams"))

  /** Exact overlaps by the block-fenced self-join: (doc_a, doc_b, inter)
    * for every in-block pair sharing ≥ 1 gram, over a distinct
    * (doc_id, block, gh) frame. An equi-join on int gram hashes (never a
    * cross join); the shared-gram self-join is the quadratic zone — a gram
    * shared by f in-block docs contributes f² join rows, so callers fence
    * it ([[jaccardPairs]] collapses identical contents first).
    */
  private[graft] def blockOverlaps(g: DataFrame): DataFrame =
    g.alias("ga").join(g.alias("gb"),
        col("ga.gh") === col("gb.gh") &&
          col("ga.block") === col("gb.block") &&
          col("ga.doc_id") < col("gb.doc_id"))
      .groupBy(col("ga.doc_id").as("doc_a"), col("gb.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))

  /** Exact overlaps for candidate pairs only: (doc_a, doc_b, inter) with
    * `cand` (doc_a, doc_b) joined to both sides' full gram sets and the
    * common hashes counted. Verification cost tracks the candidate count
    * (LSH, sorted-neighborhood or prefix candidates), never all pairs; a
    * candidate sharing no gram has no row.
    */
  private[graft] def candidateOverlaps(
      cand: DataFrame, g: DataFrame): DataFrame =
    cand
      .join(g.select(col("doc_id").as("doc_a"), col("gh")), "doc_a")
      .join(g.select(col("doc_id").as("doc_b"), col("gh")), Seq("doc_b", "gh"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("inter"))

  /** Both sides' set sizes joined onto overlaps:
    * (doc_b, doc_a, inter, na, nb).
    */
  private[graft] def withSetSizes(
      inter: DataFrame, sizes: DataFrame): DataFrame =
    inter
      .join(sizes.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("n_grams", "na"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("n_grams", "nb"), "doc_b")

  /** Exact Jaccard |A∩B| / |A∪B| ≥ `threshold` (inclusive) over
    * overlaps: (doc_a, doc_b, inter, jaccard).
    */
  private[graft] def jaccardScored(
      inter: DataFrame, sizes: DataFrame, threshold: Double): DataFrame =
    withSetSizes(inter, sizes)
      .withColumn("jaccard",
        col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("inter"), col("jaccard"))

  /** Exact containment in both directions as integer ppm floor-divisions
    * (all-positive operands — Spark `div` ≡ DuckDB `//`), kept when either
    * direction is ≥ `thresholdPpm` (inclusive):
    * (doc_a, doc_b, cont_ab_ppm, cont_ba_ppm).
    */
  private[graft] def containmentScored(
      inter: DataFrame, sizes: DataFrame, thresholdPpm: Long): DataFrame =
    withSetSizes(inter, sizes)
      .select(col("doc_a"), col("doc_b"),
        expr("(inter * 1000000) div na").as("cont_ab_ppm"),
        expr("(inter * 1000000) div nb").as("cont_ba_ppm"))
      .filter(greatest(col("cont_ab_ppm"), col("cont_ba_ppm"))
        >= thresholdPpm)

  /** The distinct hashed (doc_id, block, gh) frame every blocked pairing
    * core reads several times (sizes, both join sides), cached instead of
    * recomputing the explode+lead lineage.
    */
  private def blockedGrams(
      df: DataFrame, n: Int, scope: CacheScope): DataFrame =
    scope.cache(hashedGrams(
      df.select(col("doc_id"), col("block"), col("text")), n, distinct = true))

  /** The shared-gram Jaccard core: pairs + per-doc set sizes over a frame
    * of (doc_id, text, block), by [[blockOverlaps]]. Candidate pairs are
    * only those sharing ≥1 gram in-block.
    */
  private def jaccardCore(
      df: DataFrame, n: Int, threshold: Double,
      scope: CacheScope = CacheScope.unmanaged): (DataFrame, DataFrame) = {
    val g = blockedGrams(df, n, scope)
    val sizes = setSizes(g)
    (jaccardScored(blockOverlaps(g), sizes, threshold), sizes)
  }

  /** n-gram Jaccard similarity pairs within a blocking key.
    * `df` must provide (doc_id, text, block).
    *
    * Identity-compressed: documents with identical whitespace-normalized
    * text (⇒ identical gram sets) collapse to one representative per
    * (block, content) group BEFORE the quadratic shared-gram join, and the
    * representative-level pairs expand back to document pairs afterwards
    * (cross-group pairs inherit the representative pair's inter/jaccard;
    * intra-group pairs are jaccard 1.0 by construction). Output is
    * bit-identical to the uncompressed all-pairs form — the DuckDB oracle
    * states the UNcompressed semantics, so losslessness is hash-checked —
    * while the join cost depends only on DISTINCT contents: a crawl corpus
    * where every page has d exact copies would otherwise pay d² join rows
    * per shared gram (the round-3 4× dup-heavy probe measured 9× cost at
    * 4× data; compression makes the join invariant to d). The group key is
    * 120 bits of md5 split into two BIGINTs — int join keys, and no
    * birthday collisions at corpus scale (a 32-bit key would collide by
    * ~80k docs and silently merge distinct contents).
    *
    * The residual quadratic zone is common grams across DISTINCT contents:
    * at Zipf-corpus scale use [[jaccardPairsComposed]] (this compression
    * plus the df-ordered prefix filter) or route through LSH candidates
    * (decontamination's shape).
    */
  def jaccardPairs(df: DataFrame, n: Int, threshold: Double,
      scope: CacheScope = CacheScope.unmanaged): DataFrame =
    identityCompressed(df, scope)(jaccardCore(_, n, threshold, scope))

  /** Asymmetric n-gram CONTAINMENT pairs within a blocking key — the
    * subset-relationship detector Jaccard misses: a short document fully
    * quoted inside a long one scores |A∩B|/|A| ≈ 1 (A contained in B)
    * while its Jaccard |A∩B|/|A∪B| stays small. The decontamination
    * use-case direction-resolved to document pairs: both ppm ratios are
    * emitted, a pair survives when EITHER direction clears the
    * threshold. Ratios are integer ppm floor-divisions of exact set
    * counts (all-positive operands — Spark `div` ≡ DuckDB `//`).
    *
    * Same kernel as [[jaccardPairs]]'s core ([[blockOverlaps]] over the
    * distinct hashed grams). `df` must provide (doc_id, text, block).
    */
  def containmentPairs(df: DataFrame, n: Int, thresholdPpm: Long,
      scope: CacheScope = CacheScope.unmanaged): DataFrame = {
    val g = blockedGrams(df, n, scope)
    containmentScored(blockOverlaps(g), setSizes(g), thresholdPpm)
  }

  /** Containment-prefix length for the SMALLER side of a qualifying pair:
    * p = n − ⌈τ·n⌉ + 1 with τ = ppm/10⁶ (integer-exact,
    * ⌈τ·n⌉ = (ppm·n + 10⁶ − 1) div 10⁶). A pair clears
    * max(inter/na, inter/nb) ≥ τ iff inter·10⁶ ≥ ppm·min(na, nb), so on
    * the min side the first common gram sits within this prefix; the
    * LARGER side gets no bound at all (a tiny doc fully quoted inside a
    * huge one pins inter to the tiny size) and must join its FULL list.
    */
  def contPrefixLen(nn: Column, thresholdPpm: Long): Column =
    nn - ((lit(thresholdPpm) * nn + lit(999999L))
      .divide(lit(1000000L)).cast("long")) + 1

  /** [[containmentPairs]] behind a lossless candidate fence — the
    * asymmetric analogue of [[prefixCore]]'s probing/indexing split: the
    * candidate join pairs each doc's FULL df-ranked gram list (pa, the
    * would-be larger side) against only the [[contPrefixLen]] rarest
    * grams of docs ranked (nn, doc_id)-lexicographically below it (pb,
    * the min side). Proof a qualifying pair (s = min side, L = other,
    * O = inter, qualification O·10⁶ ≥ ppm·n_s) survives: the first
    * common gram in the shared (gram_df, gh) order has rank
    * r_s ≤ n_s − O + 1 ≤ contPrefixLen(n_s) on s (O ≥ ⌈ppm·n_s/10⁶⌉) and
    * is trivially in L's full list; its positional bound
    * ub = 1 + min(n_L−r_L, n_s−r_s) ≥ O passes the integer test
    * ub·10⁶ ≥ ppm·n_s. Exact set counts are then recomputed over the
    * full gram sets for candidates only, so output ≡ [[containmentPairs]]
    * bit-for-bit (the spec pins equality; the same oracle hash-checks).
    *
    * Candidate volume is Σ_g f(g)·pcnt(g) instead of Σ_g f(g)²/2 — the
    * df ordering drops hot grams out of every min-side prefix, which is
    * what fences the stop-gram f² zone the full intersection join pays.
    * Corpus-shape-dependent like every prefix fence (measure before
    * registering — the r12 rule).
    */
  def containmentPairsPrefix(df: DataFrame, n: Int, thresholdPpm: Long,
      scope: CacheScope = CacheScope.unmanaged): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = blockedGrams(df, n, scope)
    val dfc = e.groupBy(col("block"), col("gh"))
      .agg(count(lit(1)).as("gram_df"))
    val wDoc = Window.partitionBy(col("doc_id"))
    val ranked = scope.cache(e.join(dfc, Seq("block", "gh"))
      .withColumn("rk",
        row_number().over(wDoc.orderBy(col("gram_df").asc, col("gh").asc)))
      .withColumn("nn", count(lit(1)).over(wDoc))
      .select(col("doc_id"), col("block"), col("gh"), col("rk"), col("nn")))
    val pMin = ranked.filter(col("rk") <= contPrefixLen(col("nn"), thresholdPpm))
    val pa = ranked.alias("pa"); val pb = pMin.alias("pb")
    val ub = lit(1) +
      least(col("pa.nn") - col("pa.rk"), col("pb.nn") - col("pb.rk"))
    val cand = pa.join(pb,
        col("pa.gh") === col("pb.gh") &&
          col("pa.block") === col("pb.block") &&
          (col("pb.nn") < col("pa.nn") ||
            (col("pb.nn") === col("pa.nn") &&
              col("pb.doc_id") < col("pa.doc_id"))) &&
          ub * lit(1000000L) >= lit(thresholdPpm) * col("pb.nn"))
      .select(least(col("pa.doc_id"), col("pb.doc_id")).as("doc_a"),
        greatest(col("pa.doc_id"), col("pb.doc_id")).as("doc_b"))
      .distinct()
    containmentScored(candidateOverlaps(cand, e), setSizes(e), thresholdPpm)
  }

  /** Identity compression around any representative-level pairing core:
    * collapse identical whitespace-normalized contents to one
    * representative per (block, content) group, run `core` (which returns
    * representative pairs + per-representative gram-set sizes) on the
    * representative set only, then expand representative pairs back to
    * document pairs. Output is bit-identical to running the uncompressed
    * all-pairs semantics — see [[jaccardPairs]] for the contract.
    */
  private def identityCompressed(
      df: DataFrame, scope: CacheScope)(
      core: DataFrame => (DataFrame, DataFrame)): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // the grouping pass hashes text in place and shuffles ONLY
    // (doc_id, block, gk1, gk2) int rows — never the text payload
    val keyed = df.select(Seq(col("doc_id"), col("block")) ++
      contentKey(concat_ws(" ", words(col("text")))): _*)
    // one tiny exchange on (block, content-key); every doc learns its
    // group's representative (min doc_id) in the same pass. Only the
    // (doc_id, rep_id) membership is cached — the 120-bit content key and
    // block column it was derived from are dead after this pass, and
    // keeping them would more than double the cached bytes (the round-4
    // driver bench showed this query's three cached frames under memory
    // pressure).
    val mem = scope.cache(
      keyed.withColumn("rep_id",
          min(col("doc_id")).over(
            Window.partitionBy(col("block"), col("gk1"), col("gk2"))))
        .select(col("doc_id"), col("rep_id")))
    // representatives re-fetch their text by a doc_id semi-join against a
    // second scan (columnar scans are cheap; shuffling text is not), and
    // arrive partitioned by doc_id — which the gram window downstream
    // needs anyway, so the word-level explode never pays its own exchange
    val reps = df.join(
        mem.filter(col("doc_id") === col("rep_id")).select(col("doc_id")),
        Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("block"), col("text"))
    val (repPairs, repSizes) = core(reps)
    val ids = mem
    // cross-group document pairs inherit the representative pair's values;
    // doc ordering inside the pair is re-established (member ids need not
    // order the same way as their representatives)
    val crossed = repPairs
      .join(ids.toDF("da", "ra"), col("ra") === col("doc_a"))
      .join(ids.toDF("db", "rb"), col("rb") === col("doc_b"))
      .select(least(col("da"), col("db")).as("doc_a"),
        greatest(col("da"), col("db")).as("doc_b"),
        col("inter"), col("jaccard"))
    // intra-group pairs: identical gram sets ⇒ inter = |set|, jaccard = 1;
    // the inner size join drops zero-gram groups (docs shorter than the
    // gram width share nothing and never pair in the uncompressed form)
    val m1 = ids.toDF("doc_a", "r1"); val m2 = ids.toDF("doc_b", "r2")
    val intra = m1.join(m2,
        col("r1") === col("r2") && col("doc_a") < col("doc_b"))
      .join(repSizes.toDF("r1", "n_grams"), "r1")
      .select(col("doc_a"), col("doc_b"), col("n_grams").as("inter"),
        lit(1.0).as("jaccard"))
    crossed.unionAll(intra)
  }

  /** BOTH fences composed — identity compression around the df-ordered
    * prefix-filtered core: compression removes the exact-duplicate mass
    * that makes prefix joins lose on dup-heavy corpora (every copy of a
    * page would re-enter candidate generation and re-verify), and the
    * prefix filter removes the stop-gram f² zone across DISTINCT contents
    * that compression cannot touch. Both fences are lossless, so the
    * output is bit-identical to [[jaccardPairs]] (τ = tauNum/tauDen) and
    * the same UNcompressed oracle hash-checks it.
    *
    * This is the 100 TB plan for Zipf-vocabulary (real crawl) corpora. On
    * dense small-vocabulary data the prefix candidates approach all-pairs
    * and [[jaccardPairs]] is cheaper — measure on a representative sample
    * (`graft.tools.Probe`'s Zipf fixture documents the crossover).
    */
  def jaccardPairsComposed(df: DataFrame, n: Int, tauNum: Int, tauDen: Int,
      scope: CacheScope = CacheScope.unmanaged): DataFrame =
    identityCompressed(df, scope)(prefixCore(_, n, tauNum, tauDen, scope))

  /** Prefix-filtered exact Jaccard join (the published set-similarity-join
    * fence for Zipf-vocabulary corpora — PPJoin/VernicaJoin family): order
    * each document's grams by ascending in-block document frequency
    * (tie-break on the gram hash — a deterministic total order both
    * engines reproduce), and join ONLY each doc's rarest-gram prefixes:
    * the τ-prefix (p = |d| − ⌈τ·|d|⌉ + 1, [[tauPrefixLen]]) on one side
    * against the α-prefix (α = 2τ/(1+τ), [[prefixLen]]) on the other,
    * with the α side required to be the smaller set — the probing/indexing
    * prefix split of PPJoin, LOSSLESS for all pair shapes including
    * unequal sizes (the r16 symmetric α-join was not; proof at the join
    * site in [[prefixCore]]). Exact Jaccard is then verified over the FULL
    * gram sets restricted to candidates. The stop-gram f² zone never
    * joins: a gram appears in a doc's prefixes only while rarer than
    * ~(1−τ) of the doc's grams, so high-df grams drop out of every prefix.
    *
    * τ is passed as the exact rational tauNum/tauDen so the prefix length
    * is pure integer arithmetic — engine-exact, no float-boundary drift.
    *
    * Cost shape: best when gram df is skewed (real corpora) and τ is high;
    * on dense low-τ data the candidate set approaches all-pairs and the
    * plain [[jaccardPairs]] form is cheaper — measured on the synthetic
    * sf0.1 corpus (tiny vocabulary, τ=0.35) prefix candidates are ~2/3 of
    * all pairs, which is why the registered gate query uses identity
    * compression instead.
    */
  /** Prefix length p = n − ceil(α·n) + 1 with α = 2τ/(1+τ), τ = num/den:
    * ceil(α·n) = (2·num·n + num + den − 1) div (num + den). Integer-exact
    * (the double division is correctly rounded and both operands are exact
    * integers ≪ 2^53, so the truncating cast IS the integer div); always
    * ≥ 1, so every non-empty set keeps at least its rarest gram.
    */
  def prefixLen(nn: Column, tauNum: Int, tauDen: Int): Column =
    nn - ((lit(2 * tauNum) * nn + lit(tauNum + tauDen - 1))
      .divide(lit(tauNum + tauDen)).cast("long")) + 1

  /** τ-prefix (PPJoin's PROBING prefix) p = n − ⌈τ·n⌉ + 1, τ = num/den:
    * the length the LARGER record of an unequal-size pair needs. The α
    * mid-prefix ([[prefixLen]]) is only guaranteed to contain a common
    * gram of the SMALLER side — jaccard ≥ τ gives overlap ≥ ⌈τ·max⌉ and
    * ≥ ⌈α·min⌉, but NOT ≥ α·max (r16 advice: a τ=1/2 containment pair
    * na=6/nb=3 with the 3 common grams last in the larger doc's order
    * qualifies yet has no common gram in the larger doc's α-prefix).
    * Integer-exact like [[prefixLen]].
    */
  def tauPrefixLen(nn: Column, tauNum: Int, tauDen: Int): Column =
    nn - ((lit(tauNum) * nn + lit(tauDen - 1))
      .divide(lit(tauDen)).cast("long")) + 1

  def jaccardPairsPrefix(
      df: DataFrame, n: Int, tauNum: Int, tauDen: Int,
      scope: CacheScope = CacheScope.unmanaged): DataFrame =
    prefixCore(df, n, tauNum, tauDen, scope)._1

  /** The prefix-filtered pairing core: (pairs, per-doc gram-set sizes) —
    * the same shape [[jaccardCore]] returns, so [[identityCompressed]] can
    * wrap either interchangeably.
    */
  private def prefixCore(
      df: DataFrame, n: Int, tauNum: Int, tauDen: Int,
      scope: CacheScope): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    require(tauNum > 0 && tauNum < tauDen, "need 0 < tau < 1")
    val threshold = tauNum.toDouble / tauDen
    val e = blockedGrams(df, n, scope)
    val dfc = e.groupBy(col("block"), col("gh"))
      .agg(count(lit(1)).as("gram_df"))
    val wDoc = Window.partitionBy(col("doc_id"))
    val ranked = e.join(dfc, Seq("block", "gh"))
      .withColumn("rk",
        row_number().over(wDoc.orderBy(col("gram_df").asc, col("gh").asc)))
      .withColumn("nn", count(lit(1)).over(wDoc))
    // PPJoin's probing/indexing prefix split (Xiao et al. 2008), replacing
    // the r16 symmetric α-prefix join that was LOSSY at boundary
    // unequal-size pairs (r16 advice; see [[tauPrefixLen]]). Proof that
    // every qualifying pair (x, y) survives: let s be the (nn, doc_id)-
    // lexicographically smaller side, L the other, O = |x ∩ y| and
    // t = ⌈τ/(1+τ)·(n_s+n_L)⌉ so jaccard ≥ τ ⇔ O ≥ t. The FIRST common
    // gram g* in the shared (gram_df, gh) total order has all O common
    // grams at-or-after it in BOTH lists, so its ranks satisfy
    // r_L ≤ n_L − O + 1 ≤ n_L − ⌈τ·n_L⌉ + 1   (O ≥ τ(n_s+n_L−O) ≥ τ·n_L)
    // r_s ≤ n_s − O + 1 ≤ n_s − ⌈α·n_s⌉ + 1   (O ≥ τ/(1+τ)(n_s+n_L) ≥ α·n_s)
    // i.e. g* is in L's τ-prefix (pa) and s's α-prefix (pb), and its
    // positional bound ub = 1 + min(n_L−r_L, n_s−r_s) ≥ O passes the
    // integer-exact test ub·(τn+τd) ≥ τn·(na+nb) ⇔ (bound on) jaccard ≥ τ.
    // The row (pa = L, pb = s) therefore always exists and passes every
    // predicate — candidate generation is lossless; the full-set verify
    // below restores exactness. The positional filter also SUBSUMES the
    // per-pair optimum (it implies the min side sits within its α-prefix
    // and the length filter min·τd ≥ max·τn), so no separate length
    // predicate is needed. Join volume is Σ_g τcnt(g)·αcnt(g) — ~1.8× the
    // old lossy α² at τ=0.8 before filtering, the price of correctness.
    val pTau = scope.cache(
      ranked.filter(col("rk") <= tauPrefixLen(col("nn"), tauNum, tauDen))
        .select(col("doc_id"), col("block"), col("gh"), col("rk"), col("nn")))
    val pAlpha = pTau.filter(col("rk") <= prefixLen(col("nn"), tauNum, tauDen))
    val pa = pTau.alias("pa"); val pb = pAlpha.alias("pb")
    val ub = lit(1) +
      least(col("pa.nn") - col("pa.rk"), col("pb.nn") - col("pb.rk"))
    val cand = pa.join(pb,
        col("pa.gh") === col("pb.gh") &&
          col("pa.block") === col("pb.block") &&
          (col("pb.nn") < col("pa.nn") ||
            (col("pb.nn") === col("pa.nn") &&
              col("pb.doc_id") < col("pa.doc_id"))) &&
          ub * lit(tauNum + tauDen) >=
            lit(tauNum) * (col("pa.nn") + col("pb.nn")))
      .select(least(col("pa.doc_id"), col("pb.doc_id")).as("doc_a"),
        greatest(col("pa.doc_id"), col("pb.doc_id")).as("doc_b"))
      .distinct()
    val sizes = setSizes(e)
    (jaccardScored(candidateOverlaps(cand, e), sizes, threshold), sizes)
  }

  /** Per-document duplicated-substring rate: the fraction of a document's
    * positional `w`-word windows whose content also occurs in at least one
    * OTHER document. The semantics of exact-substring dedup (the
    * suffix-array pass of "Deduplicating Training Data Makes Language
    * Models Better", Lee et al. 2022) restated for a cluster: a suffix
    * array is inherently sequential, but "window seen elsewhere" is
    * window-hash → document-frequency — every stage a linear scan or an
    * int-keyed aggregation. Windows are positional, NOT a set: a phrase
    * pasted five times counts five times, as a span measure should.
    * Repetition purely WITHIN one document does not count (that signal is
    * text_repetition's); duplication means a second document has the span.
    *
    * Scale shape: the per-(doc, hash) multiplicity agg rides the gram
    * window's doc_id partitioning (hash(doc_id) satisfies the
    * (doc_id, gh) clustering — no new exchange); the document-frequency
    * agg and the join back move only the REDUCED distinct (doc, hash)
    * frame on int keys. Nothing is quadratic in corpus size — the
    * stop-gram f² trap of shared-gram SELF-joins cannot occur because
    * frequency is an aggregation, not a pairing. The window key is the
    * 64-bit [[windowHash]]: a 32-bit key would make nearly every unique
    * window share a bucket with some other document at crawl scale,
    * inflating dup_rate toward 1 for clean docs.
    *
    * Output (doc_id, n_windows, n_dup_windows, dup_rate); documents with
    * fewer than `w` words have no windows and no row.
    */
  def substringDupRate(df: DataFrame, w: Int,
      scope: CacheScope = CacheScope.unmanaged): DataFrame = {
    val grams = explodedGrams(df, w, distinct = false)
      .select(col("doc_id") +: windowHash(col("gram")): _*)
    // one row per (doc, window-hash) with positional multiplicity; feeds
    // both the document-frequency agg and the final per-doc rollup
    val perDoc = scope.cache(
      grams.groupBy(col("doc_id"), col("gh1"), col("gh2"))
        .agg(count(lit(1)).as("c")))
    val docFreq = perDoc.groupBy(col("gh1"), col("gh2"))
      .agg(count(lit(1)).as("n_docs"))
    perDoc.join(docFreq, Seq("gh1", "gh2"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_windows"),
        sum(when(col("n_docs") >= 2, col("c")).otherwise(0L))
          .as("n_dup_windows"))
      .withColumn("dup_rate",
        col("n_dup_windows").cast("double") / col("n_windows"))
  }

  /** Exact substring deduplication (the removal step the rate metric
    * measures — Lee et al. "Deduplicating Training Data Makes Language
    * Models Better", reference capability class): drop every token that
    * lies inside a `w`-token window whose hash occurs in ≥ 2 DISTINCT
    * documents, and re-emit the cleaned text.
    *
    * Semantics (oracle-stated): token at position q of doc d is removed
    * iff some window start p with p ≤ q ≤ p+w-1 has cross-document
    * frequency ≥ 2. Documents shorter than `w` have no windows and pass
    * through verbatim. Output (doc_id, n_tokens, n_removed, clean_text)
    * with clean_text the kept tokens joined by single spaces ('' when
    * everything was removed).
    *
    * 100 TB shape: the same int-keyed window-hash cascade as
    * [[substringDupRate]] — the frequency pass shuffles only
    * (gh1, gh2, doc) int rows, never text. Duplicated-window starts
    * expand to covered positions by a constant-width `sequence`
    * explode (≤ w× the DUPLICATED windows only, not the corpus), and the
    * rebuild is one per-doc aggregation whose collect_list is bounded by
    * document length — the per-doc sort is the reassembly contract, not a
    * global sort. Keys are the 64-bit [[windowHash]], as in the rate
    * query.
    */
  /** INTRA-document repetition cleaning — the within-doc sibling of
    * [[substringDedupClean]] (which deliberately removes only CROSS-doc
    * duplicated windows): the first occurrence of each w-token window in
    * a document is kept, and every position covered by a LATER
    * occurrence of the same window is removed. Overlapping self-repeats
    * remove positions, not window identities, so a run like `a a a a`
    * at w=2 keeps only the first token — a deterministic contract both
    * engines state identically (the Lee-et-al repetition-trim shape).
    *
    * Scale: identical cascade to [[substringDedupClean]] — positional
    * window hashes ride the doc_id window partitioning, the
    * first-occurrence agg and repeat filter are per-(doc, hash) int-key
    * aggregations, the rebuild is a per-doc ordered agg; nothing
    * quadratic, text never shuffles (only (doc_id, pos, 64-bit-hash)
    * triples).
    *
    * Output: (doc_id, n_tokens, n_removed, clean_text).
    */
  def repetitionClean(df: DataFrame, w: Int,
      scope: CacheScope = CacheScope.unmanaged): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ws = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val toks = scope.cache(df.select(col("doc_id"),
      posexplode(words(col("text"))).as(Seq("pos", "tok"))))
    val withParts = (1 until w).foldLeft(toks) { (acc, j) =>
      acc.withColumn(s"t$j", lead(col("tok"), j).over(ws))
    }
    val parts = col("tok") +: (1 until w).map(j => col(s"t$j"))
    val occ = withParts.filter(parts.last.isNotNull)
      .select(Seq(col("doc_id"), col("pos").as("spos")) ++
        windowHash(concat_ws(" ", parts: _*)): _*)
    val firsts = occ.groupBy(col("doc_id"), col("gh1"), col("gh2"))
      .agg(min(col("spos")).as("first_pos"))
    val covered = occ.join(firsts, Seq("doc_id", "gh1", "gh2"))
      .filter(col("spos") > col("first_pos"))
      .select(col("doc_id"),
        explode(sequence(col("spos"), col("spos") + lit(w - 1))).as("pos"))
      .distinct()
    toks
      .join(covered.withColumn("rm", lit(true)), Seq("doc_id", "pos"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("rm"), 1L).otherwise(0L)).as("n_removed"),
        concat_ws(" ", transform(
          filter(sort_array(collect_list(struct(col("pos"),
            when(col("rm").isNull, col("tok")).as("tok")))),
            x => x.getField("tok").isNotNull),
          x => x.getField("tok"))).as("clean_text"))
  }

  def substringDedupClean(df: DataFrame, w: Int,
      scope: CacheScope = CacheScope.unmanaged): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ws = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    // one tokenize pass feeds both the window hashes and the rebuild
    val toks = scope.cache(df.select(col("doc_id"),
      posexplode(words(col("text"))).as(Seq("pos", "tok"))))
    val withParts = (1 until w).foldLeft(toks) { (acc, j) =>
      acc.withColumn(s"t$j", lead(col("tok"), j).over(ws))
    }
    val parts = col("tok") +: (1 until w).map(j => col(s"t$j"))
    val occ = withParts.filter(parts.last.isNotNull)
      .select(Seq(col("doc_id"), col("pos").as("spos")) ++
        windowHash(concat_ws(" ", parts: _*)): _*)
    // distinct docs per window hash; dup windows are the ones shared
    // across documents (within-doc repeats alone don't trigger removal —
    // text_repetition covers those)
    val docFreq = occ.select(col("doc_id"), col("gh1"), col("gh2")).distinct()
      .groupBy(col("gh1"), col("gh2")).agg(count(lit(1)).as("n_docs"))
    val covered = occ
      .join(docFreq.filter(col("n_docs") >= 2), Seq("gh1", "gh2"))
      .select(col("doc_id"),
        explode(sequence(col("spos"), col("spos") + lit(w - 1))).as("pos"))
      .distinct()
    toks
      .join(covered.withColumn("rm", lit(true)), Seq("doc_id", "pos"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("rm"), 1L).otherwise(0L)).as("n_removed"),
        concat_ws(" ", transform(
          filter(sort_array(collect_list(struct(col("pos"),
            when(col("rm").isNull, col("tok")).as("tok")))),
            x => x.getField("tok").isNotNull),
          x => x.getField("tok"))).as("clean_text"))
  }
}
