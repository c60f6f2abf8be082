package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Embedding similarity search: brute-force cosine top-k as the exact
  * baseline, and a sign-LSH bucketed variant as the scale path.
  *
  * Vectors are `Array[Float]` columns cast to double; dot products and
  * norms are higher-order `aggregate`/`zip_with` column expressions —
  * codegen'd, no UDF, no driver-side math.
  *
  * Design for 100 TB:
  *  - brute force is query-side-broadcast ⨝ corpus (the corpus never
  *    shuffles; each executor streams its partitions against the broadcast
  *    queries and the top-k is a per-window rank on (query, corpus-slice)
  *    partials);
  *  - sign-LSH assigns each vector an integer bucket from the sign pattern
  *    of `planes` fixed pseudo-random hyperplanes, turning ANN into an
  *    equi-join on bucket — the 1/2^planes bucket volume is the only
  *    quadratic zone, and recall is tunable via multi-probe (hamming-1
  *    neighbor buckets).
  */
object Similarity {

  /** Cast to double and pair with its L2 norm. */
  def withNorm(df: DataFrame, id: Column, vec: Column): DataFrame =
    df.select(id.as("vec_id"), vec.cast("array<double>").as("v"))
      .withColumn("norm", graft.functions.VectorFunctions.l2_norm(col("v")))

  def dot(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.dot_product(a, b)

  /** Rounded cosine similarity; +1e-12 nudge keeps cross-engine rounding
    * in agreement at representation-noise boundaries.
    */
  def cosine(va: Column, na: Column, vb: Column, nb: Column): Column =
    round(dot(va, vb) / (na * nb) + lit(1e-12), 6)

  /** Spread a frame to the cluster's parallelism ONLY when its scan is
    * narrower (guide §2.5: repartition after a non-splittable read). The
    * vectors table is one parquet split at bench SFs, so every stage that
    * streams it — the brute-force quadratic loop in particular — otherwise
    * runs in ONE task with every other core idle (r17: knn_classify's
    * 8-core/32-core ratio measured 0.96). At scale the scan has ≥ cores
    * splits and this is the identity — no shuffle is added where the
    * layout already parallelizes, so nothing is tuned to local[32]. The
    * [[Regime]] record at site `spread` compares partition counts.
    */
  private def spreadIfNarrow(df: DataFrame): DataFrame = {
    val want = df.sparkSession.sparkContext.defaultParallelism
    if (Regime.choose("spread", df.rdd.getNumPartitions, want - 1))
      df.repartition(want)
    else df
  }

  /** Exact top-k neighbors for each query vector (brute force).
    * Output (query_id, neighbor_id, sim, rn).
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val q = broadcast(queries
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("norm").as("qn")))
    val scored = spreadIfNarrow(corpus).join(q, col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosine(col("qv"), col("qn"), col("v"), col("norm")).as("sim"))
    TopN.topNPer(scored, col("query_id"), col("sim"), col("neighbor_id"), k)
  }

  /** Near-duplicate pairs via sign-LSH blocking + exact-cosine verification:
    * candidates are pairs whose buckets differ by hamming ≤ 1 (the probing
    * side expands each bucket into itself plus its single-bit flips), found
    * by an equi-join on bucket — never an all-pairs join — then verified
    * with the exact rounded cosine. Deterministic end-to-end, so a SQL
    * oracle reproduces it bit-for-bit. At 100 TB this is the near-dup
    * shape: candidate volume ≈ (planes+1)/2^planes of each bucket's square,
    * tunable by `planes`.
    */
  def nearDupPairsBlocked(
      vectors: DataFrame, threshold: Double, planes: Int, dims: Int,
      scope: CacheScope = CacheScope.unmanaged): DataFrame =
    lshCandidates(vectors, planes, dims, scope)(
        col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        cosine(col("a.v"), col("a.norm"), col("b.v"), col("b.norm")).as("sim"))
      .filter(col("sim") >= threshold)

  /** All near-duplicate pairs with cosine ≥ threshold (exact, pairwise
    * within the id-ordered half-matrix). Quadratic — the small-scale
    * baseline; `nearDupPairsBlocked` is the declared scale path.
    */
  def nearDupPairs(vectors: DataFrame, threshold: Double): DataFrame = {
    val a = vectors.alias("a"); val b = vectors.alias("b")
    a.join(b, col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        cosine(col("a.v"), col("a.norm"), col("b.v"), col("b.norm")).as("sim"))
      .filter(col("sim") >= threshold)
  }

  /** Deterministic pseudo-random hyperplane weight for (plane j, dim d):
    * integer LCG-ish mix, exactly reproducible anywhere — public because the
    * DuckDB oracle restates the same weights as literal arrays.
    */
  def planeWeight(j: Int, d: Int): Double =
    ((j * 7919 + d * 104729) % 97 - 48).toDouble

  /** Sign-LSH bucket id from `planes` hyperplanes over `dims`-dimensional
    * vectors. Plane weights are plan-time constant arrays, so each sign is
    * one codegen'd [[graft.functions.DotProduct]] against a folded literal —
    * no per-element lambda interpretation.
    */
  def lshBucket(v: Column, planes: Int, dims: Int): Column =
    (0 until planes).map { j =>
      val w = array((0 until dims).map(d => lit(planeWeight(j, d))): _*)
      val s = graft.functions.VectorFunctions.dot_product(v, w)
      when(s > 0, lit(1 << j)).otherwise(lit(0))
    }.reduce(_ + _)

  /** Projection-plane weight in [-1, 1): a splitmix64-style avalanche of
    * (plane, dim). [[planeWeight]]'s LCG-ish mix is NOT reused here: its
    * rows are cyclic shifts of one period-97 sequence (measured 0.82
    * inter-plane correlation) — harmless for [[lshBucket]]'s one-bit
    * signs, fatal for a projection, whose planes must be near-orthogonal
    * in expectation (the avalanche mix measures ≤ 0.40). 20 mantissa bits
    * keep the decimal literal short; Scala's `Double.toString` round-trips,
    * so the SQL oracle's parsed literal is the identical double.
    */
  def projWeight(o: Int, d: Int): Double = {
    var z = o.toLong * 0x9E3779B97F4A7C15L + d.toLong * 0xBF58476D1CE4E5B9L +
      0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z = z ^ (z >>> 31)
    ((z & 0xFFFFFL).toDouble / 0x80000L.toDouble) - 1.0
  }

  /** Random projection (Johnson–Lindenstrauss) of each vector onto
    * `outDims` fixed pseudo-random hyperplanes — the vector-compression
    * sibling of int8 quantization: where quantization shrinks each
    * coordinate, projection shrinks the coordinate COUNT (64→8 cuts
    * storage and pairwise-scoring flops 8×). The contract is the JL one —
    * pairwise-distance/cosine preservation with error ∝ 1/√outDims, NOT
    * top-k survival: on near-uniform vectors (tiny neighbor margins, like
    * the synthetic driver embeddings) even a true Gaussian projection
    * scrambles top-k, while the distance error still decays on schedule
    * (spec-measured: mean |Δcos| 0.29 → 0.20 → 0.14 at 8 → 16 → 32 dims,
    * the √2 ladder). Use it for coarse pre-filters and sketch storage;
    * keep exact rerank on the full vectors.
    *
    * Per row it is `outDims` codegen'd [[graft.functions.DotProduct]]s
    * against plan-time literal weight arrays — inside the scan stage,
    * zero exchanges at any corpus size, the same shape as
    * [[lshBucket]]/`Int8QuantStats`. Both engines loop the dot product in
    * identical element order, so the doubles agree bit-for-bit and the
    * +1e-12-nudged 6-decimal round (the cosine discipline) hash-matches.
    * Output: (vec_id, p0..p{outDims-1}).
    */
  def randomProject(vectors: DataFrame, outDims: Int, dims: Int): DataFrame =
    vectors.select(col("vec_id") +: (0 until outDims).map { o =>
      val w = array((0 until dims).map(d => lit(projWeight(o, d))): _*)
      round(graft.functions.VectorFunctions.dot_product(col("v"), w)
        + lit(1e-12), 6).as(s"p$o")
    }: _*)

  /** IVF (inverted-file) ANN: assign every vector to its nearest centroid
    * cell, probe the `nprobe` cells nearest each query, exact-cosine rank
    * within probed cells. The operator shape is production IVF; centroid
    * choice here is deterministic (the first `centroids` vectors by id)
    * instead of trained k-means so the whole path — assignment argmax,
    * probe ranking, final top-k — is exactly reproducible by a SQL oracle.
    * Swap the centroid frame for trained centroids without touching the
    * pipeline.
    *
    * Scale shape: assignment is a C-bounded broadcast product (C constant,
    * per-row work = C dot products, no shuffle of the vector payload — the
    * ranking shuffles only (vec_id, cent_id, score) triples); the candidate
    * stage is an equi-join on the int cell id. Assignment ties break by
    * centroid id on the ROUNDED score so engines agree at representation
    * boundaries.
    *
    * Output (query_id, neighbor_id, sim, rn) for query vectors selected by
    * `isQuery`.
    */
  def ivfTopK(
      vectors: DataFrame, isQuery: Column, centroids: Int, nprobe: Int,
      k: Int): DataFrame =
    ivfTopKWith(vectors, seedCentroids(vectors, centroids), isQuery, nprobe, k)

  /** The deterministic seed centroids: the first `c` vectors by id. Also
    * the k-means init ([[kmeansCentroids]]).
    */
  def seedCentroids(vectors: DataFrame, c: Int): DataFrame =
    vectors.filter(col("vec_id") < c)
      .select(col("vec_id").as("cent_id"), col("v").as("cv"),
        col("norm").as("cnorm"))

  /** IVF with an explicit centroid frame (cent_id, cv, cnorm) — seeds or
    * trained ([[kmeansCentroids]]); the pipeline is identical either way.
    */
  def ivfTopKWith(
      vectors: DataFrame, centroids: DataFrame, isQuery: Column, nprobe: Int,
      k: Int, scope: CacheScope = CacheScope.unmanaged): DataFrame = {
    // score every vector against every centroid (explicit C-bounded
    // broadcast product — C is a constant, this is the IVF assign stage,
    // not a data×data cross); drop the payload before the ranking shuffle
    val scored = vectors.crossJoin(broadcast(centroids))
      .select(col("vec_id"), col("cent_id"),
        cosine(col("v"), col("norm"), col("cv"), col("cnorm")).as("cscore"))
    val ranked = scope.cache(TopN.topNPer(scored, col("vec_id"),
      col("cscore"), col("cent_id"), math.max(nprobe, 1)))
    val cells = ranked.filter(col("rn") === 1)
      .select(col("vec_id"), col("cent_id").as("cell"))
    val corpus = vectors.join(cells, "vec_id")
    val probes = vectors.filter(isQuery)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("norm").as("qn"))
      .join(ranked.filter(col("rn") <= nprobe)
        .select(col("vec_id").as("query_id"), col("cent_id").as("cell")),
        "query_id")
    val scoredPairs = probes.join(corpus,
        probes("cell") === corpus("cell") &&
          col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosine(col("qv"), col("qn"), col("v"), col("norm")).as("sim"))
    TopN.topNPer(scoredPairs, col("query_id"), col("sim"), col("neighbor_id"), k)
  }

  /** Quantization scale for engine-exact k-means: coordinates become
    * `round(v·10⁶)` BIGINTs, so per-cell coordinate sums are exact integer
    * arithmetic — order-independent, hence identical on any engine, any
    * partitioning, any reduction tree. (Double summation is
    * order-dependent; a distributed partial-sum tree and a sequential SQL
    * engine would disagree in the last ulp and the argmin assignments
    * could flip.) One double division per centroid coordinate at the end.
    */
  val KmeansQuantScale: Double = 1e6

  /** Lloyd's k-means over the cosine assignment, run for a FIXED `iters`
    * rounds from the deterministic seeds — fixed (not convergence-tested)
    * so a SQL oracle can unroll the exact same computation. Returns
    * (cent_id, cv, cnorm); cells that lose all members drop out.
    *
    * Scale shape per iteration: the assign stage is the C-bounded
    * broadcast product (no payload shuffle); the update stage shuffles the
    * quantized (cell, dim) partial sums — map-side combine collapses each
    * map partition to ≤ C·dims rows, so the exchange is O(C·dims·tasks)
    * regardless of corpus size. Centroid arrays are reassembled with a
    * sort_array(collect_list(struct(d, coord))) — deterministic despite
    * collect_list's arbitrary order because the struct sort is total — and
    * field-extracted (GetArrayStructFields, codegen; C rows, never a hot
    * path).
    */
  def kmeansCentroids(vectors: DataFrame, c: Int, iters: Int,
      scope: CacheScope = CacheScope.unmanaged): DataFrame = {
    // quantized per-dim view: one row per (vec_id, dim), exact integers;
    // reused every iteration — cache (O(n·dims) ints)
    val qd = scope.cache(vectors
      .select(col("vec_id"), posexplode(col("v")).as(Seq("d", "coord")))
      .select(col("vec_id"), col("d"),
        round(col("coord") * KmeansQuantScale + lit(1e-9)).cast("long").as("q")))
    var cents = seedCentroids(vectors, c)
    for (_ <- 0 until iters) {
      val cells = ivfAssign(vectors, cents)
      val sums = qd.join(cells, "vec_id")
        .groupBy(col("cell"), col("d"))
        .agg(sum(col("q")).as("sq"), count(lit(1)).as("n"))
      cents = sums
        .groupBy(col("cell"))
        .agg(sort_array(collect_list(struct(col("d"),
          (col("sq").cast("double") / (col("n") * KmeansQuantScale))
            .as("coord")))).as("s"))
        .select(col("cell").as("cent_id"), col("s.coord").as("cv"))
        .withColumn("cnorm", graft.functions.VectorFunctions.l2_norm(col("cv")))
    }
    cents
  }

  /** Nearest-centroid cell per vector: (vec_id, cell). Argmax on the
    * ROUNDED cosine with centroid-id tie-break, same total order as the
    * IVF pipeline's rn=1.
    */
  def ivfAssign(vectors: DataFrame, centroids: DataFrame): DataFrame = {
    val scored = vectors.crossJoin(broadcast(centroids))
      .select(col("vec_id"), col("cent_id"),
        cosine(col("v"), col("norm"), col("cv"), col("cnorm")).as("cscore"))
    TopN.topNPer(scored, col("vec_id"), col("cscore"), col("cent_id"), 1)
      .select(col("vec_id"), col("cent_id").as("cell"))
  }

  /** Within-cell near-duplicate pairs over an explicit centroid frame (the
    * SemDeDup pair stage) — identity-compressed, like
    * [[Dedup.jaccardPairs]] on the text side: vectors with bit-identical
    * content collapse to one representative per group BEFORE the
    * within-cell half-matrix join, and representative-level pairs expand
    * back to vector pairs afterwards. A corpus where every embedding has d
    * exact copies (the same page embedded from d crawls) would otherwise
    * pay d² join rows per near-dup group; compression makes the join
    * invariant to d — only the output (which IS d² pairs, the answer
    * itself) stays proportional. Output is bit-identical to the
    * uncompressed form: members share their representative's cell
    * (identical vector ⇒ identical deterministic argmax), cross-group
    * pairs inherit the representative pair's cosine (identical values),
    * and intra-group sims are computed by the SAME cosine expression
    * against the representative itself, so degenerate vectors behave
    * identically. The group key is 120 bits of md5 over the rendered
    * vector — the grouping pass shuffles (vec_id, 2×BIGINT) rows, never
    * the vector payload.
    */
  def withinCellPairs(
      vectors: DataFrame, centroids: DataFrame, threshold: Double,
      scope: CacheScope = CacheScope.unmanaged): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val keyed = vectors.select(
      col("vec_id") +: Dedup.contentKey(col("v").cast("string")): _*)
    val mem = scope.cache(keyed.withColumn("rep_id",
        min(col("vec_id")).over(Window.partitionBy(col("gk1"), col("gk2"))))
      .select(col("vec_id"), col("rep_id")))
    val reps = vectors.join(
        mem.filter(col("vec_id") === col("rep_id")).select(col("vec_id")),
        Seq("vec_id"), "left_semi")
    // self-joined derived frame — cache so both pair sides read one
    // materialization of the assign stage
    val withCell = scope.cache(reps.join(ivfAssign(reps, centroids), "vec_id"))
    val a = withCell.alias("a"); val b = withCell.alias("b")
    val repPairs = a.join(b, col("a.cell") === col("b.cell") &&
        col("a.vec_id") < col("b.vec_id"))
      .select(col("a.cell").as("cell"),
        col("a.vec_id").as("ra"), col("b.vec_id").as("rb"),
        cosine(col("a.v"), col("a.norm"), col("b.v"), col("b.norm"))
          .as("sim"))
      .filter(col("sim") >= threshold)
    // cross-group pairs inherit the representative pair's cell and cosine;
    // pair ordering is re-established (member ids need not order the same
    // way as their representatives)
    val crossed = repPairs
      .join(mem.toDF("da", "ra"), "ra")
      .join(mem.toDF("db", "rb"), "rb")
      .select(col("cell"),
        least(col("da"), col("db")).as("vec_a"),
        greatest(col("da"), col("db")).as("vec_b"), col("sim"))
    // intra-group pairs: the self-cosine runs through the same expression
    // (1.0 for any non-degenerate vector) so the threshold drops exactly
    // the groups the uncompressed join would drop
    val selfSim = withCell.select(col("vec_id").as("r1"), col("cell"),
        cosine(col("v"), col("norm"), col("v"), col("norm")).as("sim"))
      .filter(col("sim") >= threshold)
    val m1 = mem.toDF("vec_a", "r1"); val m2 = mem.toDF("vec_b", "r2")
    val intra = m1.join(m2,
        col("r1") === col("r2") && col("vec_a") < col("vec_b"))
      .join(selfSim, "r1")
      .select(col("cell"), col("vec_a"), col("vec_b"), col("sim"))
    crossed.unionAll(intra)
  }

  /** ANN via LSH buckets with hamming-1 multi-probe: the query side probes
    * its own bucket plus each single-bit-flip neighbor, recovering most of
    * the recall lost to sign boundaries while keeping the join an equi-join
    * on bucket (candidates ≈ (planes+1)/2^planes of the corpus per query).
    */
  def lshTopK(vectors: DataFrame, planes: Int, k: Int, dims: Int = 64,
      scope: CacheScope = CacheScope.unmanaged): DataFrame = {
    val scored = lshCandidates(vectors, planes, dims, scope)(
        col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("query_id"), col("b.vec_id").as("neighbor_id"),
        cosine(col("a.v"), col("a.norm"), col("b.v"), col("b.norm")).as("sim"))
    TopN.topNPer(scored, col("query_id"), col("sim"), col("neighbor_id"), k)
  }

  /** The LSH candidate join shared by [[lshTopK]] and
    * [[nearDupPairsBlocked]]: side `a` is every vector once per probe
    * (its bucket and each single-bit flip), side `b` the bucketed corpus,
    * joined on `a.probe = b.bucket` and `pair`. Each (a, b) pair matches
    * on exactly one probe value (the probe set {bucket^p} is pairwise
    * distinct and b's bucket is fixed), so multiplicity is 1 by
    * construction — no distinct, which would shuffle the candidates again.
    *
    * The corpus is spread off its 1-split scan, bucketed and cached (both
    * sides read it). At or below [[Regime.LshBroadcastBytes]] (8 B per
    * dimension per row; site `lsh_broadcast`) side `b` is broadcast: with
    * only 2^planes distinct buckets the equi-join's exchange hashes a
    * handful of keys onto the shuffle partitions (guide §2.5's
    * too-few-distinct-keys trap), and the broadcast removes both that
    * exchange and its skew (measured 2.73 → 0.86 s at sf0.1). Above it the
    * bucket equi-join stays: at corpus scale it is the only shape that doesn't
    * ship the corpus to every executor. The count doubles as the cache
    * materialization the join needs anyway.
    */
  private def lshCandidates(vectors: DataFrame, planes: Int, dims: Int,
      scope: CacheScope)(pair: Column): DataFrame = {
    val withBucket = scope.cache(spreadIfNarrow(vectors)
      .withColumn("bucket", lshBucket(col("v"), planes, dims)))
    val bcast = Regime.choose("lsh_broadcast",
      withBucket.count() * 8L * dims, Regime.LshBroadcastBytes)
    val probes = withBucket.withColumn("probe",
      explode(array((lit(0) +: (0 until planes).map(j => lit(1 << j))): _*)))
      .withColumn("probe", col("bucket").bitwiseXOR(col("probe")))
    val b = if (bcast) broadcast(withBucket.alias("b"))
      else withBucket.alias("b")
    probes.alias("a").join(b, col("a.probe") === col("b.bucket") && pair)
  }

  /** Product quantization (Jégou et al., the IVF-PQ storage half): split
    * each `dims`-vector into `m` contiguous subspaces and replace each
    * subvector with the id of its nearest codebook entry — `m` small ints
    * per vector instead of `dims` floats (64 doubles → 4 bytes here; with
    * int8 quantization and JL projection this completes the
    * embedding-compression triple: coordinate width, coordinate count,
    * coordinate identity).
    *
    * Codebook: the subvectors of the first `k` vectors by id — the same
    * deterministic seeding contract as [[seedCentroids]], so both engines
    * derive it from the data alone (swap in per-subspace
    * [[kmeansCentroids]] for trained codebooks; the assignment pipeline is
    * identical).
    *
    * Distances are exact squared L2 per subspace, quantized to integer
    * micros BEFORE the argmin (round(d·10⁶ + 1e-9)): the argmin key and
    * the summed reconstruction error are both integers, so partial-agg
    * order can't perturb ties or totals, and ONE double division at the
    * end re-scales (the engine-exact distributed-mean discipline).
    * The argmin itself is `min(struct(qdist, code))` — a partial-aggregable
    * two-phase agg, NOT a window sort: at corpus scale the m·k scored rows
    * per vector collapse map-side.
    *
    * 100 TB shape: codebook is broadcast (m·k rows); the corpus explodes to
    * m subvector rows per vector (constant fan-out, partition-local),
    * scores against the broadcast, and aggregates back to one row per
    * vector — the payload never shuffles, exactly the IVF-assign shape.
    *
    * Output: (vec_id, c0..c{m-1}, recon_err).
    */
  /** Subvector explode of (vec_id, v): one row per (vec_id, s, sv). */
  private def pqSubvectors(vectors: DataFrame, m: Int, sub: Int): DataFrame =
    vectors.select(col("vec_id"),
      posexplode(array((0 until m).map(s =>
        slice(col("v"), s * sub + 1, sub)): _*)).as(Seq("s", "sv")))

  /** Micro-quantized squared L2 between a subvector and a codebook entry:
    * |a-b|² = a·a − 2·a·b + b·b, evaluated in the same association order
    * as the oracle's SQL so the doubles agree bit-for-bit pre-rounding,
    * then rounded to integer micros (+1e-9 nudge) — the argmin key, the
    * reconstruction error, and the ADC score are all integers from here.
    */
  private def pqQdist: Column = pqQdistOf(col("sv"), col("cv"))

  /** The same micro-quantized distance over explicit operand columns —
    * shared with the streaming ADC screen
    * ([[graft.streaming.StreamingSimilarity]]), so the stream-vs-batch
    * bit-equality holds by construction instead of by textual sync.
    */
  private[graft] def pqQdistOf(sv: Column, cv: Column): Column = {
    val dist = dot(sv, sv) - lit(2.0) * dot(sv, cv) + dot(cv, cv)
    round(dist * lit(1e6) + lit(1e-9), 0).cast("long")
  }

  /** Per-(vector, subspace) nearest codebook entry: (vec_id, s, qdist,
    * code). The codebook is the subvectors of the first `k` vectors
    * ([[seedCentroids]]' contract), broadcast; the argmin is
    * `min(struct(qdist, code))` — partial-aggregable, no window sort.
    */
  def pqAssign(vectors: DataFrame, m: Int, k: Int, dims: Int): DataFrame = {
    require(dims % m == 0, s"dims=$dims not divisible by m=$m")
    val subv = pqSubvectors(vectors, m, dims / m)
    val cb = broadcast(subv.filter(col("vec_id") < k)
      .select(col("s"), col("vec_id").cast("int").as("code"),
        col("sv").as("cv")))
    subv.join(cb, "s")
      .select(col("vec_id"), col("s"), col("code"), pqQdist.as("qdist"))
      .groupBy(col("vec_id"), col("s"))
      .agg(min(struct(col("qdist"), col("code"))).as("b"))
      .select(col("vec_id"), col("s"),
        col("b.qdist").as("qdist"), col("b.code").as("code"))
  }

  def pqCodes(vectors: DataFrame, m: Int, k: Int, dims: Int): DataFrame = {
    val best = pqAssign(vectors, m, k, dims)
    val aggs = (0 until m).map(s =>
      max(when(col("s") === s, col("code"))).as(s"c$s")) :+
      (sum(col("qdist")).cast("double") / lit(1e6)).as("recon_err")
    best.groupBy(col("vec_id")).agg(aggs.head, aggs.tail: _*)
  }

  /** PQ with a TRAINED codebook: one Lloyd's refinement iteration in L2 —
    * seed-codebook assignment ([[pqAssign]]), per-(subspace, code)
    * codebook rebuild as quantized means (the [[kmeansCentroids]]
    * integer-sum discipline: BIGINT coordinate sums are order-independent,
    * ONE double division per coordinate), then re-assignment against the
    * refined entries. The refinement is uniform over the subspace column —
    * one aggregation trains all m codebooks at once, no per-subspace
    * loop — and empty cells simply drop out of the refined codebook in
    * both engines. Output schema identical to [[pqCodes]]; reconstruction
    * error is never higher in aggregate (that is the spec's contract).
    */
  def pqCodesTrained(vectors: DataFrame, m: Int, k: Int, dims: Int): DataFrame =
    pqEncodeWith(vectors, pqTrainCodebook(vectors, m, k, dims), m, dims)

  /** The training half of [[pqCodesTrained]]: the refined codebook
    * (s, code, cv) — a model-sized artifact (m·k rows) a production
    * pipeline persists once and encodes against many times
    * ([[graft.jobs.ArtifactJobs]]).
    */
  def pqTrainCodebook(vectors: DataFrame, m: Int, k: Int, dims: Int): DataFrame = {
    require(dims % m == 0, s"dims=$dims not divisible by m=$m")
    val subv = pqSubvectors(vectors, m, dims / m)
    val assign0 = pqAssign(vectors, m, k, dims)
      .select(col("vec_id"), col("s"), col("code"))
    val qd = subv
      .select(col("vec_id"), col("s"),
        posexplode(col("sv")).as(Seq("d", "coord")))
      .select(col("vec_id"), col("s"), col("d"),
        round(col("coord") * KmeansQuantScale + lit(1e-9))
          .cast("long").as("q"))
    qd.join(assign0, Seq("vec_id", "s"))
      .groupBy(col("s"), col("code"), col("d"))
      .agg(sum(col("q")).as("sq"), count(lit(1)).as("n"))
      .groupBy(col("s"), col("code"))
      .agg(sort_array(collect_list(struct(col("d"),
        (col("sq").cast("double") / (col("n") * KmeansQuantScale))
          .as("coord")))).as("arr"))
      .select(col("s"), col("code"), col("arr.coord").as("cv"))
  }

  /** The encoding half: assign every vector's subvectors to their nearest
    * entry of an explicit (s, code, cv) codebook — trained in-line or
    * loaded from storage, the arithmetic is identical. Output schema of
    * [[pqCodes]]: (vec_id, c0..c{m-1}, recon_err).
    */
  /** The (vec_id, s, qdist, code) encode stage against an EXPLICIT
    * codebook — the per-subvector argmin [[pqEncodeWith]] aggregates to
    * wide form and the incremental/compaction index builders
    * ([[graft.jobs.ArtifactJobs.annIvfPqCompacted]]) store directly.
    * Unlike [[pqAssign]], the codebook never derives from the input
    * frame, so a corpus SUBSET (a delta chunk) encodes bit-identically
    * to its rows inside a full-corpus pass.
    */
  def pqEncodeTriples(vectors: DataFrame, codebook: DataFrame, m: Int,
      dims: Int): DataFrame = {
    require(dims % m == 0, s"dims=$dims not divisible by m=$m")
    pqSubvectors(vectors, m, dims / m).join(broadcast(codebook), "s")
      .select(col("vec_id"), col("s"), col("code"), pqQdist.as("qdist"))
      .groupBy(col("vec_id"), col("s"))
      .agg(min(struct(col("qdist"), col("code"))).as("b"))
      .select(col("vec_id"), col("s"),
        col("b.qdist").as("qdist"), col("b.code").as("code"))
  }

  def pqEncodeWith(vectors: DataFrame, codebook: DataFrame, m: Int,
      dims: Int): DataFrame = {
    val best = pqEncodeTriples(vectors, codebook, m, dims)
    val aggs = (0 until m).map(s =>
      max(when(col("s") === s, col("code"))).as(s"c$s")) :+
      (sum(col("qdist")).cast("double") / lit(1e6)).as("recon_err")
    best.groupBy(col("vec_id")).agg(aggs.head, aggs.tail: _*)
  }

  /** PQ asymmetric-distance ANN (the search half of IVF-PQ): the corpus is
    * represented ONLY by its codes; each query precomputes its distance
    * table — qdist(query subvector, codebook entry) for all m·k entries —
    * and a corpus vector's score is the sum of m table lookups, never a
    * full-vector scan.
    *
    * Shape: corpus codes (m int rows per vector) equi-join the broadcast
    * query distance table on (s, code) — every (query, vector) pair
    * matches exactly m rows, so the sum-per-pair agg needs no distinct —
    * then an integer-keyed top-k. The full-precision corpus payload is
    * touched only while coding; search scans 4 ints per vector. Scores
    * are integer micro sums end-to-end: exact in any partial-agg order,
    * bit-identical in the oracle.
    *
    * Output: (query_id, neighbor_id, adist, rn) — adist ascending (it's a
    * distance), neighbor_id tie-break.
    */
  def pqAdcTopK(vectors: DataFrame, isQuery: Column, m: Int, k: Int,
      dims: Int, topK: Int): DataFrame = {
    require(dims % m == 0, s"dims=$dims not divisible by m=$m")
    val sub = dims / m
    val codes = pqAssign(vectors, m, k, dims)
      .select(col("vec_id"), col("s"), col("code"))
    val subv = pqSubvectors(vectors.filter(isQuery), m, sub)
      .select(col("vec_id").as("query_id"), col("s"), col("sv"))
    val cb = broadcast(pqSubvectors(vectors.filter(col("vec_id") < k), m, sub)
      .select(col("s"), col("vec_id").cast("int").as("code"),
        col("sv").as("cv")))
    val qtab = broadcast(subv.join(cb, "s")
      .select(col("query_id"), col("s"), col("code"), pqQdist.as("qdist")))
    val adc = codes.join(qtab, Seq("s", "code"))
      .filter(col("query_id") =!= col("vec_id"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum(col("qdist")).as("adist"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adist").asc, col("vec_id").asc)
    adc.withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= topK)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("adist"), col("rn"))
  }

  /** IVF × PQ: the billion-vector ANN layout — IVF cells prune the
    * corpus to the query's `nprobe` nearest partitions, and INSIDE the
    * surviving cells the asymmetric-distance scan reads only the m-int
    * PQ codes. The two halves are exactly [[ivfTopKWith]]'s probe
    * pipeline and [[pqAdcTopK]]'s table-lookup scoring, composed: no
    * full-precision corpus vector is ever touched after coding, and no
    * exact distance is computed corpus-wide — the only full-corpus
    * stages are the two C-/k-bounded broadcast assigns (cells and
    * codes).
    *
    * Join discipline: a corpus vector lives in exactly ONE cell (rn = 1
    * argmax) and each query probes DISTINCT cells, so a candidate pair
    * materializes at most once — no distinct needed anywhere (the
    * multiplicity-1 rule). The per-query distance tables are
    * (queries·m·k) rows, broadcast; candidate codes equi-join them on
    * (query_id, s, code) and each pair matches exactly m rows, so the
    * ADC sum needs no dedup either. Scores are integer micros
    * end-to-end ([[pqQdist]]) — exact under any partial-agg order,
    * bit-identical in the oracle.
    *
    * Output: (query_id, neighbor_id, adist, rn) — adist ascending,
    * neighbor_id tie-break. Neighbors outside the probed cells are
    * invisible (that is the IVF recall trade, spec-measured).
    */
  def ivfPqTopK(vectors: DataFrame, centroids: DataFrame, isQuery: Column,
      nprobe: Int, m: Int, k: Int, dims: Int, topK: Int,
      scope: CacheScope = CacheScope.unmanaged): DataFrame = {
    val adc = ivfPqAdc(vectors, centroids, isQuery, nprobe, m, k, dims, scope)
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adist").asc, col("vec_id").asc)
    adc.withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= topK)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("adist"), col("rn"))
  }

  /** The candidate-scoring core of [[ivfPqTopK]]: per (query, probed-cell
    * member) ADC integer-micro distance, un-ranked.
    */
  private def ivfPqAdc(vectors: DataFrame, centroids: DataFrame,
      isQuery: Column, nprobe: Int, m: Int, k: Int, dims: Int,
      scope: CacheScope): DataFrame = {
    require(dims % m == 0, s"dims=$dims not divisible by m=$m")
    val sub = dims / m
    // IVF half: rank centroids per vector; rn=1 is the cell assignment,
    // rn<=nprobe the query's probe list — one shared ranking, cached
    val scored = vectors.crossJoin(broadcast(centroids))
      .select(col("vec_id"), col("cent_id"),
        cosine(col("v"), col("norm"), col("cv"), col("cnorm")).as("cscore"))
    val ranked = scope.cache(TopN.topNPer(scored, col("vec_id"),
      col("cscore"), col("cent_id"), math.max(nprobe, 1)))
    val cells = ranked.filter(col("rn") === 1)
      .select(col("vec_id"), col("cent_id").as("cell"))
    val probes = vectors.filter(isQuery).select(col("vec_id").as("query_id"))
      .join(ranked.filter(col("rn") <= nprobe)
        .select(col("vec_id").as("query_id"), col("cent_id").as("cell")),
        "query_id")
    // PQ half: corpus codes (m ints per vector) + broadcast per-query
    // distance tables over the seed codebook
    val codes = pqAssign(vectors, m, k, dims)
      .select(col("vec_id"), col("s"), col("code"))
    val cb = broadcast(pqSubvectors(vectors.filter(col("vec_id") < k), m, sub)
      .select(col("s"), col("vec_id").cast("int").as("code"),
        col("sv").as("cv")))
    val qtab = broadcast(pqSubvectors(vectors.filter(isQuery), m, sub)
      .select(col("vec_id").as("query_id"), col("s"), col("sv"))
      .join(cb, "s")
      .select(col("query_id"), col("s"), col("code"), pqQdist.as("qdist")))
    // candidates = probed cells only; then the ADC table-lookup sum
    val cand = probes.join(cells, "cell")
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id"))
    cand.join(codes, "vec_id")
      .join(qtab, Seq("query_id", "s", "code"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum(col("qdist")).as("adist"))
  }

  /** Hard-negative mining — the contrastive-training data staple: for
    * each query vector, the top-k most similar corpus vectors whose
    * `label` DIFFERS from the query's (similar-but-wrong examples, the
    * ones worth training against). The candidate generation is exactly
    * [[ivfTopKWith]]'s probe pipeline (C-bounded centroid assign, nprobe
    * probed cells — never corpus×corpus); the label-mismatch filter
    * rides the cell join before anything is ranked, and labels travel
    * as (vec_id, int) pairs — the payload never joins them.
    *
    * `labels` must provide (vec_id, label). Output: (query_id,
    * neighbor_id, neg_label, sim, rn) — rounded cosine descending,
    * neighbor_id tie-break. Negatives outside the probed cells are
    * invisible (the IVF recall trade — at 100 TB mining runs over the
    * ANN index for exactly this reason).
    */
  def hardNegatives(vectors: DataFrame, labels: DataFrame,
      centroids: DataFrame, isQuery: Column, nprobe: Int, k: Int,
      scope: CacheScope = CacheScope.unmanaged): DataFrame = {
    val scored = vectors.crossJoin(broadcast(centroids))
      .select(col("vec_id"), col("cent_id"),
        cosine(col("v"), col("norm"), col("cv"), col("cnorm")).as("cscore"))
    val ranked = scope.cache(TopN.topNPer(scored, col("vec_id"),
      col("cscore"), col("cent_id"), math.max(nprobe, 1)))
    val cells = ranked.filter(col("rn") === 1)
      .select(col("vec_id"), col("cent_id").as("cell"))
    val corpus = vectors.join(cells, "vec_id").join(labels, "vec_id")
    val probes = vectors.filter(isQuery)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("norm").as("qn"))
      .join(labels.select(col("vec_id").as("query_id"),
        col("label").as("qlabel")), "query_id")
      .join(ranked.filter(col("rn") <= nprobe)
        .select(col("vec_id").as("query_id"), col("cent_id").as("cell")),
        "query_id")
    val pairs = probes.join(corpus,
        probes("cell") === corpus("cell") &&
          col("query_id") =!= col("vec_id") &&
          col("qlabel") =!= col("label"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("label").as("neg_label"),
        cosine(col("qv"), col("qn"), col("v"), col("norm")).as("sim"))
    TopN.topNPer(pairs, col("query_id"), col("sim"), col("neighbor_id"), k)
      .select(col("query_id"), col("neighbor_id"), col("neg_label"),
        col("sim"), col("rn"))
  }

  /** [[ivfPqTopK]] with the production recall lever: the ADC scan selects
    * a `shortlist`-deep candidate set per query (cheap — codes only), and
    * ONLY those rows are re-scored with the exact cosine against the
    * full-precision vectors. Exact distances are computed on
    * O(queries · shortlist) pairs — bounded by the shortlist constant,
    * never corpus-sized — which recovers most of the recall the double
    * quantization (cell pruning × PQ) gives up, at a cost independent of
    * corpus scale. This staged ADC-then-rerank shape is the standard
    * billion-vector serving layout (IVFADC with refinement).
    *
    * Output: (query_id, neighbor_id, sim, rn) — exact rounded cosine,
    * descending, neighbor_id tie-break; comparable row-for-row with
    * [[ivfTopKWith]]'s output at the same k.
    */
  def ivfPqRerank(vectors: DataFrame, centroids: DataFrame, isQuery: Column,
      nprobe: Int, m: Int, k: Int, dims: Int, topK: Int, shortlist: Int,
      scope: CacheScope = CacheScope.unmanaged): DataFrame =
    adcShortlistRerank(
      ivfPqAdc(vectors, centroids, isQuery, nprobe, m, k, dims, scope),
      vectors, topK, shortlist)

  /** The shared tail of the staged serving layout: truncate the ADC
    * candidates at `shortlist` per query, exact-cosine re-score ONLY the
    * shortlist against the full-precision vectors, rank at `topK`.
    */
  private def adcShortlistRerank(adc: DataFrame, vectors: DataFrame,
      topK: Int, shortlist: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wAdc = Window.partitionBy(col("query_id"))
      .orderBy(col("adist").asc, col("vec_id").asc)
    val short = adc.withColumn("srn", row_number().over(wAdc))
      .filter(col("srn") <= shortlist)
      .select(col("query_id"), col("vec_id"))
    val scored = short
      .join(vectors.select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("norm").as("qn")), "query_id")
      .join(vectors.select(col("vec_id"), col("v"), col("norm")), "vec_id")
      .select(col("query_id"), col("vec_id"),
        cosine(col("qv"), col("qn"), col("v"), col("norm")).as("sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("vec_id").asc)
    scored.withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= topK)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("sim"), col("rn"))
  }

  /** The persistable halves of the IVF×PQ index — exactly the frames a
    * serving deployment lands once and probes many times:
    * cell assignment (vec_id, cell) for every vector and the seed PQ
    * codebook (s, code, cv). Codes come from [[pqAssign]]. All three are
    * derived with the SAME expressions the in-line [[ivfPqTopK]] path
    * uses, so a parquet round-trip of them reproduces its output
    * bit-for-bit (longs/ints exact, doubles round-trip exactly).
    */
  def ivfCells(vectors: DataFrame, centroids: DataFrame): DataFrame = {
    val scored = vectors.crossJoin(broadcast(centroids))
      .select(col("vec_id"), col("cent_id"),
        cosine(col("v"), col("norm"), col("cv"), col("cnorm")).as("cscore"))
    TopN.topNPer(scored, col("vec_id"), col("cscore"), col("cent_id"), 1)
      .select(col("vec_id"), col("cent_id").as("cell"))
  }

  def pqSeedCodebook(vectors: DataFrame, m: Int, k: Int, dims: Int): DataFrame = {
    require(dims % m == 0, s"dims=$dims not divisible by m=$m")
    pqSubvectors(vectors.filter(col("vec_id") < k), m, dims / m)
      .select(col("s"), col("vec_id").cast("int").as("code"),
        col("sv").as("cv"))
  }

  /** [[ivfPqRerank]] SERVED from a persisted index: `centroids`
    * (cent_id, cv, cnorm), `cells` (vec_id, cell), `codes`
    * (vec_id, s, code) and `codebook` (s, code, cv) arrive as loaded
    * frames — NO training or assignment stage exists in this plan. At
    * serve time only the QUERY vectors are ranked against the broadcast
    * centroids (the probe list) and tabled against the broadcast
    * codebook (the ADC distance tables); the corpus is touched exactly
    * twice — the m-int code scan inside probed cells and the
    * shortlist-bounded exact re-rank against the full-precision store.
    * Output is bit-identical to [[ivfPqRerank]] over the same index
    * parameters (the artifact gate's hash-equality claim).
    */
  def ivfPqRerankServed(vectors: DataFrame, centroids: DataFrame,
      cells: DataFrame, codes: DataFrame, codebook: DataFrame,
      isQuery: Column, nprobe: Int, m: Int, dims: Int, topK: Int,
      shortlist: Int): DataFrame = {
    require(dims % m == 0, s"dims=$dims not divisible by m=$m")
    val sub = dims / m
    val qScored = vectors.filter(isQuery).crossJoin(broadcast(centroids))
      .select(col("vec_id"), col("cent_id"),
        cosine(col("v"), col("norm"), col("cv"), col("cnorm")).as("cscore"))
    val probes = TopN.topNPer(qScored, col("vec_id"), col("cscore"),
        col("cent_id"), math.max(nprobe, 1))
      .select(col("vec_id").as("query_id"), col("cent_id").as("cell"))
    val qtab = broadcast(pqSubvectors(vectors.filter(isQuery), m, sub)
      .select(col("vec_id").as("query_id"), col("s"), col("sv"))
      .join(broadcast(codebook), "s")
      .select(col("query_id"), col("s"), col("code"), pqQdist.as("qdist")))
    val cand = probes.join(cells, "cell")
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id"))
    val adc = cand.join(codes, "vec_id")
      .join(qtab, Seq("query_id", "s", "code"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum(col("qdist")).as("adist"))
    adcShortlistRerank(adc, vectors, topK, shortlist)
  }

  /** Greedy k-center (farthest-point traversal) coreset selection: start
    * from `vec_id` 0, then k-1 times add the point FARTHEST from the
    * chosen set (max over points of min over centers of distance), and
    * finally assign every point to its nearest center. The classic
    * 2-approximation for diversity/coverage subset selection — the
    * curation step that picks a maximally-spread seed set (dedup anchors,
    * labeling budgets, eval panels) where k-means picks density centers.
    *
    * Engine-exact: coordinates quantize to `KmeansQuantScale` integers
    * (carried as exact doubles), so every squared distance
    * n²(p) + n²(c) − 2·p·c is an integer-valued double < 2^53 — partial
    * sums stay exactly representable, making min/argmax and the final
    * assignment reproducible bit-for-bit in DuckDB, any summation order.
    * Ties (equal farthest distance) break on the smaller vec_id; the
    * assignment tie-breaks on the smaller center id.
    *
    * Scale shape: each of the k−1 rounds is ONE scan computing ≤ k
    * codegen'd dot products per row with a global
    * `orderBy(...).limit(1)` — TakeOrderedAndProject, no window, no
    * shuffle of the vector payload; the chosen set lives on the driver
    * (k rows — the same model-sized contract as k-means centroids). The
    * final assignment is a broadcast cross product against the k-row
    * center frame with an id-partitioned argmin window. Total cost
    * k scans of the corpus — linear in corpus size, independent of pair
    * counts.
    */
  def kCenterCoreset(vectors: DataFrame, k: Int): DataFrame = {
    val q = kCenterQuantized(vectors).cache()
    // q stays cached through the caller's action (the greedy rounds and
    // the assignment each re-read it); the harness clearCache between
    // queries releases it
    assignToCenters(q, kCenterCenters(q, k))
  }

  /** The k-center coordinate space: `KmeansQuantScale`-quantized integer
    * coords carried as exact doubles + the (exact) squared norm.
    */
  private[graft] def kCenterQuantized(vectors: DataFrame): DataFrame =
    vectors.select(col("vec_id"),
        expr(s"transform(v, x -> cast(cast(round(x * $KmeansQuantScale + 1e-9) " +
          "as bigint) as double))").as("qv"))
      .withColumn("n2", dot(col("qv"), col("qv")))

  /** The greedy farthest-point selection alone: the k-row
    * (center_id, cqv, cn2) frame — the persistable model half of
    * [[kCenterCoreset]] (train once, assign many). Input must be the
    * [[kCenterQuantized]] frame (cached by the caller if it also feeds
    * the assignment).
    */
  private[graft] def kCenterCenters(q: DataFrame, k: Int): DataFrame = {
    require(k >= 1, "k-center needs k >= 1")
    val spark = q.sparkSession
    import spark.implicits._
    // seed = the MINIMUM vec_id (deterministic, total on any id domain;
    // empty corpus → empty center frame so downstream joins stay total)
    val seed = q.orderBy(col("vec_id").asc)
      .select(col("vec_id"), col("qv")).limit(1).collect()
    if (seed.isEmpty)
      return Seq.empty[(Long, Seq[Double])].toDF("center_id", "cqv")
        .withColumn("cn2", lit(0.0))
    var centers = Vector((seed(0).getLong(0), seed(0).getSeq[Double](1).toArray))
    def dist2To(c: Array[Double]): Column =
      col("n2") + lit(c.map(x => x * x).sum) -
        lit(2.0) * dot(col("qv"), typedLit(c.toSeq))
    var t = 1
    var exhausted = false
    while (t < k && !exhausted) {
      val chosenIds = centers.map(_._1)
      val dists = centers.map { case (_, c) => dist2To(c) }
      val md = if (dists.size == 1) dists.head else least(dists: _*)
      val nxt = q.filter(!col("vec_id").isInCollection(chosenIds))
        .select(col("vec_id"), md.as("md"), col("qv"))
        .orderBy(col("md").desc, col("vec_id").asc)
        .limit(1).collect()
      if (nxt.isEmpty) exhausted = true // k > corpus size: all points chosen
      else {
        centers = centers :+ ((nxt(0).getLong(0), nxt(0).getSeq[Double](2).toArray))
        t += 1
      }
    }
    centers.map { case (id, c) => (id, c.toSeq) }
      .toDF("center_id", "cqv")
      .withColumn("cn2", dot(col("cqv"), col("cqv")))
  }

  /** Nearest-center assignment against a (center_id, cqv, cn2) frame —
    * in-line trained or loaded from an artifact: broadcast the k-row
    * center frame, argmin by (dist2, center_id) via an id-partitioned
    * window. Input must be the [[kCenterQuantized]] frame.
    */
  private[graft] def assignToCenters(
      q: DataFrame, centers: DataFrame): DataFrame = {
    val scored = q.crossJoin(broadcast(centers))
      .select(col("vec_id"), col("center_id"),
        (col("n2") + col("cn2") - lit(2.0) * dot(col("qv"), col("cqv")))
          .cast("long").as("dist2"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id"))
      .orderBy(col("dist2").asc, col("center_id").asc)
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("center_id"), col("dist2"))
  }

  /** MMR quantization scale — coarse like [[PcaXScale]] and for the same
    * reason: the relevance term is a dot against the CORPUS-SUM vector,
    * so its magnitude carries a factor n. At 10³ every score term stays
    * ≤ dims·10³·(n·10³) — exactly representable in a double (< 2^53)
    * through n ≈ 10⁸ vectors at dims 64; past that, drop the scale a
    * decade per decade (the [[graft.ops.Graph.PrScale]] rule).
    */
  val MmrQuantScale: Double = 1e3

  /** Maximal-marginal-relevance diversity selection: greedily pick k
    * vectors maximizing (centrality − redundancy) — the training-data
    * curation step that wants REPRESENTATIVE-yet-SPREAD examples, where
    * [[kCenterCoreset]] wants pure spread (max-min coverage) and k-means
    * wants pure density. Classic MMR takes λ·relevance −
    * (1−λ)·max-similarity-to-selected; with λ = 1/2 the argmax is
    * invariant to doubling, so the score is the pure integer
    *
    *   score(d) = dot(qd, Σ qv) − n · max_{s ∈ S} dot(qd, qs)
    *
    * (relevance = unnormalized similarity to the corpus MEAN, stated as
    * the sum-vector dot times 1 vs the max-sim times n — multiplying
    * through by n instead of dividing keeps every term an integer;
    * Spark `div` truncates toward zero while DuckDB `//` floors, so an
    * actual division would diverge on negative dots). Round 0 has no
    * penalty term: the seed is the most central vector. Ties break on
    * the smaller vec_id.
    *
    * Engine-exact: [[MmrQuantScale]]-quantized coords make every dot an
    * integer-valued double; sums, maxes and differences of those are
    * exact, so both engines land identical scores and the k rounds
    * restate as unrolled SQL CTEs. Scale shape: the per-dim corpus sum
    * is one aggregation (dims-sized driver copy), then each round is ONE
    * scan with ≤ k codegen'd dot products and a global
    * `orderBy().limit(1)` — TakeOrderedAndProject, the [[kCenterCenters]]
    * shape; the selected set lives on the driver (k·dims values, the
    * model-sized contract). Output: (sel_rank, vec_id, mmr_score).
    */
  def mmrSelect(vectors: DataFrame, k: Int): DataFrame = {
    require(k >= 1, "mmrSelect needs k >= 1")
    val spark = vectors.sparkSession
    import spark.implicits._
    val q = vectors.select(col("vec_id"),
      expr(s"transform(v, x -> cast(cast(round(x * $MmrQuantScale + 1e-9) " +
        "as bigint) as double))").as("qv")).cache()
    val n = q.count()
    if (n == 0L) {
      q.unpersist()
      return Seq.empty[(Long, Long, Long)].toDF("sel_rank", "vec_id", "mmr_score")
    }
    // per-dim corpus sum: dims rows to the driver (model-sized)
    val sumV = q.select(posexplode(col("qv")).as(Seq("pos", "x")))
      .groupBy(col("pos")).agg(sum(col("x")).as("s"))
      .orderBy(col("pos")).collect().map(_.getDouble(1))
    val relCol = dot(col("qv"), typedLit(sumV.toSeq))
    var selected = Vector.empty[(Long, Array[Double], Double)]
    var t = 0
    var exhausted = false
    while (t < k && !exhausted) {
      val score =
        if (selected.isEmpty) relCol
        else {
          val sims = selected.map { case (_, s, _) =>
            dot(col("qv"), typedLit(s.toSeq)) }
          relCol - (if (sims.size == 1) sims.head else greatest(sims: _*)) *
            lit(n.toDouble)
        }
      val base =
        if (selected.isEmpty) q
        else q.filter(!col("vec_id").isInCollection(selected.map(_._1)))
      val nxt = base.select(col("vec_id"), score.as("score"), col("qv"))
        .orderBy(col("score").desc, col("vec_id").asc).limit(1).collect()
      if (nxt.isEmpty) exhausted = true // k > corpus: everything selected
      else {
        selected = selected :+ ((nxt(0).getLong(0),
          nxt(0).getSeq[Double](2).toArray, nxt(0).getDouble(1)))
        t += 1
      }
    }
    q.unpersist()
    selected.zipWithIndex.map { case ((id, _, sc), i) =>
      (i + 1L, id, sc.toLong) // integer-valued double: exact narrowing
    }.toDF("sel_rank", "vec_id", "mmr_score")
  }

  /** Coordinate quantization scale for the PCA power iteration: coarser
    * than [[KmeansQuantScale]] (10³ vs 10⁶) because the Gram entries are
    * SUMS of coordinate products over the whole corpus — at 10³ a Gram
    * entry stays ≤ n·10⁶ (BIGINT-safe through ~10¹² vectors) and every
    * matrix-vector product below stays ≤ dims·n·10⁶·10⁶ (safe through
    * ~10⁵·n). The algorithm is DEFINED over the quantized inputs, so
    * both engines land identical integers at any precision choice.
    */
  val PcaXScale: Double = 1e3

  /** Power-iteration direction scale: the iterate renormalizes to
    * max-abs ≈ 10⁶ each round (integer division by ⌊max/10⁶⌋).
    */
  val PcaVScale: Long = 1000000L

  /** Top-principal-direction projection by integer power iteration —
    * the learned 1-D reduction beside [[randomProject]]'s data-oblivious
    * JL planes: score_q(x) = ⟨x_q, v_iters⟩ where v is `iters` rounds of
    * the Gram-matrix power recurrence
    *   y = G·v;  v' = sign(y)·(|y| div max(⌊max|y|/10⁶⌋, 1))
    * over the UNcentered quantized Gram G = Σ x_q·x_qᵀ. All arithmetic is
    * BIGINT with positive-operand divisions only (sign is factored out —
    * Scala truncation and DuckDB floor agree on positives, round-4 rule),
    * so the recurrence restates as unrolled SQL and hash-matches.
    *
    * Scale shape (the BPE/union-find "sequential recurrences buy no
    * parallelism" rule applied to spectral iteration): the corpus is
    * touched exactly TWICE — one per-partition Gram accumulation
    * (dims²-sized partials per partition, two-phase agg, the
    * treeAggregate shape) and one final projection scan with the learned
    * direction as a broadcast literal. The k matrix-vector rounds run on
    * the DRIVER over the dims²-entry Gram — model-sized state, the same
    * contract as the k-means centroid collect — costing zero exchanges
    * instead of 2–3 per round.
    */
  def pcaPowerProjection(
      vectors: DataFrame, dims: Int, iters: Int): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val q = vectors.select(col("vec_id"),
      expr(s"transform(v, x -> cast(cast(round(x * $PcaXScale + 1e-9) " +
        "as bigint) as double))").as("qv"))
    // total on an empty corpus: Dataset.reduce has no zero, so answer
    // the empty projection directly
    if (q.isEmpty)
      return q.select(col("vec_id"), lit(0L).as("proj_q"))
    // one-pass per-partition Gram accumulation: 4096 longs per partition,
    // exact integer sums in any order
    val gram = q.select(col("qv")).as[Seq[Double]]
      .mapPartitions { it =>
        val acc = new Array[Long](dims * dims)
        it.foreach { xs =>
          val x = xs.toArray
          var d1 = 0
          while (d1 < dims) {
            val x1 = x(d1).toLong
            var d2 = 0
            while (d2 < dims) { acc(d1 * dims + d2) += x1 * x(d2).toLong; d2 += 1 }
            d1 += 1
          }
        }
        Iterator.single(acc)
      }
      .reduce((a, b) => Array.tabulate(a.length)(i => a(i) + b(i)))
    // driver-side power rounds over the model-sized Gram
    var v = Array.fill(dims)(PcaVScale)
    var t = 0
    while (t < iters) {
      val y = new Array[Long](dims)
      var d1 = 0
      while (d1 < dims) {
        var s = 0L
        var d2 = 0
        while (d2 < dims) { s += gram(d1 * dims + d2) * v(d2); d2 += 1 }
        y(d1) = s
        d1 += 1
      }
      val m = math.max(y.map(math.abs).max / PcaVScale, 1L)
      v = y.map(x => (if (x < 0) -1L else 1L) * (math.abs(x) / m))
      t += 1
    }
    q.select(col("vec_id"),
      dot(col("qv"), typedLit(v.map(_.toDouble).toSeq)).cast("long").as("proj_q"))
  }
}
