package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.Tables
import graft.ops.{CacheScope, Handoff, Similarity}

/** Embedding similarity-search queries over `embeddings`, all hash-checked:
  * `ann_cosine_topk` is the exact brute-force baseline (query side
  * broadcast); `ann_lsh` and `embedding_neardup` are the sign-LSH scale
  * paths — buckets, multi-probe, and cosine are deterministic arithmetic,
  * so DuckDB oracles reproduce them exactly.
  */
object SimilarityJobs {

  private[jobs] val TOP_K = 5
  private[jobs] val N_QUERIES = 20 // query set: vec_id < 20
  private[jobs] val NEARDUP_THRESHOLD = 0.35
  private val PLANES = 5
  private[jobs] val DIMS = 64

  /** Sign-LSH bucket assignment restated for DuckDB: the plane weights are
    * deterministic integer arithmetic ([[Similarity.planeWeight]]) emitted
    * as literal arrays, so `list_dot_product` reproduces Spark's codegen'd
    * dot signs bit-for-bit.
    */
  private val bucketExprSql: String = {
    val planeLits = (0 until PLANES).map { j =>
      (0 until DIMS)
        .map(d => Similarity.planeWeight(j, d).toString)
        .mkString("[", ", ", "]")
    }
    (0 until PLANES).map { j =>
      s"(CASE WHEN list_dot_product(v, ${planeLits(j)}) > 0 THEN ${1 << j} ELSE 0 END)"
    }.mkString(" + ")
  }

  /** Hamming-1 multi-probe offsets: own bucket plus each single-bit flip. */
  private val probeListSql: String =
    (0 +: (0 until PLANES).map(1 << _)).mkString("[", ", ", "]")

  private[graft] def vectors(spark: SparkSession, sfDir: String): DataFrame =
    Similarity.withNorm(Tables.embeddings(spark, sfDir),
      col("vec_id"), col("embedding"))

  /** Exact cosine top-5 for the first 20 vectors (brute-force baseline). */
  def annCosineTopK(spark: SparkSession, sfDir: String): DataFrame = {
    val v = vectors(spark, sfDir)
    Similarity.bruteForceTopK(v, v.filter(col("vec_id") < N_QUERIES), TOP_K)
      .select(col("query_id"), col("neighbor_id"), col("sim"), col("rn"))
  }

  val annCosineTopKSql: String =
    s"""WITH e AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
       |), s AS (
       |  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
       |         ROUND(list_cosine_similarity(q.v, e.v) + 1e-12, 6) AS sim
       |  FROM e q JOIN e ON q.vec_id < $N_QUERIES AND q.vec_id <> e.vec_id
       |)
       |SELECT query_id, neighbor_id, sim, rn FROM (
       |  SELECT *, ROW_NUMBER() OVER (
       |    PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rn
       |  FROM s) ranked
       |WHERE rn <= $TOP_K""".stripMargin

  /** Near-duplicate pairs, sign-LSH blocked + exact-cosine verified — the
    * scale path is the declared query (the all-pairs form stays in the
    * library as `Similarity.nearDupPairs`, the small-scale baseline).
    */
  def embeddingNeardup(spark: SparkSession, sfDir: String): DataFrame = {
    // slim handoff (r17): the bucketed-vector cache was unmanaged
    CacheScope.scoped { scope =>
      Handoff.cut(Similarity.nearDupPairsBlocked(vectors(spark, sfDir),
        NEARDUP_THRESHOLD, planes = PLANES, dims = DIMS, scope = scope))
    }
  }

  val embeddingNeardupSql: String =
    s"""WITH e AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
       |), eb AS (
       |  SELECT vec_id, v, ($bucketExprSql) AS bucket FROM e
       |), probes AS (
       |  SELECT vec_id, v, xor(bucket, p) AS probe
       |  FROM eb CROSS JOIN (SELECT unnest($probeListSql) AS p)
       |)
       |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |       ROUND(list_cosine_similarity(a.v, b.v) + 1e-12, 6) AS sim
       |FROM probes a JOIN eb b ON a.probe = b.bucket AND a.vec_id < b.vec_id
       |WHERE ROUND(list_cosine_similarity(a.v, b.v) + 1e-12, 6)
       |      >= $NEARDUP_THRESHOLD""".stripMargin

  /** LSH-bucketed ANN (scale path). */
  def annLsh(spark: SparkSession, sfDir: String): DataFrame = {
    // slim handoff (r17): the bucketed-vector cache was unmanaged and
    // outlived the query for the JVM lifetime
    CacheScope.scoped { scope =>
      Handoff.cut(Similarity.lshTopK(vectors(spark, sfDir), planes = PLANES,
        k = TOP_K, dims = DIMS, scope = scope))
    }
  }

  /** Exact DuckDB restatement of the sign-LSH top-k: bucket assignment,
    * hamming-1 multi-probe, and the cosine rank are all reproducible — no
    * reason for a weaker rows-only check.
    */
  val annLshSql: String =
    s"""WITH e AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
       |), eb AS (
       |  SELECT vec_id, v, ($bucketExprSql) AS bucket FROM e
       |), probes AS (
       |  SELECT vec_id, v, xor(bucket, p) AS probe
       |  FROM eb CROSS JOIN (SELECT unnest($probeListSql) AS p)
       |), s AS (
       |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
       |    ROUND(list_cosine_similarity(a.v, b.v) + 1e-12, 6) AS sim
       |  FROM probes a JOIN eb b ON a.probe = b.bucket AND a.vec_id <> b.vec_id
       |)
       |SELECT query_id, neighbor_id, sim, rn FROM (
       |  SELECT *, ROW_NUMBER() OVER (
       |    PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rn
       |  FROM s) ranked
       |WHERE rn <= $TOP_K""".stripMargin

  private[jobs] val IVF_CENTROIDS = 16
  private[jobs] val IVF_NPROBE = 4

  /** IVF ANN (the second scale path beside sign-LSH): deterministic
    * centroids → cell assignment → nprobe probing → exact-cosine rank.
    */
  def annIvf(spark: SparkSession, sfDir: String): DataFrame =
    Similarity.ivfTopK(vectors(spark, sfDir), col("vec_id") < N_QUERIES,
      centroids = IVF_CENTROIDS, nprobe = IVF_NPROBE, k = TOP_K)

  /** Oracle restates assignment argmax (rounded-score + centroid-id
    * tie-break), probe ranking, and the final top-k — all deterministic.
    */
  val annIvfSql: String =
    s"""WITH e AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
       |), cent AS (
       |  SELECT vec_id AS cent_id, v AS cv FROM e WHERE vec_id < $IVF_CENTROIDS
       |), ranked AS (
       |  SELECT e.vec_id, cent.cent_id,
       |    ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
       |      ROUND(list_cosine_similarity(e.v, cent.cv) + 1e-12, 6) DESC,
       |      cent.cent_id ASC) AS rn
       |  FROM e CROSS JOIN cent
       |), cells AS (
       |  SELECT e.vec_id, e.v, r.cent_id AS cell
       |  FROM e JOIN ranked r ON r.vec_id = e.vec_id AND r.rn = 1
       |), probes AS (
       |  SELECT e.vec_id AS query_id, e.v AS qv, r.cent_id AS cell
       |  FROM e JOIN ranked r ON r.vec_id = e.vec_id AND r.rn <= $IVF_NPROBE
       |  WHERE e.vec_id < $N_QUERIES
       |), s AS (
       |  SELECT p.query_id, c.vec_id AS neighbor_id,
       |    ROUND(list_cosine_similarity(p.qv, c.v) + 1e-12, 6) AS sim
       |  FROM probes p JOIN cells c
       |    ON c.cell = p.cell AND c.vec_id <> p.query_id
       |)
       |SELECT query_id, neighbor_id, sim, rn FROM (
       |  SELECT *, ROW_NUMBER() OVER (
       |    PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rn
       |  FROM s) final
       |WHERE rn <= $TOP_K""".stripMargin

  private val KM_ITERS = 2

  /** Train the k-means centroids, materialize the tiny (C-row) result,
    * and RELEASE the O(n·dims) quantized-dim training scaffolding before
    * returning. Round 5's driver bench showed three live caches during
    * `semantic_dedup`'s pair join — the vector frame, k-means' exploded
    * `qd` view, and the pair membership map — compounding under memory
    * pressure into a 3× median regression; the `qd` cache is dead weight
    * the moment the centroids exist. The eager count here is C rows
    * (bounded, like connectedComponents' convergence count), not a
    * corpus-scale driver action.
    *
    * Content-memoized in [[graft.model.ModelMemo]]: SIX registry queries
    * (`ann_ivf_trained`, `embedding_clusters`, `semantic_dedup`,
    * `cluster_purity`, `embedding_outliers`, plus the artifact twins'
    * training leg) train the IDENTICAL C centroids from the identical
    * embeddings parquet. `v` is by-name, so a memo hit never constructs
    * the training plan; the miss still trains distributed and every
    * consumer's oracle hash-gates the result.
    *
    * A model trained on a different vector subset of the same corpus
    * takes a DISTINCT memo `tag` (`ann_index_drift`'s established-only
    * model uses ":est"), so each training set's miss lineage executes and
    * hash-gates.
    */
  private[graft] def trainedCents(spark: SparkSession, sfDir: String,
      v: => DataFrame, tag: String = ""): DataFrame =
    // the memo collects the C rows before the training caches close; the
    // local frame it serves on hit and miss alike needs none of them
    CacheScope.scoped { training =>
      graft.model.ModelMemo.shared.frame(spark, "centroids", sfDir,
        "embeddings", tag)(
        Similarity.kmeansCentroids(v, IVF_CENTROIDS, KM_ITERS, training))
    }

  /** IVF over TRAINED centroids: `KM_ITERS` rounds of Lloyd's k-means from
    * the deterministic seeds, then the identical probe pipeline. The
    * engine-exactness trick is integer quantization
    * ([[Similarity.KmeansQuantScale]]): per-cell coordinate sums are exact
    * BIGINT arithmetic (order-independent — double sums would differ
    * between Spark's partial-sum tree and DuckDB's sequential scan), with
    * one double division per centroid coordinate, so the oracle unrolls
    * the same two iterations and lands on bit-identical centroids.
    */
  def annIvfTrained(spark: SparkSession, sfDir: String): DataFrame = {
    // the normed vector frame feeds the quantized-dim view, both k-means
    // assign rounds, and the final assign/probe/verify stages — cache it
    // so the parquet scan + norm computation runs once; scope-released at
    // construction end with the probe internals (r15 footprint playbook)
    CacheScope.scoped { scope =>
      val v = scope.cache(vectors(spark, sfDir))
      Handoff.cut(Similarity.ivfTopKWith(v, trainedCents(spark, sfDir, v),
        col("vec_id") < N_QUERIES, nprobe = IVF_NPROBE, k = TOP_K,
        scope = scope))
    }
  }

  /** One k-means iteration as a CTE pair: assignment argmax against
    * `prevCent`, then quantized-mean centroid rebuild (`list(coord ORDER
    * BY d)` makes the array reassembly deterministic, mirroring Spark's
    * sort_array(collect_list(struct))).
    */
  /** `e`/`qd` name the training-vector and quantized-dim CTEs so the
    * drift oracle can run the SAME unrolled iterations over the
    * established subset (te/tqd) while assignment still covers all of
    * `e`; `p` prefixes the per-iteration CTE names (`a$i`/`cent$i`) so
    * TWO models can train inside ONE oracle (the retrained gate needs
    * the established chain and the full-corpus chain side by side) —
    * the default names keep every existing oracle verbatim.
    */
  private def kmeansIterSql(i: Int, prevCent: String, e: String = "e",
      qd: String = "qd", p: String = ""): String =
    s"""${p}a$i AS (
       |  SELECT vec_id, cent_id AS cell FROM (
       |    SELECT e.vec_id, c.cent_id, ROW_NUMBER() OVER (
       |      PARTITION BY e.vec_id ORDER BY
       |        ROUND(list_cosine_similarity(e.v, c.cv) + 1e-12, 6) DESC,
       |        c.cent_id ASC) AS rn
       |    FROM $e e CROSS JOIN $prevCent c) r
       |  WHERE rn = 1
       |), ${p}cent$i AS (
       |  SELECT cell AS cent_id, list(coord ORDER BY d) AS cv FROM (
       |    SELECT ${p}a$i.cell, qd.d,
       |           CAST(SUM(qd.q) AS DOUBLE) / (COUNT(*) * 1000000.0) AS coord
       |    FROM $qd qd JOIN ${p}a$i USING (vec_id)
       |    GROUP BY ${p}a$i.cell, qd.d) m
       |  GROUP BY cell
       |)""".stripMargin

  /** The shared CTE prefix: embeddings, seed centroids, quantized dims,
    * and the unrolled k-means iterations ending at `cent$KM_ITERS`.
    */
  private def kmeansPrefixSql: String = {
    val iters = (1 to KM_ITERS)
      .map(i => kmeansIterSql(i, if (i == 1) "cent0" else s"cent${i - 1}"))
      .mkString(", ")
    s"""e AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
       |), cent0 AS (
       |  SELECT vec_id AS cent_id, v AS cv FROM e WHERE vec_id < $IVF_CENTROIDS
       |), qd AS (
       |  SELECT vec_id, s.d AS d, s.q AS q FROM (
       |    SELECT vec_id, unnest(
       |      [{'d': i, 'q': CAST(ROUND(v[i] * 1000000.0 + 1e-9) AS BIGINT)}
       |       FOR i IN range(1, len(v) + 1)]) AS s
       |    FROM e) u
       |), $iters""".stripMargin
  }

  val annIvfTrainedSql: String = {
    s"""WITH $kmeansPrefixSql, ranked AS (
       |  SELECT e.vec_id, c.cent_id,
       |    ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
       |      ROUND(list_cosine_similarity(e.v, c.cv) + 1e-12, 6) DESC,
       |      c.cent_id ASC) AS rn
       |  FROM e CROSS JOIN cent$KM_ITERS c
       |), cells AS (
       |  SELECT e.vec_id, e.v, r.cent_id AS cell
       |  FROM e JOIN ranked r ON r.vec_id = e.vec_id AND r.rn = 1
       |), probes AS (
       |  SELECT e.vec_id AS query_id, e.v AS qv, r.cent_id AS cell
       |  FROM e JOIN ranked r ON r.vec_id = e.vec_id AND r.rn <= $IVF_NPROBE
       |  WHERE e.vec_id < $N_QUERIES
       |), s AS (
       |  SELECT p.query_id, c.vec_id AS neighbor_id,
       |    ROUND(list_cosine_similarity(p.qv, c.v) + 1e-12, 6) AS sim
       |  FROM probes p JOIN cells c
       |    ON c.cell = p.cell AND c.vec_id <> p.query_id
       |)
       |SELECT query_id, neighbor_id, sim, rn FROM (
       |  SELECT *, ROW_NUMBER() OVER (
       |    PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rn
       |  FROM s) final
       |WHERE rn <= $TOP_K""".stripMargin
  }

  /** Corpus-balance report over the trained k-means cells: per cell, the
    * member count and the mean cosine to the centroid — the clustering-as-
    * an-end use of [[Similarity.kmeansCentroids]] (a training-mix pipeline
    * reads this to re-weight over/under-represented content clusters).
    * The mean is engine-exact by the same quantization trick: each rounded
    * 6-decimal cosine ×10⁶ is an exact integer, integer-summed, one double
    * division at the end.
    */
  def embeddingClusters(spark: SparkSession, sfDir: String): DataFrame = {
    val v = vectors(spark, sfDir).cache()
    val cents = trainedCents(spark, sfDir, v)
    val scored = v.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("cent_id"),
        Similarity.cosine(col("v"), col("norm"), col("cv"), col("cnorm"))
          .as("cscore"))
    graft.ops.TopN.topNPer(scored, col("vec_id"), col("cscore"),
        col("cent_id"), 1)
      .groupBy(col("cent_id").as("cell"))
      .agg(count(lit(1)).as("n_vectors"),
        sum(round(col("cscore") * 1e6).cast("long")).as("sq"))
      .select(col("cell"), col("n_vectors"),
        round(col("sq").cast("double") / (col("n_vectors") * 1e6) + lit(1e-9), 4)
          .as("mean_cos"))
  }

  val embeddingClustersSql: String =
    s"""WITH $kmeansPrefixSql, assigned AS (
       |  SELECT vec_id, cent_id, sim FROM (
       |    SELECT e.vec_id, c.cent_id,
       |      ROUND(list_cosine_similarity(e.v, c.cv) + 1e-12, 6) AS sim,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
       |        ROUND(list_cosine_similarity(e.v, c.cv) + 1e-12, 6) DESC,
       |        c.cent_id ASC) AS rn
       |    FROM e CROSS JOIN cent$KM_ITERS c) r
       |  WHERE rn = 1
       |)
       |SELECT cent_id AS cell, COUNT(*) AS n_vectors,
       |       ROUND(CAST(SUM(CAST(ROUND(sim * 1000000.0) AS BIGINT)) AS DOUBLE)
       |             / (COUNT(*) * 1000000.0) + 1e-9, 4) AS mean_cos
       |FROM assigned GROUP BY cent_id""".stripMargin

  /** Hot-cell vote threshold for [[annIndexDrift]] (percent): a cell is
    * drift-hot when today's ingest concentrates there beyond
    * DRIFT_HOT_PCT% of its membership — vs the 20% global delta share.
    * A deployment tunes this to its ingest fraction; the gate tests the
    * exact-integer mechanism at a value probed non-degenerate (hot and
    * cold cells both present) at every fixture SF.
    */
  private[jobs] val DRIFT_HOT_PCT = 21

  /** The unrolled-k-means prefix trained on the ESTABLISHED corpus only
    * (vec_id % 5 != 0 — yesterday's model), while `e` still covers all
    * vectors for the assignment side. Same iteration CTEs via
    * [[kmeansIterSql]] with te/tqd sources.
    */
  private def kmeansEstPrefixSql: String = {
    val iters = (1 to KM_ITERS)
      .map(i => kmeansIterSql(i, if (i == 1) "cent0" else s"cent${i - 1}",
        e = "te", qd = "tqd"))
      .mkString(", ")
    s"""e AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
       |), te AS (
       |  SELECT * FROM e WHERE vec_id % 5 <> 0
       |), cent0 AS (
       |  SELECT vec_id AS cent_id, v AS cv FROM te WHERE vec_id < $IVF_CENTROIDS
       |), tqd AS (
       |  SELECT vec_id, s.d AS d, s.q AS q FROM (
       |    SELECT vec_id, unnest(
       |      [{'d': i, 'q': CAST(ROUND(v[i] * 1000000.0 + 1e-9) AS BIGINT)}
       |       FOR i IN range(1, len(v) + 1)]) AS s
       |    FROM te) u
       |), $iters""".stripMargin
  }

  /** Index-drift audit — the RE-TRAIN TRIGGER for the served IVF stack:
    * the streaming refreshers keep cell CONTENTS fresh under a frozen
    * model, but nothing decided when drift warrants retraining the
    * centroids themselves. This query assigns BOTH cohorts — the
    * established corpus (what yesterday's model was trained on,
    * vec_id % 5 != 0) and today's delta — against the
    * established-trained centroids and emits the per-cell audit a
    * retrain policy reads: cohort populations, exact integer-ppm mean
    * assignment cosines, the quality drop, and the hot-cell vote
    * ([[DRIFT_HOT_PCT]] — today's ingest over-concentrating in a cell).
    * Hot cells + positive quality drops = the delta is landing where the
    * model has no resolution, i.e. retrain.
    *
    * Everything emitted is engine-exact: counts, quantized-cosine
    * integer sums (order-independent), truncating sign-split divisions
    * (the r11 kappa rule — Spark `div` truncates toward zero, DuckDB
    * `//` floors, so negative numerators sign-split in the oracle).
    * Scale shape: one training pass over the established corpus
    * (C-bounded broadcasts throughout), one C-bounded broadcast argmax
    * over the full corpus, one 16-row conditional agg.
    */
  def annIndexDrift(spark: SparkSession, sfDir: String): DataFrame = {
    CacheScope.scoped { scope =>
      val v = scope.cache(vectors(spark, sfDir))
      val cents = trainedCents(spark, sfDir,
        v.filter(col("vec_id") % 5 =!= 0), ":est")
      Handoff.cut(driftAudit(v, cents))
    }
  }

  /** The per-cell drift audit shared by [[annIndexDrift]] (which emits it)
    * and [[annIndexRetrained]] (which reads its retrain vote): both
    * cohorts assigned against `cents`, per-cell populations, exact
    * integer-ppm mean cosines, hot-cell vote.
    */
  private def driftAudit(v: DataFrame, cents: DataFrame): DataFrame = {
    val scored = v.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("cent_id"),
        Similarity.cosine(col("v"), col("norm"), col("cv"), col("cnorm"))
          .as("cscore"))
    val isDelta = col("vec_id") % 5 === 0
    graft.ops.TopN.topNPer(scored, col("vec_id"), col("cscore"),
        col("cent_id"), 1)
      .withColumn("q", round(col("cscore") * 1e6).cast("long"))
      .groupBy(col("cent_id").as("cell"))
      .agg(
        count(when(!isDelta, lit(1))).as("n_est"),
        count(when(isDelta, lit(1))).as("n_delta"),
        sum(when(!isDelta, col("q")).otherwise(0L)).as("sq_est"),
        sum(when(isDelta, col("q")).otherwise(0L)).as("sq_delta"))
      .select(col("cell"), col("n_est"), col("n_delta"),
        expr("case when n_est = 0 then 0 " +
          "when sq_est >= 0 then sq_est div n_est " +
          "else -((-sq_est) div n_est) end").as("mean_est_ppm"),
        expr("case when n_delta = 0 then 0 " +
          "when sq_delta >= 0 then sq_delta div n_delta " +
          "else -((-sq_delta) div n_delta) end").as("mean_delta_ppm"),
        (lit(100L) * col("n_delta") >
          lit(DRIFT_HOT_PCT.toLong) * (col("n_est") + col("n_delta")))
          .as("hot"))
      .withColumn("quality_drop_ppm",
        col("mean_est_ppm") - col("mean_delta_ppm"))
  }

  /** The retrain DECISION rule, one boolean over the 16-row audit: retrain
    * when any cell is drift-hot AND its delta quality dropped — today's
    * ingest over-concentrates where the frozen model resolves it worse
    * than the corpus it was trained on. Exact integer arithmetic on both
    * sides, so Spark and the oracle always vote identically. Probed
    * non-degenerate at every fixture SF: the vote FIRES (hot cells with
    * positive drops exist: 4/5/6 of 12 cells at sf0.001/0.01/0.1) while
    * hot and cold cells are both present — the false branch is exercised
    * by the spec on a synthetic audit.
    */
  private[graft] def retrainVote(audit: DataFrame): Boolean =
    audit.filter(col("hot") && col("quality_drop_ppm") > 0)
      .limit(1).count() > 0

  /** CLOSES THE RETRAIN LOOP the drift audit opened: consume
    * [[retrainVote]]'s verdict — when it fires, retrain the centroids on
    * established ∪ delta (= the full corpus; the standard offline retrain
    * a drifted IVF index runs) and serve the IVF top-k from the RETRAINED
    * index; when it doesn't, keep serving yesterday's established-trained
    * model. The vote read is a 16-row-audit driver action (the regime-
    * selection count contract); retraining rides the content-memoized
    * [[trainedCents]] machinery (the full-corpus model is the SAME model
    * six other queries train — memo hits make the retrain leg free in a
    * warm JVM while the miss lineage still trains distributed).
    *
    * Oracle: BOTH unrolled k-means chains (established via te/tqd,
    * full-corpus via the `f`-prefixed [[kmeansIterSql]] names), the audit
    * + vote restated exactly, and a relational branch select — the
    * serve probes whichever model the vote picked, so hash-equality
    * proves trigger → retrain → serve end-to-end: on this fixture the
    * vote fires and the result is bit-identical to training on
    * everything ([[annIvfTrained]]'s serve).
    */
  def annIndexRetrained(spark: SparkSession, sfDir: String): DataFrame = {
    CacheScope.scoped { scope =>
      val v = scope.cache(vectors(spark, sfDir))
      Handoff.cut(Similarity.ivfTopKWith(v,
        retrainedServedCents(spark, sfDir, v), col("vec_id") < N_QUERIES,
        nprobe = IVF_NPROBE, k = TOP_K, scope = scope))
    }
  }

  /** The vote-selected serving model (shared by the IVF and IVF×PQ
    * retrained serves): audit the delta against yesterday's
    * established-trained centroids, retrain on the full corpus when
    * [[retrainVote]] fires, keep the frozen model otherwise. Both
    * candidate models are content-memoized C-row frames.
    */
  private def retrainedServedCents(spark: SparkSession, sfDir: String,
      v: DataFrame): DataFrame = {
    val estCents = trainedCents(spark, sfDir,
      v.filter(col("vec_id") % 5 =!= 0), ":est")
    if (retrainVote(driftAudit(v, estCents))) trainedCents(spark, sfDir, v)
    else estCents
  }

  /** The RETRAINED serve for the full billion-vector layout: the IVF×PQ
    * shortlist-rerank stack ([[annIvfPqRerank]]'s shape) probing the
    * vote-selected centroids — cells re-encode against the retrained
    * model, the PQ codebook stays the frozen seed model (its own
    * lifecycle: PQ distortion drifts with SUBSPACE distributions, not
    * cell assignment — the quantity [[annIndexDrift]] measures; a
    * codebook retrain would be the same machinery over
    * [[Similarity.pqTrainCodebook]]). Completes the retrain loop for
    * the serving stack the compaction gates maintain.
    */
  def annIvfPqRetrained(spark: SparkSession, sfDir: String): DataFrame = {
    CacheScope.scoped { scope =>
      val v = scope.cache(vectors(spark, sfDir))
      Handoff.cut(Similarity.ivfPqRerank(v,
        retrainedServedCents(spark, sfDir, v), col("vec_id") < N_QUERIES,
        nprobe = IVF_NPROBE, m = PQ_M, k = PQ_K, dims = DIMS, topK = TOP_K,
        shortlist = PQ_SHORTLIST, scope = scope))
    }
  }

  val annIndexDriftSql: String =
    s"""WITH $kmeansEstPrefixSql, assigned AS (
       |  SELECT vec_id, cent_id, sim FROM (
       |    SELECT e.vec_id, c.cent_id,
       |      ROUND(list_cosine_similarity(e.v, c.cv) + 1e-12, 6) AS sim,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
       |        ROUND(list_cosine_similarity(e.v, c.cv) + 1e-12, 6) DESC,
       |        c.cent_id ASC) AS rn
       |    FROM e CROSS JOIN cent$KM_ITERS c) r
       |  WHERE rn = 1
       |), cells AS (
       |  SELECT cent_id AS cell,
       |    COUNT(CASE WHEN vec_id % 5 <> 0 THEN 1 END) AS n_est,
       |    COUNT(CASE WHEN vec_id % 5 = 0 THEN 1 END) AS n_delta,
       |    CAST(COALESCE(SUM(CASE WHEN vec_id % 5 <> 0
       |      THEN CAST(ROUND(sim * 1000000.0) AS BIGINT) END), 0) AS BIGINT)
       |      AS sq_est,
       |    CAST(COALESCE(SUM(CASE WHEN vec_id % 5 = 0
       |      THEN CAST(ROUND(sim * 1000000.0) AS BIGINT) END), 0) AS BIGINT)
       |      AS sq_delta
       |  FROM assigned GROUP BY 1
       |), means AS (
       |  SELECT cell, n_est, n_delta,
       |    CASE WHEN n_est = 0 THEN 0
       |         WHEN sq_est >= 0 THEN sq_est // n_est
       |         ELSE -((-sq_est) // n_est) END AS mean_est_ppm,
       |    CASE WHEN n_delta = 0 THEN 0
       |         WHEN sq_delta >= 0 THEN sq_delta // n_delta
       |         ELSE -((-sq_delta) // n_delta) END AS mean_delta_ppm,
       |    100 * n_delta > $DRIFT_HOT_PCT * (n_est + n_delta) AS hot
       |  FROM cells)
       |SELECT cell, n_est, n_delta, mean_est_ppm, mean_delta_ppm,
       |       mean_est_ppm - mean_delta_ppm AS quality_drop_ppm, hot
       |FROM means""".stripMargin

  /** [[annIndexRetrained]]'s oracle: the established chain trains
    * (te/tqd → cent$KM_ITERS), the audit votes, the full-corpus chain
    * trains under `f`-prefixed CTE names (fqd → fcent$KM_ITERS), and the
    * serve probes whichever model the vote picked via a relational branch
    * union — each branch filtered by the MATERIALIZED 1-row vote (plain
    * inlining would re-evaluate the whole est training chain once per
    * reference, the r11 diamond rule).
    */
  /** Shared by the two retrained-serve oracles: both k-means chains, the
    * audit, the MATERIALIZED vote, and the relational branch select
    * ending at `served(cent_id, cv)` — the model the serve probes.
    */
  private lazy val retrainedServedPrefixSql: String = {
    val fullIters = (1 to KM_ITERS)
      .map(i => kmeansIterSql(i, if (i == 1) "fcent0" else s"fcent${i - 1}",
        e = "e", qd = "fqd", p = "f"))
      .mkString(", ")
    s"""$kmeansEstPrefixSql, assigned AS (
       |  SELECT vec_id, cent_id, sim FROM (
       |    SELECT e.vec_id, c.cent_id,
       |      ROUND(list_cosine_similarity(e.v, c.cv) + 1e-12, 6) AS sim,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
       |        ROUND(list_cosine_similarity(e.v, c.cv) + 1e-12, 6) DESC,
       |        c.cent_id ASC) AS rn
       |    FROM e CROSS JOIN cent$KM_ITERS c) r
       |  WHERE rn = 1
       |), dcells AS (
       |  SELECT cent_id AS cell,
       |    COUNT(CASE WHEN vec_id % 5 <> 0 THEN 1 END) AS n_est,
       |    COUNT(CASE WHEN vec_id % 5 = 0 THEN 1 END) AS n_delta,
       |    CAST(COALESCE(SUM(CASE WHEN vec_id % 5 <> 0
       |      THEN CAST(ROUND(sim * 1000000.0) AS BIGINT) END), 0) AS BIGINT)
       |      AS sq_est,
       |    CAST(COALESCE(SUM(CASE WHEN vec_id % 5 = 0
       |      THEN CAST(ROUND(sim * 1000000.0) AS BIGINT) END), 0) AS BIGINT)
       |      AS sq_delta
       |  FROM assigned GROUP BY 1
       |), vote AS MATERIALIZED (
       |  SELECT COALESCE(MAX(CASE WHEN
       |    100 * n_delta > $DRIFT_HOT_PCT * (n_est + n_delta)
       |    AND (CASE WHEN n_est = 0 THEN 0
       |              WHEN sq_est >= 0 THEN sq_est // n_est
       |              ELSE -((-sq_est) // n_est) END)
       |      - (CASE WHEN n_delta = 0 THEN 0
       |              WHEN sq_delta >= 0 THEN sq_delta // n_delta
       |              ELSE -((-sq_delta) // n_delta) END) > 0
       |    THEN 1 ELSE 0 END), 0) = 1 AS retrain
       |  FROM dcells
       |), fqd AS (
       |  SELECT vec_id, s.d AS d, s.q AS q FROM (
       |    SELECT vec_id, unnest(
       |      [{'d': i, 'q': CAST(ROUND(v[i] * 1000000.0 + 1e-9) AS BIGINT)}
       |       FOR i IN range(1, len(v) + 1)]) AS s
       |    FROM e) u
       |), fcent0 AS (
       |  SELECT vec_id AS cent_id, v AS cv FROM e WHERE vec_id < $IVF_CENTROIDS
       |), $fullIters, served AS (
       |  SELECT cent_id, cv FROM fcent$KM_ITERS
       |    WHERE (SELECT retrain FROM vote)
       |  UNION ALL
       |  SELECT cent_id, cv FROM cent$KM_ITERS
       |    WHERE NOT (SELECT retrain FROM vote)
       |)""".stripMargin
  }

  val annIndexRetrainedSql: String = {
    s"""WITH $retrainedServedPrefixSql, ranked AS (
       |  SELECT e.vec_id, c.cent_id,
       |    ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
       |      ROUND(list_cosine_similarity(e.v, c.cv) + 1e-12, 6) DESC,
       |      c.cent_id ASC) AS rn
       |  FROM e CROSS JOIN served c
       |), cells AS (
       |  SELECT e.vec_id, e.v, r.cent_id AS cell
       |  FROM e JOIN ranked r ON r.vec_id = e.vec_id AND r.rn = 1
       |), probes AS (
       |  SELECT e.vec_id AS query_id, e.v AS qv, r.cent_id AS cell
       |  FROM e JOIN ranked r ON r.vec_id = e.vec_id AND r.rn <= $IVF_NPROBE
       |  WHERE e.vec_id < $N_QUERIES
       |), s AS (
       |  SELECT p.query_id, c.vec_id AS neighbor_id,
       |    ROUND(list_cosine_similarity(p.qv, c.v) + 1e-12, 6) AS sim
       |  FROM probes p JOIN cells c
       |    ON c.cell = p.cell AND c.vec_id <> p.query_id
       |)
       |SELECT query_id, neighbor_id, sim, rn FROM (
       |  SELECT *, ROW_NUMBER() OVER (
       |    PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rn
       |  FROM s) final
       |WHERE rn <= $TOP_K""".stripMargin
  }

  /** [[annIvfPqRetrained]]'s oracle: the retrained-serve prefix (both
    * chains + vote + branch select) feeding `ann_ivf_pq_rerank`'s probe /
    * ADC / shortlist / exact-rerank stages — the cell side probes
    * `served`, the PQ stages (sv/cb/scored/codes) are the frozen seed
    * codebook exactly as the in-line pipeline derives it.
    */
  // lazy: PQ_M/PQ_K/PQ_SHORTLIST are declared later in the object (the
  // r11 init-order rule — a plain val here would capture zeros)
  lazy val annIvfPqRetrainedSql: String = {
    val sub = DIMS / PQ_M
    s"""WITH $retrainedServedPrefixSql, ranked AS (
       |  SELECT e.vec_id, c.cent_id,
       |    ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
       |      ROUND(list_cosine_similarity(e.v, c.cv) + 1e-12, 6) DESC,
       |      c.cent_id ASC) AS rn
       |  FROM e CROSS JOIN served c
       |), cells AS (
       |  SELECT e.vec_id, r.cent_id AS cell
       |  FROM e JOIN ranked r ON r.vec_id = e.vec_id AND r.rn = 1
       |), probes AS (
       |  SELECT e.vec_id AS query_id, r.cent_id AS cell
       |  FROM e JOIN ranked r ON r.vec_id = e.vec_id AND r.rn <= $IVF_NPROBE
       |  WHERE e.vec_id < $N_QUERIES
       |), sv AS (
       |  SELECT vec_id, s, v[s*$sub+1 : s*$sub+$sub] AS sv
       |  FROM e, (SELECT unnest(range(0, $PQ_M)) AS s) subs
       |), cb AS (
       |  SELECT s, CAST(vec_id AS INTEGER) AS code, sv AS cv
       |  FROM sv WHERE vec_id < $PQ_K
       |), scored AS (
       |  SELECT vec_id, s, code,
       |         CAST(ROUND((list_dot_product(sv, sv)
       |                     - 2.0 * list_dot_product(sv, cv)
       |                     + list_dot_product(cv, cv)) * 1000000.0
       |                    + 1e-9, 0) AS BIGINT) AS qdist
       |  FROM sv JOIN cb USING (s)
       |), codes AS (
       |  SELECT vec_id, s, code FROM (
       |    SELECT *, ROW_NUMBER() OVER (
       |      PARTITION BY vec_id, s ORDER BY qdist, code) AS rn
       |    FROM scored) r
       |  WHERE rn = 1
       |), adc AS (
       |  SELECT p.query_id, m.vec_id,
       |         CAST(SUM(q.qdist) AS BIGINT) AS adist
       |  FROM probes p
       |  JOIN cells m ON m.cell = p.cell AND m.vec_id <> p.query_id
       |  JOIN codes c ON c.vec_id = m.vec_id
       |  JOIN scored q ON q.vec_id = p.query_id
       |              AND q.s = c.s AND q.code = c.code
       |  GROUP BY 1, 2
       |), short AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT *, ROW_NUMBER() OVER (
       |      PARTITION BY query_id ORDER BY adist, vec_id) AS srn
       |    FROM adc) s
       |  WHERE srn <= $PQ_SHORTLIST
       |), rescored AS (
       |  SELECT s.query_id, s.vec_id,
       |    ROUND(list_cosine_similarity(q.v, n.v) + 1e-12, 6) AS sim
       |  FROM short s
       |  JOIN e q ON q.vec_id = s.query_id
       |  JOIN e n ON n.vec_id = s.vec_id
       |)
       |SELECT query_id, vec_id AS neighbor_id, sim, rn FROM (
       |  SELECT *, ROW_NUMBER() OVER (
       |    PARTITION BY query_id ORDER BY sim DESC, vec_id ASC) AS rn
       |  FROM rescored) final
       |WHERE rn <= $TOP_K""".stripMargin
  }

  /** SemDeDup-style semantic near-dedup (Abbas et al. 2023): cluster the
    * corpus with trained k-means, then search near-duplicate pairs ONLY
    * within each cell — the quadratic zone fenced by cell population
    * instead of LSH bands. Complementary to [[embeddingNeardup]]'s
    * sign-LSH blocking: cells follow the data distribution, so dense
    * regions get split where fixed hyperplanes would lump them. Output
    * (cell, vec_a, vec_b, sim) — the within-cell dup manifest a curation
    * pass resolves with connected components + keeper choice, exactly as
    * dedup_clusters does for text.
    *
    * Scale shape: assignment is the C-bounded broadcast product (the
    * vector payload never shuffles for it); the pair stage is an equi-join
    * on the int cell id, Σ|cell|² work over DISTINCT vectors — the
    * SemDeDup contract is that C grows with the corpus to bound per-cell
    * population, and [[Similarity.withinCellPairs]]'s identity compression
    * (the vector-side sibling of `Dedup.jaccardPairs`) keeps the join
    * invariant to exact-copy multiplicity: k-means still trains on the
    * FULL corpus (copies legitimately weight the means — training is
    * linear), only the quadratic pair stage is compressed. The oracle
    * states the UNcompressed semantics, so losslessness is hash-checked.
    */
  def semanticDedup(spark: SparkSession, sfDir: String): DataFrame = {
    // slim handoff: the output is the pair-mass frame, so it materializes
    // eagerly and the vector cache + withinCellPairs' internal membership
    // caches release at construction end (the r15 footprint playbook —
    // a bare v.cache() outlived the query for the JVM lifetime)
    CacheScope.scoped { scope =>
      val v = scope.cache(vectors(spark, sfDir))
      Handoff.cut(Similarity.withinCellPairs(v, trainedCents(spark, sfDir, v),
        NEARDUP_THRESHOLD, scope))
    }
  }

  /** Oracle: the shared unrolled-k-means prefix, rn=1 assignment, then the
    * same within-cell half-matrix join on exact rounded cosines.
    */
  /** The rn=1 trained-cell assignment CTE shared by the semantic-dedup and
    * purity oracles — ONE copy of the oracle-contract-critical argmax
    * (rounded-cosine DESC, cent_id tie-break), so the discipline can't
    * drift between restatements.
    */
  private def assignedCellCteSql: String =
    s"""assigned AS (
       |  SELECT vec_id, cent_id AS cell FROM (
       |    SELECT e.vec_id, c.cent_id, ROW_NUMBER() OVER (
       |      PARTITION BY e.vec_id ORDER BY
       |        ROUND(list_cosine_similarity(e.v, c.cv) + 1e-12, 6) DESC,
       |        c.cent_id ASC) AS rn
       |    FROM e CROSS JOIN cent$KM_ITERS c) r
       |  WHERE rn = 1
       |)""".stripMargin

  val semanticDedupSql: String =
    s"""WITH $kmeansPrefixSql, $assignedCellCteSql, m AS (
       |  SELECT a.cell, e.vec_id, e.v FROM assigned a JOIN e USING (vec_id)
       |)
       |SELECT a.cell, a.vec_id AS vec_a, b.vec_id AS vec_b,
       |       ROUND(list_cosine_similarity(a.v, b.v) + 1e-12, 6) AS sim
       |FROM m a JOIN m b ON a.cell = b.cell AND a.vec_id < b.vec_id
       |WHERE ROUND(list_cosine_similarity(a.v, b.v) + 1e-12, 6)
       |      >= $NEARDUP_THRESHOLD""".stripMargin

  /** Clustering-quality report: per trained k-means cell, the
    * majority-label purity over the labelled embedding corpus — the
    * diagnostic a training-mix pipeline reads to decide whether the
    * semantic clusters driving [[semanticDedup]] / curation sampling
    * actually track content categories. Purity needs only the majority
    * COUNT (not which label wins), so no tie-break is needed and the whole
    * row is integer counts plus one exact double division.
    *
    * Scale shape: assignment is the C-bounded broadcast product; the
    * label join and both aggs move (vec_id, cell, label) int triples —
    * the vector payload never shuffles.
    */
  def clusterPurity(spark: SparkSession, sfDir: String): DataFrame = {
    val v = vectors(spark, sfDir).cache()
    val cents = trainedCents(spark, sfDir, v)
    val labels = Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("label"))
    Similarity.ivfAssign(v, cents).join(labels, "vec_id")
      .groupBy(col("cell"), col("label"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("cell"))
      .agg(sum(col("n")).as("n_vectors"), max(col("n")).as("n_major"))
      .select(col("cell"), col("n_vectors"), col("n_major"),
        (col("n_major").cast("double") / col("n_vectors")).as("purity"))
  }

  val clusterPuritySql: String =
    s"""WITH $kmeansPrefixSql, $assignedCellCteSql, cl AS (
       |  SELECT a.cell, emb.label, COUNT(*) AS n
       |  FROM assigned a JOIN embeddings emb USING (vec_id)
       |  GROUP BY 1, 2
       |)
       |SELECT cell, CAST(SUM(n) AS BIGINT) AS n_vectors,
       |       CAST(MAX(n) AS BIGINT) AS n_major,
       |       CAST(MAX(n) AS DOUBLE) / CAST(SUM(n) AS BIGINT) AS purity
       |FROM cl GROUP BY cell""".stripMargin

  private val OUTLIER_K = 3

  /** Per-cell outlier manifest: the [[OUTLIER_K]] members of each trained
    * k-means cell with the LOWEST cosine to their own centroid — the
    * curation review queue (mislabeled scrapes, decode garbage, off-topic
    * strays) that complements [[embeddingClusters]]'s mean-cohesion
    * report. Assignment is the same C-bounded broadcast argmax; the
    * per-cell rank is computed in TWO phases because C is SMALL: a
    * partition-local `sort_array(collect_list(...))[1:k]` combiner first
    * reduces the window's input to ≤ cells × partitions × k rows (the
    * session_paths ordered-truncation contract shape), so the final
    * per-cell `row_number` never sees a corpus-sized partition — a naive
    * window PARTITION BY cell would funnel n/C rows into C tasks at
    * 100 TB. Ranking orders by the rounded 6-decimal cosine (engine-exact
    * under the +1e-12 discipline), vec_id tie-break.
    */
  def embeddingOutliers(spark: SparkSession, sfDir: String): DataFrame = {
    val v = vectors(spark, sfDir).cache()
    val cents = trainedCents(spark, sfDir, v)
    val scored = v.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("cent_id"),
        Similarity.cosine(col("v"), col("norm"), col("cv"), col("cnorm"))
          .as("cscore"))
    val assigned = graft.ops.TopN
      .topNPer(scored, col("vec_id"), col("cscore"), col("cent_id"), 1)
      .select(col("cent_id").as("cell"), col("vec_id"),
        col("cscore").as("sim"))
    val local = assigned
      .groupBy(spark_partition_id().as("pid"), col("cell"))
      .agg(slice(sort_array(collect_list(struct(col("sim"), col("vec_id")))),
        1, OUTLIER_K).as("cand"))
      .select(col("cell"), explode(col("cand")).as("c"))
      .select(col("cell"), col("c.vec_id").as("vec_id"), col("c.sim").as("sim"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("cell"))
      .orderBy(col("sim").asc, col("vec_id").asc)
    local.withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= OUTLIER_K)
      .select(col("cell"), col("vec_id"), col("sim"), col("rn"))
  }

  val embeddingOutliersSql: String =
    s"""WITH $kmeansPrefixSql, asg AS (
       |  SELECT vec_id, cent_id AS cell, sim FROM (
       |    SELECT e.vec_id, c.cent_id,
       |      ROUND(list_cosine_similarity(e.v, c.cv) + 1e-12, 6) AS sim,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
       |        ROUND(list_cosine_similarity(e.v, c.cv) + 1e-12, 6) DESC,
       |        c.cent_id ASC) AS rn
       |    FROM e CROSS JOIN cent$KM_ITERS c) r
       |  WHERE rn = 1
       |)
       |SELECT cell, vec_id, sim, rn FROM (
       |  SELECT cell, vec_id, sim, ROW_NUMBER() OVER (
       |    PARTITION BY cell ORDER BY sim ASC, vec_id ASC) AS rn
       |  FROM asg) r
       |WHERE rn <= $OUTLIER_K""".stripMargin

  /** Int8 quantization manifest — the storage/serving compression step of
    * an embedding pipeline (scale = max|v|/127 per vector, q_i = round(
    * v_i/scale)). Sketchy floats are kept OUT of the output: the manifest
    * emits the nano-quantized scale and integer aggregates of the
    * quantized vector (checksum, squared norm, saturation count), so the
    * whole row is engine-exact under the repo's +1e-9 rounding discipline.
    * Shape: one codegen'd [[graft.functions.Int8QuantStats]] expression
    * per row — the whole manifest stays inside the scan's codegen stage
    * with ZERO exchanges (the explode restatement would push dims× the
    * row volume through a vec_id shuffle just to reduce per vector;
    * plan-pinned exchange-free in PlanQualitySpec). Zero vectors quantize
    * to all-zero, never divide by zero.
    */
  def embeddingQuantize(spark: SparkSession, sfDir: String): DataFrame =
    Tables.load(spark, sfDir, "embeddings")
      // empty/NULL vectors carry nothing to quantize; dropping them keeps
      // the row set identical to the oracle's unnest (which emits no row
      // for an element-less array)
      .filter(col("embedding").isNotNull && size(col("embedding")) > 0)
      .select(col("vec_id"),
        graft.functions.VectorFunctions.int8_quant_stats(
          col("embedding").cast("array<double>")).as("qs"))
      .select(col("vec_id"), col("qs.scale_q"), col("qs.checksum"),
        col("qs.qnorm"), col("qs.n_sat"))

  val embeddingQuantizeSql: String =
    """WITH e AS (
      |  SELECT vec_id, unnest(embedding) AS v FROM embeddings
      |), m AS (
      |  SELECT vec_id, v,
      |         MAX(CAST(ABS(v) AS DOUBLE)) OVER (PARTITION BY vec_id) AS ma
      |  FROM e
      |), q AS (
      |  SELECT vec_id, ma,
      |    CASE WHEN ma = 0 THEN 0
      |         ELSE CAST(ROUND(127 * CAST(v AS DOUBLE) / ma + 1e-9, 0) AS BIGINT)
      |    END AS qi
      |  FROM m
      |)
      |SELECT vec_id,
      |  CAST(ROUND(MAX(ma) / 127 * 1e9 + 1e-9, 0) AS BIGINT) AS scale_q,
      |  CAST(SUM(qi) AS BIGINT) AS checksum,
      |  CAST(SUM(qi * qi) AS BIGINT) AS qnorm,
      |  CAST(COUNT(*) FILTER (ABS(qi) = 127) AS BIGINT) AS n_sat
      |FROM q GROUP BY vec_id""".stripMargin

  private val PROJECT_DIMS = 8

  /** Johnson–Lindenstrauss random projection manifest
    * ([[Similarity.randomProject]]): each 64-dim embedding onto 8 fixed
    * pseudo-random hyperplanes — the coordinate-COUNT compression
    * complementing [[embeddingQuantize]]'s coordinate-width compression.
    * All `outDims` dot products run as codegen expressions inside the
    * scan (zero exchanges, plan-pinned); both engines loop dot products
    * in identical element order, so the nudged 6-decimal doubles
    * hash-match.
    */
  def embeddingProject(spark: SparkSession, sfDir: String): DataFrame =
    Similarity.randomProject(
      Tables.load(spark, sfDir, "embeddings")
        .filter(col("embedding").isNotNull && size(col("embedding")) > 0)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v")),
      PROJECT_DIMS, DIMS)

  val embeddingProjectSql: String = {
    val cols = (0 until PROJECT_DIMS).map { o =>
      val w = (0 until DIMS)
        .map(d => Similarity.projWeight(o, d))
        .mkString("[", ", ", "]")
      s"ROUND(list_dot_product(v, $w) + 1e-12, 6) AS p$o"
    }.mkString(",\n       ")
    s"""WITH e AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
       |  WHERE embedding IS NOT NULL AND len(embedding) > 0
       |)
       |SELECT vec_id,
       |       $cols
       |FROM e""".stripMargin
  }

  private[jobs] val PQ_M = 4
  private[jobs] val PQ_K = 16

  /** [[Similarity.pqCodes]] over `embeddings`: 4 subspaces × 16 seed codes
    * — each 64-dim vector compressed to 4 small ints + its reconstruction
    * error. Completes the storage half of IVF-PQ next to the existing IVF
    * routing half.
    */
  def pqCodes(spark: SparkSession, sfDir: String): DataFrame =
    Similarity.pqCodes(vectors(spark, sfDir), PQ_M, PQ_K, DIMS)

  /** Oracle restates subspace slicing, the micro-quantized squared-L2
    * argmin (same association order, same +1e-9 nudge, code-id tie-break)
    * and the integer error sum divided once at the end.
    */
  val pqCodesSql: String = {
    val sub = DIMS / PQ_M
    s"""WITH e AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
       |), sv AS (
       |  SELECT vec_id, s, v[s*$sub+1 : s*$sub+$sub] AS sv
       |  FROM e, (SELECT unnest(range(0, $PQ_M)) AS s) subs
       |), cb AS (
       |  SELECT s, CAST(vec_id AS INTEGER) AS code, sv AS cv
       |  FROM sv WHERE vec_id < $PQ_K
       |), scored AS (
       |  SELECT vec_id, s, code,
       |         CAST(ROUND((list_dot_product(sv, sv)
       |                     - 2.0 * list_dot_product(sv, cv)
       |                     + list_dot_product(cv, cv)) * 1000000.0
       |                    + 1e-9, 0) AS BIGINT) AS qdist
       |  FROM sv JOIN cb USING (s)
       |), best AS (
       |  SELECT vec_id, s, qdist, code FROM (
       |    SELECT *, ROW_NUMBER() OVER (
       |      PARTITION BY vec_id, s ORDER BY qdist, code) AS rn
       |    FROM scored) r
       |  WHERE rn = 1
       |)
       |SELECT vec_id,
       |       ${(0 until PQ_M).map(s =>
            s"MAX(CASE WHEN s = $s THEN code END) AS c$s").mkString(",\n       ")},
       |       CAST(SUM(qdist) AS DOUBLE) / 1000000.0 AS recon_err
       |FROM best GROUP BY vec_id""".stripMargin
  }

  /** [[Similarity.pqCodesTrained]]: one L2 Lloyd's refinement of the seed
    * codebook, then the same coding — the checked form of the "trained
    * codebooks swap in" claim.
    */
  def pqCodesTrained(spark: SparkSession, sfDir: String): DataFrame =
    Similarity.pqCodesTrained(vectors(spark, sfDir), PQ_M, PQ_K, DIMS)

  /** Oracle unrolls the refinement: seed argmin, per-(s, code, dim)
    * BIGINT sums → one double division per coordinate (list rebuilt in
    * dim order, the k-means discipline), re-assign against the refined
    * entries.
    */
  val pqCodesTrainedSql: String = {
    val sub = DIMS / PQ_M
    s"""WITH e AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
       |), sv AS (
       |  SELECT vec_id, s, v[s*$sub+1 : s*$sub+$sub] AS sv
       |  FROM e, (SELECT unnest(range(0, $PQ_M)) AS s) subs
       |), cb AS (
       |  SELECT s, CAST(vec_id AS INTEGER) AS code, sv AS cv
       |  FROM sv WHERE vec_id < $PQ_K
       |), scored0 AS (
       |  SELECT vec_id, s, code,
       |         CAST(ROUND((list_dot_product(sv, sv)
       |                     - 2.0 * list_dot_product(sv, cv)
       |                     + list_dot_product(cv, cv)) * 1000000.0
       |                    + 1e-9, 0) AS BIGINT) AS qdist
       |  FROM sv JOIN cb USING (s)
       |), a0 AS (
       |  SELECT vec_id, s, code FROM (
       |    SELECT *, ROW_NUMBER() OVER (
       |      PARTITION BY vec_id, s ORDER BY qdist, code) AS rn
       |    FROM scored0) r
       |  WHERE rn = 1
       |), qd AS (
       |  SELECT vec_id, s, u.t.d AS d, u.t.q AS q FROM (
       |    SELECT vec_id, s, unnest(
       |      [{'d': i, 'q': CAST(ROUND(sv[i] * 1000000.0 + 1e-9) AS BIGINT)}
       |       FOR i IN range(1, len(sv) + 1)]) AS t
       |    FROM sv) u
       |), cb1 AS (
       |  SELECT s, code, list(coord ORDER BY d) AS cv FROM (
       |    SELECT a0.s, a0.code, qd.d,
       |           CAST(SUM(qd.q) AS DOUBLE) / (COUNT(*) * 1000000.0) AS coord
       |    FROM qd JOIN a0 ON qd.vec_id = a0.vec_id AND qd.s = a0.s
       |    GROUP BY a0.s, a0.code, qd.d) mm
       |  GROUP BY s, code
       |), scored1 AS (
       |  SELECT sv.vec_id, sv.s, cb1.code,
       |         CAST(ROUND((list_dot_product(sv, sv)
       |                     - 2.0 * list_dot_product(sv, cv)
       |                     + list_dot_product(cv, cv)) * 1000000.0
       |                    + 1e-9, 0) AS BIGINT) AS qdist
       |  FROM sv JOIN cb1 USING (s)
       |), best AS (
       |  SELECT vec_id, s, qdist, code FROM (
       |    SELECT *, ROW_NUMBER() OVER (
       |      PARTITION BY vec_id, s ORDER BY qdist, code) AS rn
       |    FROM scored1) r
       |  WHERE rn = 1
       |)
       |SELECT vec_id,
       |       ${(0 until PQ_M).map(s =>
            s"MAX(CASE WHEN s = $s THEN code END) AS c$s").mkString(",\n       ")},
       |       CAST(SUM(qdist) AS DOUBLE) / 1000000.0 AS recon_err
       |FROM best GROUP BY vec_id""".stripMargin
  }

  /** [[Similarity.pqAdcTopK]]: PQ asymmetric-distance search for the first
    * 20 vectors — corpus scanned as 4 ints per vector, scores are integer
    * micro sums (exact in any aggregation order).
    */
  def pqAdcTopK(spark: SparkSession, sfDir: String): DataFrame =
    Similarity.pqAdcTopK(vectors(spark, sfDir), col("vec_id") < N_QUERIES,
      PQ_M, PQ_K, DIMS, TOP_K)

  /** Oracle: the query distance table is the scored frame restricted to
    * query ids; ADC = m table lookups summed as integers — exact.
    */
  val pqAdcTopKSql: String = {
    val sub = DIMS / PQ_M
    s"""WITH e AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
       |), sv AS (
       |  SELECT vec_id, s, v[s*$sub+1 : s*$sub+$sub] AS sv
       |  FROM e, (SELECT unnest(range(0, $PQ_M)) AS s) subs
       |), cb AS (
       |  SELECT s, CAST(vec_id AS INTEGER) AS code, sv AS cv
       |  FROM sv WHERE vec_id < $PQ_K
       |), scored AS (
       |  SELECT vec_id, s, code,
       |         CAST(ROUND((list_dot_product(sv, sv)
       |                     - 2.0 * list_dot_product(sv, cv)
       |                     + list_dot_product(cv, cv)) * 1000000.0
       |                    + 1e-9, 0) AS BIGINT) AS qdist
       |  FROM sv JOIN cb USING (s)
       |), codes AS (
       |  SELECT vec_id, s, code FROM (
       |    SELECT *, ROW_NUMBER() OVER (
       |      PARTITION BY vec_id, s ORDER BY qdist, code) AS rn
       |    FROM scored) r
       |  WHERE rn = 1
       |), adc AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
       |         CAST(SUM(q.qdist) AS BIGINT) AS adist
       |  FROM codes c JOIN scored q USING (s, code)
       |  WHERE q.vec_id < $N_QUERIES AND q.vec_id <> c.vec_id
       |  GROUP BY 1, 2
       |)
       |SELECT query_id, vec_id AS neighbor_id, adist, rn FROM (
       |  SELECT *, ROW_NUMBER() OVER (
       |    PARTITION BY query_id ORDER BY adist, vec_id) AS rn
       |  FROM adc) ranked
       |WHERE rn <= $TOP_K""".stripMargin
  }

  /** [[Similarity.ivfPqTopK]]: the composed billion-vector layout — IVF
    * cells (seed centroids, as `ann_ivf`) prune the corpus to each
    * query's $IVF_NPROBE probed cells; inside them the ADC scan reads
    * only the $PQ_M-int PQ codes. No full-corpus exact-distance stage
    * exists in the plan (spec + PlanAudit pinned).
    */
  def annIvfPq(spark: SparkSession, sfDir: String): DataFrame = {
    val v = vectors(spark, sfDir)
    Similarity.ivfPqTopK(v, Similarity.seedCentroids(v, IVF_CENTROIDS),
      col("vec_id") < N_QUERIES, nprobe = IVF_NPROBE,
      m = PQ_M, k = PQ_K, dims = DIMS, topK = TOP_K)
  }

  /** Oracle: `ann_ivf`'s cell/probe CTEs composed with `pq_adc_topk`'s
    * code/distance-table CTEs; the ADC sum runs only over probed-cell
    * candidates. Integer micros end-to-end — hash-exact.
    */
  /** The IVF×PQ ADC pipeline CTEs, parameterized over an optional
    * survivor predicate (`AND ...` fragment on `e.vec_id`): the
    * index-erasure oracle restricts the candidate cells AND the query
    * side to the surviving cohort while the MODEL CTEs (cent, cb) stay
    * derived from the full corpus — exactly the frozen-model-vs-data
    * distinction the purged artifacts implement.
    */
  private def annIvfPqSqlWhere(survivors: String): String = {
    val sub = DIMS / PQ_M
    s"""WITH e AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
       |), cent AS (
       |  SELECT vec_id AS cent_id, v AS cv FROM e WHERE vec_id < $IVF_CENTROIDS
       |), ranked AS (
       |  SELECT e.vec_id, cent.cent_id,
       |    ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
       |      ROUND(list_cosine_similarity(e.v, cent.cv) + 1e-12, 6) DESC,
       |      cent.cent_id ASC) AS rn
       |  FROM e CROSS JOIN cent
       |), cells AS (
       |  SELECT e.vec_id, r.cent_id AS cell
       |  FROM e JOIN ranked r ON r.vec_id = e.vec_id AND r.rn = 1
       |  WHERE 1 = 1$survivors
       |), probes AS (
       |  SELECT e.vec_id AS query_id, r.cent_id AS cell
       |  FROM e JOIN ranked r ON r.vec_id = e.vec_id AND r.rn <= $IVF_NPROBE
       |  WHERE e.vec_id < $N_QUERIES$survivors
       |), sv AS (
       |  SELECT vec_id, s, v[s*$sub+1 : s*$sub+$sub] AS sv
       |  FROM e, (SELECT unnest(range(0, $PQ_M)) AS s) subs
       |), cb AS (
       |  SELECT s, CAST(vec_id AS INTEGER) AS code, sv AS cv
       |  FROM sv WHERE vec_id < $PQ_K
       |), scored AS (
       |  SELECT vec_id, s, code,
       |         CAST(ROUND((list_dot_product(sv, sv)
       |                     - 2.0 * list_dot_product(sv, cv)
       |                     + list_dot_product(cv, cv)) * 1000000.0
       |                    + 1e-9, 0) AS BIGINT) AS qdist
       |  FROM sv JOIN cb USING (s)
       |), codes AS (
       |  SELECT vec_id, s, code FROM (
       |    SELECT *, ROW_NUMBER() OVER (
       |      PARTITION BY vec_id, s ORDER BY qdist, code) AS rn
       |    FROM scored) r
       |  WHERE rn = 1
       |), adc AS (
       |  SELECT p.query_id, m.vec_id,
       |         CAST(SUM(q.qdist) AS BIGINT) AS adist
       |  FROM probes p
       |  JOIN cells m ON m.cell = p.cell AND m.vec_id <> p.query_id
       |  JOIN codes c ON c.vec_id = m.vec_id
       |  JOIN scored q ON q.vec_id = p.query_id
       |              AND q.s = c.s AND q.code = c.code
       |  GROUP BY 1, 2
       |)
       |SELECT query_id, vec_id AS neighbor_id, adist, rn FROM (
       |  SELECT *, ROW_NUMBER() OVER (
       |    PARTITION BY query_id ORDER BY adist, vec_id) AS rn
       |  FROM adc) final
       |WHERE rn <= $TOP_K""".stripMargin
  }

  val annIvfPqSql: String = annIvfPqSqlWhere("")

  private[jobs] val PQ_SHORTLIST = 3 * TOP_K

  /** [[Similarity.ivfPqRerank]]: the served billion-vector layout — the
    * ADC scan of `ann_ivf_pq` keeps a 3·k shortlist per query and ONLY
    * that shortlist is re-scored with exact cosine against the
    * full-precision vectors (O(queries·shortlist) exact distances,
    * corpus-size-independent). Recovers most of the recall the double
    * quantization gives up (spec-measured vs `ann_ivf_pq`).
    */
  def annIvfPqRerank(spark: SparkSession, sfDir: String): DataFrame = {
    val v = vectors(spark, sfDir)
    Similarity.ivfPqRerank(v, Similarity.seedCentroids(v, IVF_CENTROIDS),
      col("vec_id") < N_QUERIES, nprobe = IVF_NPROBE,
      m = PQ_M, k = PQ_K, dims = DIMS, topK = TOP_K,
      shortlist = PQ_SHORTLIST)
  }

  /** Oracle: `ann_ivf_pq`'s CTEs with the ADC ranking truncated at the
    * shortlist depth, then the exact rounded-cosine re-rank.
    */
  val annIvfPqRerankSql: String = rerankSqlOver(annIvfPqSql)

  /** `ann_index_erasure`'s oracle ([[ArtifactJobs.annIndexErasure]]): the
    * rerank pipeline rebuilt with candidate cells and queries restricted
    * to the erasure survivors — the models (seed centroids, seed
    * codebook) stay full-corpus, exactly as the frozen persisted
    * artifacts do.
    */
  lazy val annIvfPqRerankSurvivorsSql: String =
    rerankSqlOver(annIvfPqSqlWhere(" AND e.vec_id % 29 <> 7"))

  /** Shortlist + exact-rerank tail over any ADC-pipeline SQL. */
  private def rerankSqlOver(adcSql: String): String = {
    val adcPrefix = adcSql
      .substring(0, adcSql.indexOf("\n)\nSELECT"))
    s"""$adcPrefix
       |), short AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT *, ROW_NUMBER() OVER (
       |      PARTITION BY query_id ORDER BY adist, vec_id) AS srn
       |    FROM adc) s
       |  WHERE srn <= $PQ_SHORTLIST
       |), rescored AS (
       |  SELECT s.query_id, s.vec_id,
       |    ROUND(list_cosine_similarity(q.v, n.v) + 1e-12, 6) AS sim
       |  FROM short s
       |  JOIN e q ON q.vec_id = s.query_id
       |  JOIN e n ON n.vec_id = s.vec_id
       |)
       |SELECT query_id, vec_id AS neighbor_id, sim, rn FROM (
       |  SELECT *, ROW_NUMBER() OVER (
       |    PARTITION BY query_id ORDER BY sim DESC, vec_id ASC) AS rn
       |  FROM rescored) final
       |WHERE rn <= $TOP_K""".stripMargin
  }

  /** [[Similarity.hardNegatives]]: top-5 similar-but-differently-labelled
    * neighbors per query over the IVF index — the contrastive-training
    * mining query.
    */
  def hardNegatives(spark: SparkSession, sfDir: String): DataFrame = {
    val v = vectors(spark, sfDir)
    Similarity.hardNegatives(v,
      Tables.load(spark, sfDir, "embeddings")
        .select(col("vec_id"), col("label")),
      Similarity.seedCentroids(v, IVF_CENTROIDS),
      col("vec_id") < N_QUERIES, nprobe = IVF_NPROBE, k = TOP_K)
  }

  /** Oracle: `ann_ivf`'s CTEs with the label join and mismatch filter
    * ahead of the rank.
    */
  val hardNegativesSql: String =
    s"""WITH e AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings
       |), cent AS (
       |  SELECT vec_id AS cent_id, v AS cv FROM e WHERE vec_id < $IVF_CENTROIDS
       |), ranked AS (
       |  SELECT e.vec_id, cent.cent_id,
       |    ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
       |      ROUND(list_cosine_similarity(e.v, cent.cv) + 1e-12, 6) DESC,
       |      cent.cent_id ASC) AS rn
       |  FROM e CROSS JOIN cent
       |), cells AS (
       |  SELECT e.vec_id, e.v, e.label, r.cent_id AS cell
       |  FROM e JOIN ranked r ON r.vec_id = e.vec_id AND r.rn = 1
       |), probes AS (
       |  SELECT e.vec_id AS query_id, e.v AS qv, e.label AS qlabel,
       |         r.cent_id AS cell
       |  FROM e JOIN ranked r ON r.vec_id = e.vec_id AND r.rn <= $IVF_NPROBE
       |  WHERE e.vec_id < $N_QUERIES
       |), s AS (
       |  SELECT p.query_id, c.vec_id AS neighbor_id, c.label AS neg_label,
       |    ROUND(list_cosine_similarity(p.qv, c.v) + 1e-12, 6) AS sim
       |  FROM probes p JOIN cells c
       |    ON c.cell = p.cell AND c.vec_id <> p.query_id
       |   AND c.label <> p.qlabel
       |)
       |SELECT query_id, neighbor_id, neg_label, sim, rn FROM (
       |  SELECT *, ROW_NUMBER() OVER (
       |    PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rn
       |  FROM s) final
       |WHERE rn <= $TOP_K""".stripMargin

  private[jobs] val KCENTER_K = 8

  /** Greedy k-center coreset over the embedding corpus: 8 maximally-spread
    * representatives + nearest-center assignment for every vector
    * ([[Similarity.kCenterCoreset]] scaladoc for the engine-exact integer
    * quantization and the k-scan scale shape). The diversity-selection
    * counterpart to `embedding_clusters`' density-seeking k-means.
    */
  def coresetKcenter(spark: SparkSession, sfDir: String): DataFrame =
    Similarity.kCenterCoreset(vectors(spark, sfDir), KCENTER_K)

  /** Oracle: the identical greedy recurrence, rounds unrolled as CTEs
    * (the k-means unroll pattern). Quantized coords make every squared
    * distance an integer-valued double < 2^53, so MIN/argmax/assignment
    * agree bit-for-bit regardless of each engine's summation order.
    * `n` is MATERIALIZED: it is diamond-referenced twice per round plus
    * in the final assign, and DuckDB re-opens embeddings.parquet per
    * inlined reference — at `ulimit -n 512/1024` the un-materialized
    * form dies with "Too many open files" (the `item_hits` lesson).
    */
  val coresetKcenterSql: String = {
    val quant = "CAST(CAST(ROUND(x * 1000000.0 + 1e-9) AS BIGINT) AS DOUBLE)"
    val rounds = (1 to KCENTER_K - 1).map { t =>
      s"""m$t AS (
         |  SELECT p.vec_id,
         |         MIN(p.n2 + c.n2 - 2 * list_dot_product(p.qv, c.qv)) AS md
         |  FROM n p CROSS JOIN
         |       (SELECT n.* FROM n WHERE n.vec_id IN (SELECT cid FROM c${t - 1})) c
         |  WHERE p.vec_id NOT IN (SELECT cid FROM c${t - 1})
         |  GROUP BY p.vec_id),
         |pick$t AS (SELECT vec_id FROM m$t ORDER BY md DESC, vec_id ASC LIMIT 1),
         |c$t AS (SELECT cid FROM c${t - 1} UNION ALL SELECT vec_id FROM pick$t)""".stripMargin
    }.mkString(",\n")
    s"""WITH q AS (
       |  SELECT vec_id,
       |         list_transform(embedding::DOUBLE[], x -> $quant) AS qv
       |  FROM embeddings
       |), n AS MATERIALIZED (
       |  SELECT vec_id, qv, list_dot_product(qv, qv) AS n2 FROM q
       |), c0 AS (SELECT MIN(vec_id) AS cid FROM n),
       |$rounds,
       |assign AS (
       |  SELECT p.vec_id, c.vec_id AS center_id,
       |         CAST(p.n2 + c.n2 - 2 * list_dot_product(p.qv, c.qv) AS BIGINT)
       |           AS dist2,
       |         ROW_NUMBER() OVER (PARTITION BY p.vec_id ORDER BY
       |           p.n2 + c.n2 - 2 * list_dot_product(p.qv, c.qv) ASC,
       |           c.vec_id ASC) AS rn
       |  FROM n p CROSS JOIN
       |       (SELECT n.* FROM n WHERE n.vec_id IN (SELECT cid FROM c${KCENTER_K - 1})) c
       |)
       |SELECT vec_id, center_id, dist2 FROM assign WHERE rn = 1""".stripMargin
  }

  /** Coreset coverage evaluation — the eval-layer sibling for the coreset
    * family (the dedup_eval → ann_eval → rec_eval discipline): coverage
    * radius (max point-to-nearest-center distance) and total/mean
    * assignment cost of the greedy k-center coreset, against a
    * deterministic hash-ranked sample of the SAME size k — the baseline a
    * labeling/eval-panel budget would otherwise spend. Greedy k-center
    * carries the classic 2·OPT radius guarantee; a random sample carries
    * none — this query prices that difference on the actual corpus (the
    * number that justifies k scans over a free sample).
    *
    * Integer-exact: distances are the same quantized-integer dist² the
    * coreset gate emits, so MAX/SUM are engine-equal under any order;
    * mean is a floor division of exact BIGINTs.
    *
    * Scale shape: the k-center half is the already-priced coreset pass
    * (k corpus scans, driver-held centers); the sample half adds ONE
    * TakeOrderedAndProject over (hash, vec_id) + one broadcast
    * assignment scan; the scorecard is two 1-row aggregates unioned.
    */
  def coresetEval(spark: SparkSession, sfDir: String): DataFrame = {
    val q = Similarity.kCenterQuantized(vectors(spark, sfDir)).cache()
    val kcAssign = Similarity.assignToCenters(
      q, Similarity.kCenterCenters(q, KCENTER_K))
    val sampIds = q.select(col("vec_id"))
      .orderBy(graft.ops.Dedup.md5Long(col("vec_id").cast("string")).asc,
        col("vec_id").asc)
      .limit(KCENTER_K)
    val sCenters = q.join(sampIds, "vec_id")
      .select(col("vec_id").as("center_id"), col("qv").as("cqv"),
        col("n2").as("cn2"))
    val sAssign = Similarity.assignToCenters(q, sCenters)
    def card(method: String, a: DataFrame): DataFrame = a
      .agg(count(lit(1)).as("n_points"), max(col("dist2")).as("max_d2"),
        sum(col("dist2")).as("sum_d2"))
      .select(lit(method).as("method"), col("n_points"), col("max_d2"),
        col("sum_d2"), expr("sum_d2 div n_points").as("mean_d2"))
    card("kcenter", kcAssign).unionAll(card("hash_sample", sAssign))
  }

  /** Oracle: the coreset assignment composed verbatim (single reference —
    * plain CTE per the r11 rule; its own inner CTEs carry the
    * MATERIALIZED fd discipline) + the hash-ranked sample re-derived with
    * the portable md5-prefix hash and the same argmin assignment; `nn` is
    * diamond-referenced (both assignment sides + the sample join) —
    * MATERIALIZED.
    */
  val coresetEvalSql: String = {
    val quant = "CAST(CAST(ROUND(x * 1000000.0 + 1e-9) AS BIGINT) AS DOUBLE)"
    s"""WITH kc AS ($coresetKcenterSql),
       |qq AS (
       |  SELECT vec_id,
       |         list_transform(embedding::DOUBLE[], x -> $quant) AS qv
       |  FROM embeddings
       |), nn AS MATERIALIZED (
       |  SELECT vec_id, qv, list_dot_product(qv, qv) AS n2 FROM qq
       |), sampids AS (
       |  SELECT vec_id FROM nn
       |  ORDER BY ${OracleSql.hexIntSql("vec_id::VARCHAR")} ASC, vec_id ASC
       |  LIMIT $KCENTER_K
       |), sa AS (
       |  SELECT p.vec_id,
       |         CAST(p.n2 + c.n2 - 2 * list_dot_product(p.qv, c.qv) AS BIGINT)
       |           AS dist2,
       |         ROW_NUMBER() OVER (PARTITION BY p.vec_id ORDER BY
       |           p.n2 + c.n2 - 2 * list_dot_product(p.qv, c.qv) ASC,
       |           c.vec_id ASC) AS rn
       |  FROM nn p CROSS JOIN
       |       (SELECT nn.* FROM nn JOIN sampids USING (vec_id)) c
       |), srow AS (SELECT vec_id, dist2 FROM sa WHERE rn = 1)
       |SELECT 'kcenter' AS method, CAST(COUNT(*) AS BIGINT) AS n_points,
       |       CAST(MAX(dist2) AS BIGINT) AS max_d2,
       |       CAST(SUM(dist2) AS BIGINT) AS sum_d2,
       |       CAST(SUM(dist2) AS BIGINT) // COUNT(*) AS mean_d2
       |FROM kc
       |UNION ALL
       |SELECT 'hash_sample', CAST(COUNT(*) AS BIGINT),
       |       CAST(MAX(dist2) AS BIGINT), CAST(SUM(dist2) AS BIGINT),
       |       CAST(SUM(dist2) AS BIGINT) // COUNT(*)
       |FROM srow""".stripMargin
  }

  private[jobs] val MMR_K = 16

  /** MMR diversity selection of 16 vectors — centrality-vs-redundancy
    * curation beside `coreset_kcenter`'s pure-spread greedy
    * ([[Similarity.mmrSelect]] scaladoc for the λ = 1/2 integer
    * restatement and why the score multiplies through by n instead of
    * dividing).
    */
  def diversitySample(spark: SparkSession, sfDir: String): DataFrame =
    Similarity.mmrSelect(vectors(spark, sfDir), MMR_K)

  /** Oracle: the identical greedy recurrence, 16 rounds unrolled. Every
    * per-round CTE MATERIALIZED — sel_t is referenced three times per
    * round (penalty subquery, NOT IN, union), the `item_hits`
    * diamond-inlining lesson at 3^16 scale.
    */
  val diversitySampleSql: String = {
    val quant = "CAST(CAST(ROUND(x * 1000.0 + 1e-9) AS BIGINT) AS DOUBLE)"
    val rounds = (2 to MMR_K).map { t =>
      s"""p$t AS MATERIALIZED (
         |  SELECT p.vec_id, p.qv,
         |         p.rel - (SELECT n FROM params) *
         |           (SELECT MAX(CAST(list_dot_product(p.qv, s.qv) AS BIGINT))
         |            FROM sel${t - 1} s) AS score
         |  FROM r p
         |  WHERE p.vec_id NOT IN (SELECT vec_id FROM sel${t - 1})
         |), w$t AS MATERIALIZED (
         |  SELECT $t AS sel_rank, vec_id, score, qv FROM p$t
         |  ORDER BY score DESC, vec_id ASC LIMIT 1
         |), sel$t AS MATERIALIZED (
         |  SELECT * FROM sel${t - 1} UNION ALL SELECT * FROM w$t
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH q AS MATERIALIZED (
       |  SELECT vec_id, list_transform(embedding::DOUBLE[], x -> $quant) AS qv
       |  FROM embeddings
       |), params AS MATERIALIZED (SELECT COUNT(*) AS n FROM q),
       |sv AS MATERIALIZED (
       |  SELECT list(s ORDER BY dim) AS sumv FROM (
       |    SELECT u.dim AS dim, SUM(u.x) AS s FROM (
       |      SELECT unnest(qv) AS x, generate_subscripts(qv, 1) AS dim
       |      FROM q) u
       |    GROUP BY u.dim) g
       |), r AS MATERIALIZED (
       |  SELECT q.vec_id, q.qv,
       |         CAST(list_dot_product(q.qv, sv.sumv) AS BIGINT) AS rel
       |  FROM q, sv
       |), sel1 AS MATERIALIZED (
       |  SELECT 1 AS sel_rank, vec_id, rel AS score, qv FROM r
       |  ORDER BY rel DESC, vec_id ASC LIMIT 1
       |),
       |$rounds
       |SELECT sel_rank, vec_id, score AS mmr_score FROM sel$MMR_K""".stripMargin
  }

  private val PCA_ITERS = 5

  /** Integer power-iteration top-PC projection of every embedding — the
    * LEARNED 1-D reduction beside `embedding_project`'s data-oblivious JL
    * planes ([[Similarity.pcaPowerProjection]] scaladoc: one Gram pass +
    * driver-side rounds + one projection scan; zero per-round exchanges).
    */
  def embeddingPca(spark: SparkSession, sfDir: String): DataFrame =
    Similarity.pcaPowerProjection(vectors(spark, sfDir), DIMS, PCA_ITERS)

  /** Oracle: quantized Gram via a range-join outer product, then the
    * identical five matrix-vector rounds unrolled as CTEs; sign is
    * factored out of every division so `//` only ever sees positive
    * operands (= Scala truncation).
    */
  val embeddingPcaSql: String = {
    val quant = "CAST(CAST(ROUND(x * 1000.0 + 1e-9) AS BIGINT) AS DOUBLE)"
    val rounds = (1 to PCA_ITERS).map { t =>
      s"""y$t AS (
         |  SELECT g.d1 AS d, CAST(SUM(g.g * v.v) AS BIGINT) AS y
         |  FROM gram g JOIN v${t - 1} v ON v.d = g.d2 GROUP BY g.d1),
         |m$t AS (SELECT GREATEST(MAX(ABS(y)) // ${Similarity.PcaVScale}, 1) AS m
         |        FROM y$t),
         |v$t AS (
         |  SELECT d, (CASE WHEN y < 0 THEN -1 ELSE 1 END) * (ABS(y) // m) AS v
         |  FROM y$t CROSS JOIN m$t)""".stripMargin
    }.mkString(",\n")
    s"""WITH xe AS (
       |  SELECT vec_id,
       |         list_transform(embedding::DOUBLE[], x -> $quant) AS qv
       |  FROM embeddings
       |), gram AS (
       |  SELECT d1.i AS d1, d2.i AS d2,
       |         CAST(SUM(qv[d1.i] * qv[d2.i]) AS BIGINT) AS g
       |  FROM xe, range(1, ${DIMS + 1}) d1(i), range(1, ${DIMS + 1}) d2(i)
       |  GROUP BY d1.i, d2.i
       |), v0 AS (
       |  SELECT i AS d, CAST(${Similarity.PcaVScale} AS BIGINT) AS v
       |  FROM range(1, ${DIMS + 1}) t(i)
       |),
       |$rounds
       |SELECT x.vec_id, CAST(SUM(x.qv[v.d] * v.v) AS BIGINT) AS proj_q
       |FROM xe x CROSS JOIN v$PCA_ITERS v
       |GROUP BY x.vec_id""".stripMargin
  }

  private[jobs] val RRF_K = 60    // the standard reciprocal-rank constant
  private[jobs] val RRF_DEPTH = 10 // per-list candidate depth
  private[jobs] val RRF_TOP = 5    // fused output depth

  /** Reciprocal-rank-fusion hybrid retrieval — the standard way to merge a
    * dense (embedding) and a sparse (lexical) candidate list without
    * commensurable scores (Cormack, Clarke, Büttcher 2009, SIGIR: RRF
    * outperforms either list alone and any score-normalization fusion).
    * For each query id < [[N_QUERIES]]:
    *
    *  - dense list: exact cosine top-[[RRF_DEPTH]] (the brute-force
    *    baseline contract of `ann_cosine_topk`; at scale the swap-in is
    *    the `ann_ivf_pq_rerank` artifact path — same (query_id, doc_id,
    *    rank) shape),
    *  - sparse list: distinct-token overlap top-[[RRF_DEPTH]] via an
    *    INVERTED-INDEX equi-join on [[graft.ops.Dedup.md5Long]] token
    *    hashes (query side bounded, so candidate volume is
    *    O(queries × postings), never corpus × corpus; int join keys per
    *    the pair-lineage discipline),
    *  - fusion: score = Σ_lists 10⁹ div ([[RRF_K]] + rank), a FLOOR
    *    division of exact integers (no 1/x float drift), absent list ⇒ 0
    *    contribution; final order (score DESC, doc_id) — every emitted
    *    number engine-exact.
    *
    * Scale shape: both lists are (queries × depth)-bounded frames; the
    * full-outer fusion join and the final per-query rank run on frames
    * that fit in one broadcast regardless of corpus size. Reference
    * anchor: the reference's top-N + rank-merge idiom
    * (TopNHotItems.java) applied to retrieval lists.
    */
  def rrfFusion(spark: SparkSession, sfDir: String): DataFrame = {
    // slim handoff (r17): the corpus token cache was unmanaged and
    // outlived the query for the JVM lifetime
    CacheScope.scoped(scope => Handoff.cut(rrfFusionCore(spark, sfDir, scope)))
  }

  private def rrfFusionCore(spark: SparkSession, sfDir: String,
      scope: CacheScope): DataFrame = {
    val v = vectors(spark, sfDir)
    val dense = Similarity
      .bruteForceTopK(v, v.filter(col("vec_id") < N_QUERIES), RRF_DEPTH)
      .select(col("query_id"), col("neighbor_id").as("doc_id"),
        col("rn").as("dense_rn"))
    // distinct ONCE on int hashes (round-3 set-semantics discipline);
    // cached: the query side and the posting side both read it
    val toks = scope.cache(Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        explode(graft.ops.TextAnalysis.tokens(lower(col("text")))).as("w"))
      .select(col("doc_id"), graft.ops.Dedup.md5Long(col("w")).as("th"))
      .distinct())
    val overlap = toks.filter(col("doc_id") < N_QUERIES)
      .select(col("doc_id").as("query_id"), col("th"))
      .join(toks, "th")
      .filter(col("query_id") =!= col("doc_id"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).as("ov"))
    val sparse = graft.ops.TopN
      .topNPer(overlap, col("query_id"), col("ov"), col("doc_id"), RRF_DEPTH)
      .select(col("query_id"), col("doc_id"), col("rn").as("sparse_rn"))
    val fused = dense.join(sparse, Seq("query_id", "doc_id"), "full_outer")
      .select(col("query_id"), col("doc_id"),
        (coalesce(expr(s"1000000000 div ($RRF_K + dense_rn)"), lit(0L)) +
          coalesce(expr(s"1000000000 div ($RRF_K + sparse_rn)"), lit(0L)))
          .as("rrf_ppb"),
        coalesce(col("dense_rn"), lit(0L)).as("dense_rn"),
        coalesce(col("sparse_rn"), lit(0L)).as("sparse_rn"))
    graft.ops.TopN
      .topNPer(fused, col("query_id"), col("rrf_ppb"), col("doc_id"), RRF_TOP)
      .select(col("query_id"), col("doc_id"), col("rrf_ppb"),
        col("dense_rn"), col("sparse_rn"), col("rn"))
  }

  val rrfFusionSql: String =
    s"""WITH e AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
       |), s AS (
       |  SELECT q.vec_id AS query_id, e.vec_id AS doc_id,
       |         ROUND(list_cosine_similarity(q.v, e.v) + 1e-12, 6) AS sim
       |  FROM e q JOIN e ON q.vec_id < $N_QUERIES AND q.vec_id <> e.vec_id
       |), dense AS (
       |  SELECT query_id, doc_id, rn AS dense_rn FROM (
       |    SELECT *, ROW_NUMBER() OVER (
       |      PARTITION BY query_id ORDER BY sim DESC, doc_id ASC) AS rn
       |    FROM s) r
       |  WHERE rn <= $RRF_DEPTH
       |), tok AS MATERIALIZED (
       |  SELECT DISTINCT doc_id, ${OracleSql.hexIntSql("w")} AS th
       |  FROM (SELECT doc_id,
       |          unnest(${OracleSql.tokensSql("lower(text)")}) AS w
       |        FROM documents) raw
       |), ov AS (
       |  SELECT q.doc_id AS query_id, c.doc_id AS doc_id, COUNT(*) AS ov
       |  FROM tok q JOIN tok c ON q.th = c.th AND q.doc_id <> c.doc_id
       |  WHERE q.doc_id < $N_QUERIES
       |  GROUP BY 1, 2
       |), sparse AS (
       |  SELECT query_id, doc_id, rn AS sparse_rn FROM (
       |    SELECT *, ROW_NUMBER() OVER (
       |      PARTITION BY query_id ORDER BY ov DESC, doc_id ASC) AS rn
       |    FROM ov) r
       |  WHERE rn <= $RRF_DEPTH
       |), fused AS (
       |  SELECT COALESCE(d.query_id, sp.query_id) AS query_id,
       |         COALESCE(d.doc_id, sp.doc_id) AS doc_id,
       |         CAST(COALESCE(1000000000 // ($RRF_K + d.dense_rn), 0)
       |           + COALESCE(1000000000 // ($RRF_K + sp.sparse_rn), 0)
       |           AS BIGINT) AS rrf_ppb,
       |         CAST(COALESCE(d.dense_rn, 0) AS BIGINT) AS dense_rn,
       |         CAST(COALESCE(sp.sparse_rn, 0) AS BIGINT) AS sparse_rn
       |  FROM dense d FULL JOIN sparse sp
       |    ON d.query_id = sp.query_id AND d.doc_id = sp.doc_id
       |)
       |SELECT query_id, doc_id, rrf_ppb, dense_rn, sparse_rn, rn FROM (
       |  SELECT *, ROW_NUMBER() OVER (
       |    PARTITION BY query_id ORDER BY rrf_ppb DESC, doc_id ASC) AS rn
       |  FROM fused) r
       |WHERE rn <= $RRF_TOP""".stripMargin

  /** ANN-index QA — the retrieval twin of [[DedupJobs.dedupEval]]: per-query
    * recall and rank agreement of the IVF index ([[annIvf]]) against the
    * exact brute-force truth ([[annCosineTopK]]). One row per query:
    * `n_truth`/`n_hit` exact counts, `recall_ppm` a floor division, and
    * `rr_sum_ppm` = Σ 10⁶ div approx_rank over the hits (the integer MRR
    * numerator — order-independent BIGINT sum, engine-exact). This is the
    * number that prices an nprobe setting before a 100 TB index rebuild:
    * both inputs are the already-fenced pipelines (truth is query-side
    * broadcast, IVF probes nprobe/centroids of the corpus), and the eval
    * itself is a (query, neighbor)-keyed left join + a query-keyed agg —
    * 20-row output, nothing new shuffles at corpus width.
    */
  def annEval(spark: SparkSession, sfDir: String): DataFrame =
    annEvalAgainst(annCosineTopK(spark, sfDir), annIvf(spark, sfDir))

  /** [[annEval]] pointed at the sign-LSH index — the same truth set and
    * arithmetic, so the two indexes' recall/rank numbers are directly
    * comparable when choosing which family to build at 10⁹ vectors.
    * (annLsh ranks every vector as a query; the truth-side left join
    * restricts the eval to the truth queries.)
    */
  def annEvalLsh(spark: SparkSession, sfDir: String): DataFrame =
    annEvalAgainst(annCosineTopK(spark, sfDir), annLsh(spark, sfDir))

  /** [[annEval]] pointed at the full compressed-index serving stack
    * (IVF probe → ADC shortlist → exact re-rank, [[annIvfPqRerank]]) —
    * the third index family under the shared scorecard, completing the
    * comparison a 10⁹-vector build actually faces: plain IVF vs sign-LSH
    * vs IVF×PQ+rerank. Rerank recall ≥ raw-ADC recall by construction
    * (the exact re-rank can only fix ADC rank errors inside the
    * shortlist), and this query prices the shortlist depth the same way
    * ann_eval prices nprobe.
    */
  def annEvalPq(spark: SparkSession, sfDir: String): DataFrame =
    annEvalAgainst(annCosineTopK(spark, sfDir), annIvfPqRerank(spark, sfDir))

  private def annEvalAgainst(
      truthDf: DataFrame, approxDf: DataFrame): DataFrame = {
    val truth = truthDf.select(col("query_id"), col("neighbor_id"))
    val approx = approxDf
      .select(col("query_id"), col("neighbor_id"), col("rn").as("approx_rn"))
    truth.join(approx, Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_truth"),
        count(col("approx_rn")).as("n_hit"),
        coalesce(sum(expr("1000000 div approx_rn")), lit(0L)).as("rr_sum_ppm"))
      .select(col("query_id"), col("n_truth"), col("n_hit"),
        expr("(n_hit * 1000000) div n_truth").as("recall_ppm"),
        col("rr_sum_ppm"))
  }

  /** Oracle: the two existing contracts composed verbatim (each referenced
    * once — linear, no MATERIALIZED needed) + the same integer arithmetic.
    */
  val annEvalSql: String = annEvalSqlOver(annIvfSql)

  val annEvalLshSql: String = annEvalSqlOver(annLshSql)

  lazy val annEvalPqSql: String = annEvalSqlOver(annIvfPqRerankSql)

  private def annEvalSqlOver(approxSql: String): String =
    s"""WITH truth AS (
       |  SELECT query_id, neighbor_id FROM ($annCosineTopKSql) tq
       |), approx AS (
       |  SELECT query_id, neighbor_id, rn AS approx_rn FROM ($approxSql) aq
       |), j AS (
       |  SELECT t.query_id, a.approx_rn
       |  FROM truth t LEFT JOIN approx a
       |    ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id
       |)
       |SELECT query_id, COUNT(*) AS n_truth,
       |       COUNT(approx_rn) AS n_hit,
       |       CAST((COUNT(approx_rn) * 1000000) // COUNT(*) AS BIGINT)
       |         AS recall_ppm,
       |       CAST(COALESCE(SUM(1000000 // approx_rn), 0) AS BIGINT)
       |         AS rr_sum_ppm
       |FROM j GROUP BY query_id""".stripMargin

  private[jobs] val KNN_K = 5

  /** kNN label serving: classify the held-out half of the corpus (odd
    * vec_ids) by majority vote of their [[KNN_K]] nearest labeled
    * neighbors (even vec_ids) — the standard embedding-space classifier a
    * curation pipeline runs to propagate scarce human labels. Vote is
    * deterministic: neighbor rank ties break on id (the brute-force
    * contract), the vote itself on (votes DESC, label ASC). Output is
    * row-level (vec_id, true_label, predicted, correct) so accuracy is an
    * audit-side aggregate, not a baked-in estimate. Scale shape: the gate
    * query uses the exact brute-force scorer (test side broadcast); at
    * 10⁹ vectors the drop-in is the IVF/PQ artifact path
    * ([[annIvfPqRerank]]) feeding the SAME vote — the vote stage is a
    * (query, label)-keyed agg + a query-partitioned rank, linear in k·|test|.
    */
  def knnClassify(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lab = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("label").cast("long").as("label"))
    val v = vectors(spark, sfDir)
    val train = v.filter(col("vec_id") % 2 === 0)
    val test = v.filter(col("vec_id") % 2 === 1)
    val nn = Similarity.bruteForceTopK(train, test, KNN_K)
    val votes = nn.join(
        lab.select(col("vec_id").as("neighbor_id"), col("label").as("nlabel")),
        "neighbor_id")
      .groupBy(col("query_id"), col("nlabel"))
      .agg(count(lit(1)).as("votes"))
    val pred = votes.withColumn("vrank",
        row_number().over(Window.partitionBy(col("query_id"))
          .orderBy(col("votes").desc, col("nlabel").asc)))
      .filter(col("vrank") === 1)
    pred.join(lab.select(col("vec_id").as("query_id"),
        col("label").as("true_label")), "query_id")
      .select(col("query_id").as("vec_id"), col("true_label"),
        col("nlabel").as("predicted"),
        (col("true_label") === col("nlabel")).cast("long").as("correct"))
  }

  val knnClassifySql: String =
    s"""WITH e AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS v, CAST(label AS BIGINT) AS label
       |  FROM embeddings
       |), s AS (
       |  SELECT q.vec_id AS query_id, t.vec_id AS neighbor_id, t.label AS nlabel,
       |         ROUND(list_cosine_similarity(q.v, t.v) + 1e-12, 6) AS sim
       |  FROM e q JOIN e t ON q.vec_id % 2 = 1 AND t.vec_id % 2 = 0
       |), nn AS (
       |  SELECT query_id, nlabel FROM (
       |    SELECT *, ROW_NUMBER() OVER (
       |      PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rn
       |    FROM s) r
       |  WHERE rn <= $KNN_K
       |), votes AS (
       |  SELECT query_id, nlabel, COUNT(*) AS votes FROM nn GROUP BY 1, 2
       |), pred AS (
       |  SELECT query_id, nlabel FROM (
       |    SELECT *, ROW_NUMBER() OVER (
       |      PARTITION BY query_id ORDER BY votes DESC, nlabel ASC) AS vrank
       |    FROM votes) r
       |  WHERE vrank = 1
       |)
       |SELECT p.query_id AS vec_id, e.label AS true_label,
       |       p.nlabel AS predicted,
       |       CAST(CASE WHEN e.label = p.nlabel THEN 1 ELSE 0 END AS BIGINT)
       |         AS correct
       |FROM pred p JOIN e ON e.vec_id = p.query_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ann_eval" -> annEval,
    "ann_eval_lsh" -> annEvalLsh,
    "ann_eval_pq" -> annEvalPq,
    "knn_classify" -> knnClassify,
    "rrf_fusion" -> rrfFusion,
    "embedding_pca" -> embeddingPca,
    "diversity_sample" -> diversitySample,
    "coreset_kcenter" -> coresetKcenter,
    "coreset_eval" -> coresetEval,
    "pq_codes" -> pqCodes,
    "pq_codes_trained" -> pqCodesTrained,
    "pq_adc_topk" -> pqAdcTopK,
    "ann_ivf_pq" -> annIvfPq,
    "ann_ivf_pq_rerank" -> annIvfPqRerank,
    "hard_negatives" -> hardNegatives,
    "embedding_project" -> embeddingProject,
    "embedding_quantize" -> embeddingQuantize,
    "ann_cosine_topk" -> annCosineTopK,
    "embedding_neardup" -> embeddingNeardup,
    "ann_lsh" -> annLsh,
    "ann_ivf" -> annIvf,
    "ann_ivf_trained" -> annIvfTrained,
    "embedding_clusters" -> embeddingClusters,
    "ann_index_drift" -> annIndexDrift,
    "ann_index_retrained" -> annIndexRetrained,
    "ann_ivf_pq_retrained" -> annIvfPqRetrained,
    "cluster_purity" -> clusterPurity,
    "embedding_outliers" -> embeddingOutliers,
    "semantic_dedup" -> semanticDedup)

  val oracles: Map[String, String] = Map(
    "ann_eval" -> annEvalSql,
    "ann_eval_lsh" -> annEvalLshSql,
    "ann_eval_pq" -> annEvalPqSql,
    "knn_classify" -> knnClassifySql,
    "rrf_fusion" -> rrfFusionSql,
    "embedding_pca" -> embeddingPcaSql,
    "diversity_sample" -> diversitySampleSql,
    "coreset_kcenter" -> coresetKcenterSql,
    "coreset_eval" -> coresetEvalSql,
    "pq_codes" -> pqCodesSql,
    "pq_codes_trained" -> pqCodesTrainedSql,
    "pq_adc_topk" -> pqAdcTopKSql,
    "ann_ivf_pq" -> annIvfPqSql,
    "ann_ivf_pq_rerank" -> annIvfPqRerankSql,
    "hard_negatives" -> hardNegativesSql,
    "embedding_project" -> embeddingProjectSql,
    "embedding_quantize" -> embeddingQuantizeSql,
    "ann_cosine_topk" -> annCosineTopKSql,
    "embedding_neardup" -> embeddingNeardupSql,
    "ann_lsh" -> annLshSql,
    "ann_ivf" -> annIvfSql,
    "ann_ivf_trained" -> annIvfTrainedSql,
    "embedding_clusters" -> embeddingClustersSql,
    "ann_index_drift" -> annIndexDriftSql,
    "ann_index_retrained" -> annIndexRetrainedSql,
    "ann_ivf_pq_retrained" -> annIvfPqRetrainedSql,
    "cluster_purity" -> clusterPuritySql,
    "embedding_outliers" -> embeddingOutliersSql,
    "semantic_dedup" -> semanticDedupSql)
}
