package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import graft.ops.Similarity
import graft.streaming.StreamingSimilarity

/** The streaming semantic screen: in-flight cell assignment must be
  * bit-equal to the batch `ivfAssign`, and the full stream screen must
  * emit exactly the pairs the equivalent batch computation produces —
  * the same stream/batch-equivalence contract StreamingDedupSpec pins for
  * the minhash screen.
  */
class StreamingSimilaritySpec extends SparkSpec {
  import spark.implicits._

  private def ts(sec: Long) = new Timestamp(sec * 1000L)

  // corpus: two clearly separated directions plus mild off-axis vectors.
  // kmeansCentroids seeds from the first `c` ids, so ids 0 and 1 span the
  // two directions — the trained cells separate the x- and z-clusters.
  private def corpus = Similarity.withNorm(
    Seq(
      (0L, Array(1.0f, 0.05f, 0.0f)),
      (1L, Array(0.0f, 0.1f, 1.0f)),
      (2L, Array(0.9f, 0.1f, 0.05f)),
      (3L, Array(0.05f, 0.0f, 0.95f)))
      .toDF("vec_id", "embedding"),
    col("vec_id"), col("embedding"))

  // arrivals: a near-copy of 10, a near-copy of 12, and an in-between
  // vector that lands in SOME cell but matches nothing at the threshold
  private val arrivals = Seq(
    (1L, Array(0.99f, 0.06f, 0.01f), ts(100)),
    (2L, Array(0.01f, 0.09f, 0.98f), ts(101)),
    (3L, Array(0.6f, 0.5f, 0.6f), ts(102)))

  test("stream screen equals the batch screen, cells and cosines included") {
    implicit val sqlCtx = spark.sqlContext
    val cents = Similarity.kmeansCentroids(corpus, 2, 2)
    val cells = StreamingSimilarity.corpusCells(corpus, cents)
    val threshold = 0.98

    val in = MemoryStream[(Long, Array[Float], Timestamp)]
    val q = StreamingSimilarity.screenAgainstCorpus(
        in.toDF().toDF("vec_id", "embedding", "ts"), "ts", "0 seconds",
        cents, cells, threshold)
      .writeStream.format("memory").queryName("stream_sim_screen")
      .outputMode("append").start()
    val got = try {
      in.addData(arrivals: _*)
      q.processAllAvailable()
      spark.table("stream_sim_screen")
        .select($"vec_id", $"corpus_id", $"sim")
        .as[(Long, Long, Double)].collect().toSet
    } finally q.stop()

    // batch equivalent: assign the same arrivals with ivfAssign against
    // the same centroids, equi-join the corpus cell table, same cosine
    val arrBatch = Similarity.withNorm(
      arrivals.map(a => (a._1, a._2)).toDF("vec_id", "embedding"),
      col("vec_id"), col("embedding"))
    val expected = arrBatch
      .join(Similarity.ivfAssign(arrBatch, cents), "vec_id")
      .alias("s")
      .join(cells.alias("c"), col("s.cell") === col("c.cell"))
      .select(col("s.vec_id"),
        col("c.corpus_id"),
        Similarity.cosine(col("s.v"), col("s.norm"), col("c.v"),
          col("c.norm")).as("sim"))
      .filter(col("sim") >= threshold)
      .as[(Long, Long, Double)].collect().toSet

    assert(got == expected, s"stream $got vs batch $expected")
    assert(got.map(_._1).contains(1L) && got.map(_._1).contains(2L))
    assert(!got.map(_._1).contains(3L),
      "below-threshold arrival must pass the screen silently")
  }

  test("in-flight cell assignment is bit-equal to batch ivfAssign") {
    implicit val sqlCtx = spark.sqlContext
    val cents = Similarity.kmeansCentroids(corpus, 2, 2)
    val cells = StreamingSimilarity.corpusCells(corpus, cents)

    // threshold -1: every corpus vector in the arrival's cell is emitted,
    // so the output exposes the assignment itself
    val in = MemoryStream[(Long, Array[Float], Timestamp)]
    val q = StreamingSimilarity.screenAgainstCorpus(
        in.toDF().toDF("vec_id", "embedding", "ts"), "ts", "0 seconds",
        cents, cells, -1.0)
      .writeStream.format("memory").queryName("stream_sim_cells")
      .outputMode("append").start()
    val streamCells = try {
      in.addData(arrivals: _*)
      q.processAllAvailable()
      spark.table("stream_sim_cells")
        .select($"vec_id", $"cell").distinct()
        .as[(Long, Long)].collect().toMap
    } finally q.stop()

    val arrBatch = Similarity.withNorm(
      arrivals.map(a => (a._1, a._2)).toDF("vec_id", "embedding"),
      col("vec_id"), col("embedding"))
    val batchCells = Similarity.ivfAssign(arrBatch, cents)
      .as[(Long, Long)].collect().toMap

    assert(streamCells == batchCells,
      s"in-flight argmax $streamCells diverges from batch $batchCells")
  }

  test("streaming ADC screen from the served index is bit-equal to batch IVF-PQ") {
    // the round-7 serving layout composed with the streaming surface:
    // arrivals ADC-scored against the persisted cells/codes/codebook must
    // reproduce the batch ivfPqTopK candidate set (query, neighbor,
    // adist) EXACTLY — same probes, same distance tables, same integer
    // micros — on the real sf0.001 embeddings
    implicit val sqlCtx = spark.sqlContext
    val (nprobe, m, k, dims) = (4, 4, 16, 64)
    val v = Similarity.withNorm(
      spark.read.parquet(s"${sf("sf0.001")}/embeddings.parquet"),
      col("vec_id"), col("embedding")).cache()
    val cents = Similarity.seedCentroids(v, 16)
    val packed = StreamingSimilarity.packedCodes(
      Similarity.ivfCells(v, cents),
      Similarity.pqAssign(v, m, k, dims).select($"vec_id", $"s", $"code"))
      .cache()
    val codebook = Similarity.pqSeedCodebook(v, m, k, dims)

    val arrivals = spark.read
      .parquet(s"${sf("sf0.001")}/embeddings.parquet")
      .filter($"vec_id" < 20)
      .select($"vec_id", $"embedding")
      .as[(Long, Array[Float])].collect()
      .map { case (id, emb) => (id, emb, ts(100 + id)) }

    val in = MemoryStream[(Long, Array[Float], Timestamp)]
    val q = StreamingSimilarity.adcScreenFromIndex(
        in.toDF().toDF("vec_id", "embedding", "ts"), "ts", "0 seconds",
        cents, packed, codebook, nprobe, m, k, dims, Long.MaxValue)
      .writeStream.format("memory").queryName("stream_adc_screen")
      .outputMode("append").start()
    val got = try {
      in.addData(arrivals.toSeq: _*)
      q.processAllAvailable()
      spark.table("stream_adc_screen")
        .select($"vec_id", $"corpus_id", $"adist")
        .as[(Long, Long, Long)].collect().toSet
    } finally q.stop()

    // batch twin: the full candidate set of the in-line composed pipeline
    // (topK larger than any candidate count = no truncation)
    val expected = Similarity.ivfPqTopK(v, cents, $"vec_id" < 20,
        nprobe, m, k, dims, topK = 1000000)
      .select($"query_id", $"neighbor_id", $"adist")
      .as[(Long, Long, Long)].collect().toSet

    assert(got.nonEmpty, "screen must emit candidates")
    assert(got == expected,
      s"only-stream=${(got -- expected).take(3)} " +
        s"only-batch=${(expected -- got).take(3)}")
    v.unpersist(); packed.unpersist()
  }

  test("delta-cell index refresh: served index equals a frozen-model batch rebuild") {
    implicit val sqlCtx = spark.sqlContext
    val (nprobe, m, k, dims) = (4, 4, 16, 64)
    val emb = spark.read.parquet(s"${sf("sf0.001")}/embeddings.parquet")
    // established corpus = ids < 450; arrivals = 450..499 in two batches.
    // the model (centroids + codebook) is trained on the corpus and
    // FROZEN — ids 0..15 seed both and stay in the corpus throughout.
    val corpusV = Similarity.withNorm(emb.filter($"vec_id" < 450),
      col("vec_id"), col("embedding")).cache()
    val cents = Similarity.seedCentroids(corpusV, 16).cache()
    val codebook = Similarity.pqSeedCodebook(corpusV, m, k, dims).cache()
    cents.count(); codebook.count()
    def packedOf(v: org.apache.spark.sql.DataFrame) =
      Similarity.ivfAssign(v, cents)
        .join(Similarity.pqEncodeWith(v, codebook, m, dims), "vec_id")
        .select(col("vec_id").as("corpus_id"), col("cell"),
          org.apache.spark.sql.functions.array(
            (0 until m).map(s => col(s"c$s")): _*).as("codes"))
    val dir = java.nio.file.Files.createTempDirectory("ivf_index_").toString
    packedOf(corpusV).write.mode("overwrite").parquet(dir)

    val arrivals = emb.filter($"vec_id" >= 450)
      .select($"vec_id", $"embedding")
      .as[(Long, Array[Float])].collect().sortBy(_._1)
      .map { case (id, e) => (id, e, ts(100 + id)) }
    val in = MemoryStream[(Long, Array[Float], Timestamp)]
    val q = in.toDF().toDF("vec_id", "embedding", "ts")
      .writeStream
      .foreachBatch(StreamingSimilarity.indexRefreshBatches(
        cents, codebook, m, dims, dir))
      .start()
    try {
      in.addData(arrivals.take(25).toSeq: _*); q.processAllAvailable()
      in.addData(arrivals.drop(25).toSeq: _*); q.processAllAvailable()
    } finally q.stop()

    def key(df: org.apache.spark.sql.DataFrame) = df
      .select($"corpus_id", $"cell", $"codes")
      .as[(Long, Long, Seq[Int])].collect().toSet
    val served = key(spark.read.parquet(dir))
    val allV = Similarity.withNorm(emb, col("vec_id"), col("embedding"))
    val rebuilt = key(packedOf(allV))
    assert(served.size == 500)
    assert(served == rebuilt,
      s"only-served=${(served -- rebuilt).take(3)} " +
        s"only-rebuilt=${(rebuilt -- served).take(3)}")

    // serving: an ADC screen from the REFRESHED index equals the batch
    // IVF-PQ candidate set over corpus ∪ arrivals (frozen model)
    val in2 = MemoryStream[(Long, Array[Float], Timestamp)]
    val probes = emb.filter($"vec_id" < 5)
      .select($"vec_id", $"embedding")
      .as[(Long, Array[Float])].collect()
      .map { case (id, e) => (id, e, ts(200 + id)) }
    val q2 = StreamingSimilarity.adcScreenFromIndex(
        in2.toDF().toDF("vec_id", "embedding", "ts"), "ts", "0 seconds",
        cents, spark.read.parquet(dir), codebook,
        nprobe, m, k, dims, Long.MaxValue)
      .writeStream.format("memory").queryName("refresh_adc_screen")
      .outputMode("append").start()
    val got = try {
      in2.addData(probes.toSeq: _*)
      q2.processAllAvailable()
      spark.table("refresh_adc_screen")
        .select($"vec_id", $"corpus_id", $"adist")
        .as[(Long, Long, Long)].collect().toSet
    } finally q2.stop()
    val expected = Similarity.ivfPqTopK(allV, cents, $"vec_id" < 5,
        nprobe, m, k, dims, topK = 1000000)
      .select($"query_id", $"neighbor_id", $"adist")
      .as[(Long, Long, Long)].collect().toSet
    assert(got.nonEmpty)
    // arrivals must actually surface as candidates — the freshness claim
    assert(got.exists(_._2 >= 450),
      "refreshed cells must serve the streamed-in vectors")
    assert(got == expected,
      s"only-stream=${(got -- expected).take(3)} " +
        s"only-batch=${(expected -- got).take(3)}")
    corpusV.unpersist(); cents.unpersist(); codebook.unpersist()
  }

  test("novelty screen flags equal the batch k-center assignment + threshold") {
    implicit val sqlCtx = spark.sqlContext
    // centers trained on a corpus with two far blobs; arrivals: one near
    // each center (redundant) and one far from both (novel)
    val base = Seq(
      (0L, Array(0.0f, 0.0f, 0.0f)),
      (1L, Array(0.01f, 0.0f, 0.0f)),
      (2L, Array(10.0f, 10.0f, 10.0f)),
      (3L, Array(10.01f, 10.0f, 10.0f)))
      .toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
    val q = Similarity.kCenterQuantized(base).cache()
    val centers = Similarity.kCenterCenters(q, 2).cache()
    centers.count()
    val arrivals2 = Seq(
      (10L, Array(0.02f, 0.01f, 0.0f), ts(10)),   // near center 0
      (11L, Array(9.99f, 10.0f, 10.02f), ts(11)), // near the far center
      (12L, Array(5.0f, 5.0f, 5.0f), ts(12)))     // equidistant: novel
    val in = MemoryStream[(Long, Array[Float], Timestamp)]
    val noveltyQ = 1000000000000L // (10^6 q-units)^2 = distance 1.0
    val out = StreamingSimilarity.noveltyScreenFromCenters(
      in.toDS().toDF("vec_id", "embedding", "ts"), "ts", "0 seconds",
      centers, noveltyQ)
    val query = out.writeStream.format("memory").queryName("novelty_rows")
      .outputMode("append").start()
    try {
      in.addData(arrivals2: _*)
      query.processAllAvailable()
      val got = spark.table("novelty_rows")
        .select($"vec_id", $"center_id", $"dist2", $"novel")
        .as[(Long, Long, Long, Boolean)].collect().toSet
      // batch twin: the same arrivals through the batch assignment
      val arrDf = arrivals2.map(a => (a._1, a._2))
        .toDF("vec_id", "embedding")
        .select($"vec_id", $"embedding".cast("array<double>").as("v"))
      val expected = Similarity.assignToCenters(
          Similarity.kCenterQuantized(arrDf), centers)
        .select($"vec_id", $"center_id", $"dist2",
          ($"dist2" > noveltyQ).as("novel"))
        .as[(Long, Long, Long, Boolean)].collect().toSet
      assert(got == expected)
      assert(got.count(_._4) == 1 && got.find(_._4).get._1 == 12L)
    } finally {
      query.stop(); q.unpersist(); centers.unpersist()
    }
  }

  test("streaming kNN classify is bit-equal to the batch knn_classify vote") {
    implicit val sqlCtx = spark.sqlContext
    val sfd = sf("sf0.001")
    val emb = graft.io.Tables.embeddings(spark, sfd)
    val labeled = Similarity.withNorm(
        emb.filter(col("vec_id") % 2 === 0), col("vec_id"), col("embedding"))
      .join(emb.select(col("vec_id"),
        col("label").cast("long").as("label")), "vec_id")
    val arrivals = emb.filter(col("vec_id") % 2 === 1)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect()
      .map { case (id, e) => (id, e, ts(100 + id)) }

    val in = MemoryStream[(Long, Array[Float], Timestamp)]
    val q = graft.streaming.ClassifyStream.classify(
        in.toDF().toDF("vec_id", "embedding", "ts"), "ts", "0 seconds",
        labeled, k = 5)
      .writeStream.format("memory").queryName("stream_knn")
      .outputMode("append").start()
    val got = try {
      in.addData(arrivals.toSeq: _*)
      q.processAllAvailable()
      spark.table("stream_knn").select($"vec_id", $"predicted")
        .as[(Long, Long)].collect().toMap
    } finally q.stop()

    val batch = graft.jobs.SimilarityJobs.knnClassify(spark, sfd)
      .select($"vec_id", $"predicted").as[(Long, Long)].collect().toMap
    assert(got == batch, "online vote must equal the batch twin exactly")
    assert(got.size == arrivals.length)
  }
}
