package graft

import java.io.ByteArrayInputStream

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.CountMinSketch

import graft.streaming.SketchStream

/** Stream/batch sketch equivalence: the sharded transformWithState CMS,
  * merged across shards, must be BIT-EQUAL to the batch
  * `count_min_sketch` aggregate over the same tokens — counter sums are
  * commutative, so arrival order and shard partitioning must not matter.
  */
class StreamingSketchSpec extends SparkSpec {
  import spark.implicits._

  private val EPS = 0.001
  private val CONF = 0.99
  private val SEED = 42
  private val SHARDS = 4

  private def latestPerShard(rows: Seq[(Int, Array[Byte])]): Seq[Array[Byte]] =
    rows.groupBy(_._1).values.map { perShard =>
      // update mode re-emits a shard's sketch every batch; totalCount grows
      // monotonically, so the max-count row IS the latest
      perShard.map(_._2).maxBy(b =>
        CountMinSketch.readFrom(new ByteArrayInputStream(b)).totalCount())
    }.toSeq

  test("sharded streaming CMS merges bit-equal to the batch sketch") {
    withRocksDb {
    val docs = graft.io.Tables.documents(spark, sf("sf0.001"))
      .select($"doc_id", $"text").as[(Long, String)].collect().toSeq
    // three shuffled micro-batches: arrival order must not matter
    val batches = scala.util.Random.shuffle(docs).grouped(
      math.max(1, docs.size / 3 + 1)).toSeq

    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val arrivals = SketchStream.tokenArrivals(
      in.toDF().toDF("doc_id", "text"), SHARDS)
    val q = SketchStream.tokenSketch(arrivals, EPS, CONF, SEED)
      .writeStream.format("memory").queryName("stream_cms")
      .outputMode("update").start()
    val shardRows = try {
      batches.foreach { b => in.addData(b: _*); q.processAllAvailable() }
      spark.table("stream_cms")
        .as[(Int, Array[Byte])].collect().toSeq
    } finally q.stop()

    val merged = SketchStream.merge(latestPerShard(shardRows)).get
    val batch = graft.io.Tables.documents(spark, sf("sf0.001"))
      .select(explode(graft.ops.TextAnalysis.tokens(lower($"text"))).as("t"))
      .agg(expr(s"count_min_sketch(t, CAST($EPS AS DOUBLE), " +
        s"CAST($CONF AS DOUBLE), $SEED)").as("cms"))
      .head().getAs[Array[Byte]]("cms")
    val mergedBytes = {
      val bos = new java.io.ByteArrayOutputStream()
      merged.writeTo(bos); bos.toByteArray
    }
    assert(java.util.Arrays.equals(mergedBytes, batch),
      "merged shard sketches != batch count_min_sketch bytes")

    // and the screen reads the same estimates the batch contract gates
    val batchCms = CountMinSketch.readFrom(new ByteArrayInputStream(batch))
    Seq("the", "data", "zzz-absent-token").foreach { t =>
      assert(SketchStream.estimate(merged, t) == batchCms.estimateCount(
        t.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    }
    }
  }

  test("shard count does not change the merged sketch") {
    withRocksDb {
    val docs = graft.io.Tables.documents(spark, sf("sf0.001"))
      .select($"doc_id", $"text").limit(50).as[(Long, String)].collect().toSeq
    val sketches = Seq(1, 3).map { shards =>
      implicit val sqlCtx = spark.sqlContext
      val in = MemoryStream[(Long, String)]
      val q = SketchStream.tokenSketch(
          SketchStream.tokenArrivals(in.toDF().toDF("doc_id", "text"), shards),
          EPS, CONF, SEED)
        .writeStream.format("memory").queryName(s"stream_cms_$shards")
        .outputMode("update").start()
      try {
        in.addData(docs: _*); q.processAllAvailable()
        val rows = spark.table(s"stream_cms_$shards")
          .as[(Int, Array[Byte])].collect().toSeq
        val bos = new java.io.ByteArrayOutputStream()
        SketchStream.merge(latestPerShard(rows)).get.writeTo(bos)
        bos.toByteArray
      } finally q.stop()
    }
    assert(java.util.Arrays.equals(sketches.head, sketches(1)))
    }
  }
}
