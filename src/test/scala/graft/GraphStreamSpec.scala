package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.GraphStream

/** The streaming edge feed must emit exactly the batch distinct edge set
  * — once per edge — including re-arrivals of known edges and disorder
  * inside the watermark.
  */
class GraphStreamSpec extends SparkSpec {
  import spark.implicits._

  test("first-seen edge stream equals the batch distinct edge set") {
    withRocksDb {
      implicit val sqlCtx = spark.sqlContext
      // (tsSec, user, item) with heavy repeats across batches
      val batches = Seq(
        Seq((10L, 1L, 5L), (11L, 1L, 5L), (12L, 2L, 5L)),
        Seq((20L, 1L, 5L), (21L, 1L, 7L), (22L, 2L, 5L), (23L, 3L, 9L)),
        Seq((30L, 1L, 7L), (31L, 4L, 5L)))
      val in = MemoryStream[(Long, Long, String)]
      val df = in.toDS().toDF("sec", "user_id", "props")
        .withColumn("ts", timestamp_seconds(col("sec")))
      val q = GraphStream.firstSeenEdges(df, "ts", "5 seconds")
        .writeStream.format("memory").queryName("edge_feed")
        .outputMode("append").start()
      try {
        batches.foreach { b =>
          in.addData(b.map(e => (e._1, e._2, s"""{"k": ${e._3}}""")): _*)
          q.processAllAvailable()
        }
        in.addData((100000L, -1L, """{"k": -1}""")); q.processAllAvailable()
        val got = spark.table("edge_feed").as[(Long, Long)].collect().toSeq
          .filter(_._1 >= 0)
        val expected = batches.flatten.map(e => (e._2 * 2, e._3 * 2 + 1))
          .distinct
        // exactly once per distinct edge
        assert(got.sorted == expected.sorted)
      } finally q.stop()
    }
  }
}
