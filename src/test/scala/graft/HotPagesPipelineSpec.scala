package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.{LateSplit, StreamingWindows}
import graft.streaming.LateSplit.Hit

/** The reference's full HotPages wiring (`HotPages.java:64-83`): one stream
  * feeds BOTH the windowed aggregation and a late side output. Here the
  * composition is LateSplit (row-level W6 capture) → tag split → on-time
  * rows into the sliding count, late rows observable as tagged rows — the
  * end-to-end shape a migrating reference user rebuilds.
  */
class HotPagesPipelineSpec extends SparkSpec {
  import spark.implicits._

  test("split stream feeds windowed counts; late rows surface, not vanish") {
    implicit val sqlCtx = spark.sqlContext
    withRocksDb {
      val in = MemoryStream[Hit]
      // disorder 5 s, lateness 60 s — the reference's HotPages budgets
      val tagged = LateSplit.splitChained(in.toDS(),
        disorderMs = 5000, latenessMs = 60000, slackMs = 1000000).toDF()
      // K3 side-output pattern: one writer per tag
      val lateQ = tagged.filter($"tag" === "late")
        .writeStream.format("memory").queryName("hp_late")
        .outputMode("append").start()
      val counts = StreamingWindows.slidingCountChained(
        tagged.filter($"tag" === "ontime"),
        $"key", "ts", "10 minutes", "5 minutes")
      val mainQ = counts.writeStream.format("memory").queryName("hp_counts")
        .outputMode("append").start()
      try {
        in.addData(
          Hit("/home", 10000000L), Hit("/home", 10060000L),
          Hit("/cart", 10000000L))
        lateQ.processAllAvailable(); mainQ.processAllAvailable()
        // a row behind the horizon: side output, never the aggregation
        in.addData(Hit("/home", 9000000L))
        lateQ.processAllAvailable(); mainQ.processAllAvailable()
        // close all windows
        in.addData(Hit("/x", 100000000L))
        lateQ.processAllAvailable(); mainQ.processAllAvailable()

        val late = spark.table("hp_late")
          .select($"key", $"tsMs").as[(String, Long)].collect()
        assert(late.toSeq == Seq(("/home", 9000000L)))

        val counted = spark.table("hp_counts")
          .filter($"key" =!= "/x")
          .select($"key", $"cnt").as[(String, Long)].collect()
        // the late /home row must not inflate any window count: every
        // /home window holds only the 2 on-time hits (or 1 where the
        // window covers a single hit), /cart only its one
        assert(counted.nonEmpty)
        assert(counted.filter(_._1 == "/home").forall(_._2 <= 2))
        assert(counted.filter(_._1 == "/cart").forall(_._2 == 1))
      } finally { lateQ.stop(); mainQ.stop() }
    }
  }

  test("allowedLateness re-fire surfaces as a Flink retract changelog (W5+K2)") {
    // The reference keeps window state 1 extra minute and RE-EMITS an
    // updated count per late event (`HotPages.java:78`), retracting the
    // stale row in the changelog. Composition here: widened watermark
    // (disorder 5 s + lateness 60 s) accepts the late row, update mode
    // re-emits the count, and Sinks.retractBatches reconstructs the
    // (false, old) / (true, new) pairs the Flink console shows.
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Hit]
    val counts = in.toDS().toDF()
      .withColumn("ts", timestamp_millis($"tsMs"))
      .withWatermark("ts", "65 seconds") // 5 s disorder + 60 s lateness
      .groupBy(window($"ts", "10 minutes"), $"key")
      .agg(count(lit(1)).as("cnt"))
      .select($"window.start".as("ws"), $"key", $"cnt")
    val log = scala.collection.mutable.ArrayBuffer.empty[(Boolean, Long)]
    val q = counts.writeStream.outputMode("update")
      .foreachBatch(graft.io.Sinks.retractBatches(Seq("ws", "key")) {
        (add, row) =>
          if (row.getAs[String]("key") == "/home")
            log.synchronized { log += ((add, row.getAs[Long]("cnt"))) }
      }).start()
    try {
      // two on-time hits in the [600 s, 1200 s) window; watermark → 735 s
      in.addData(Hit("/home", 700000L), Hit("/home", 800000L))
      q.processAllAvailable()
      // 750 s is LATE for the reference (behind its 795 s disorder-only
      // watermark) but inside the 60 s lateness budget — it must re-fire
      // the window as retract(2) + add(3), not vanish
      in.addData(Hit("/home", 750000L))
      q.processAllAvailable()
    } finally q.stop()
    assert(log.toList == List((true, 2L), (false, 2L), (true, 3L)),
      s"late re-fire changelog diverged: $log")
  }
}
