package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.DriftStream
import graft.streaming.DriftStream.DriftRow

/** Chained streaming drift monitor ≡ batch `event_drift` on the same
  * fixture — including type churn (a type that first appears mid-stream
  * and one that vanishes) and cross-batch disorder inside the watermark.
  */
class DriftStreamSpec extends SparkSpec {
  import spark.implicits._

  // (tsMs, event_type) — day d, offset seconds s
  private def ev(d: Int, s: Int, t: String): (Long, String) =
    (d * 86400000L + s * 1000L, t)

  private val fixture: Seq[Seq[(Long, String)]] = Seq(
    // day 0 (baseline) + early day 1
    Seq(ev(0, 10, "click"), ev(0, 20, "click"), ev(0, 30, "view"),
      ev(0, 40, "error"), ev(1, 10, "click")),
    // rest of day 1 — "error" vanishes, volumes shift
    Seq(ev(1, 50, "click"), ev(1, 60, "click"), ev(1, 70, "view"),
      ev(1, 80, "view"), ev(1, 90, "view")),
    // day 2 — new type "signup" appears, plus day-3 spillover
    Seq(ev(2, 10, "signup"), ev(2, 20, "signup"), ev(2, 30, "click"),
      ev(3, 10, "view")),
    // day 3 tail
    Seq(ev(3, 20, "view"), ev(3, 30, "view"), ev(3, 40, "click")))

  private def runStream(): Seq[DriftRow] = withRocksDb {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val df = in.toDS().toDF("tsMs", "event_type")
      .withColumn("ts", timestamp_millis(col("tsMs")))
    val q = DriftStream.drift(df, "ts", "0 seconds").toDF()
      .writeStream.format("memory").queryName("drift_rows")
      .outputMode("append").start()
    try {
      fixture.foreach { b => in.addData(b: _*); q.processAllAvailable() }
      // chained stateful: closing takes two successive watermark jumps
      in.addData(ev(400, 0, "flush")); q.processAllAvailable()
      in.addData(ev(400, 10, "flush")); q.processAllAvailable()
      in.addData(ev(400, 20, "flush")); q.processAllAvailable()
      spark.table("drift_rows").as[DriftRow].collect().toSeq
        .filter(_.day < 100)
    } finally q.stop()
  }

  test("chained drift stream equals the batch event_drift on the same fixture") {
    val dir = java.nio.file.Files.createTempDirectory("drift_fixture").toString
    fixture.flatten.toDF("tsMs", "event_type")
      .select(timestamp_millis(col("tsMs")).as("ts"), col("event_type"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val batch = graft.jobs.AnalyticsJobs.eventDrift(spark, dir)
      .select(col("day").cast("long"), col("n_events"), col("drift_q"),
        col("top_type"))
      .as[(Long, Long, Long, String)].collect().toSeq.sortBy(_._1)
    val stream = runStream().sortBy(_.day)
      .map(r => (r.day, r.n_events, r.drift_q, r.top_type))
    assert(batch.nonEmpty && batch.map(_._1) == Seq(1L, 2L, 3L))
    assert(stream == batch)
  }
}
