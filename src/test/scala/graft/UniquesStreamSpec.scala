package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.streaming.UniquesStream

/** Streaming rolling-uniques twin ([[UniquesStream]]): shuffled
  * multi-batch arrivals must land every observed day's 7-day unique
  * estimate inside the SAME ±5% gate the batch `rolling_uniques_approx`
  * checks against exact counts — and only observed days may emit (the
  * batch query's join against the days frame, restated as the own-day
  * bit).
  */
class UniquesStreamSpec extends SparkSpec {
  import spark.implicits._

  test("streamed 7-day HLL uniques land within the batch ±5% gate") {
    withRocksDb {
    val dir = sf("sf0.001")
    val rows = graft.io.Tables.events(spark, dir)
      .select($"ts", $"user_id").as[(java.sql.Timestamp, Long)]
      .collect().toSeq
    // shuffled multi-batch arrival order: HLL updates commute, merge
    // order must not move the estimate
    val shuffled = new scala.util.Random(7).shuffle(rows)
    val batches = shuffled.grouped(math.max(1, shuffled.size / 3 + 1)).toSeq

    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(java.sql.Timestamp, Long)]
    // the fixture spans ~30 days and the batches are fully shuffled, so
    // the lateness budget must cover the whole span or the watermark
    // filter (correctly) drops later batches' older rows as late
    val arrivals = UniquesStream.windowArrivals(
      in.toDF().toDF("ts", "user_id"), "35 days")
    val q = UniquesStream.rollingUniques(arrivals)
      .writeStream.format("memory").queryName("stream_uniques")
      .outputMode("append").start()
    val got = try {
      batches.foreach { b => in.addData(b: _*); q.processAllAvailable() }
      // watermark jump past every fixture day end, then one more batch so
      // the armed timers (which fire on the NEXT evaluation after the
      // watermark advances) all resolve; the sentinel's own windows never
      // close, so it cannot emit
      // both sentinels land at the START of one far-future day (clear of
      // the 35-day lateness budget: wm = sentinel - 35d still passes every
      // fixture day end), so the advancing watermark never crosses the
      // sentinel's own day end
      val maxTs = rows.map(_._1.getTime).max
      val sentinelTs = (maxTs / 86400000L + 40L) * 86400000L
      in.addData((new java.sql.Timestamp(sentinelTs), 999999L))
      q.processAllAvailable()
      in.addData((new java.sql.Timestamp(sentinelTs + 1000L), 999999L))
      q.processAllAvailable()
      spark.table("stream_uniques").as[(Int, Long, Long, Long)]
        .collect().map(r => r._1 -> (r._2, r._3, r._4)).toMap
    } finally q.stop()

    val exact = graft.jobs.AnalyticsJobs.rollingUniques(spark, dir)
      .select($"day", $"dau", $"wau7", $"stickiness_ppm").collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(got.keySet == exact.keySet,
      s"emitted days ${got.keySet} != observed days ${exact.keySet}")
    exact.foreach { case (day, (dau, wau7, stick)) =>
      val (dauEst, wauEst, stickEst) = got(day)
      assert(math.abs(wauEst - wau7).toDouble / wau7 <= 0.05,
        s"day $day: wau estimate $wauEst vs exact $wau7 breaches the 5% gate")
      assert(math.abs(dauEst - dau).toDouble / dau <= 0.05,
        s"day $day: dau estimate $dauEst vs exact $dau breaches the 5% gate")
      // the ratio of two ±5% estimates: gate at the propagated ~10.5%
      assert(math.abs(stickEst - stick).toDouble / math.max(stick, 1L) <= 0.105,
        s"day $day: stickiness $stickEst vs exact $stick breaches the gate")
    }
    }
  }
}
