package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import graft.jobs.HotItemsJobs
import graft.ops.{SlidingWindows, TopN}

class HotItemsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(sec: Long) = new Timestamp(sec * 1000L)

  test("sliding window assigns each event to size/slide windows") {
    // one event at t=3601s inside a 1h/5min hop → exactly 12 windows,
    // ends at 3900, 4200, ..., 7200
    val df = Seq((1L, ts(3601))).toDF("item", "ts")
    val out = SlidingWindows
      .slidingCount(df, $"item", $"ts", "1 hour", "5 minutes", "item")
      .select($"window_end").as[Long].collect().sorted
    assert(out.toSeq == (1 to 12).map(i => 3600L + i * 300L))
  }

  test("topN ranks desc by count with deterministic tie-break") {
    val counts = Seq(
      (100L, 10L, 3L), (100L, 11L, 5L), (100L, 12L, 5L), (100L, 13L, 1L),
      (200L, 10L, 2L))
      .toDF("window_end", "item", "cnt")
    val top2 = TopN.topNPer(counts, $"window_end", $"cnt", $"item", 2)
      .select($"window_end", $"item", $"rn")
      .as[(Long, Long, Long)].collect().toSet
    // ties on cnt=5 break by item asc: 11 before 12
    assert(top2 == Set((100L, 11L, 1L), (100L, 12L, 2L), (200L, 10L, 1L)))
  }

  test("flagship hot_items_topn returns rows, ≤5 per window, rn ordered") {
    val out = HotItemsJobs.hotItemsTopN(spark, sf("sf0.001")).cache()
    assert(out.count() > 0)
    val perWindow = out.groupBy($"window_end").agg(count(lit(1)).as("n"),
      max($"rn").as("maxrn"))
    assert(perWindow.filter($"n" > 5 || $"maxrn" > 5).count() == 0)
    out.unpersist()
  }

  test("DataFrame and SQL paths agree") {
    val a = HotItemsJobs.hotItemsTopN(spark, sf("sf0.001"))
    val b = HotItemsJobs.hotItemsSql(spark, sf("sf0.001"))
    assert(!spark.catalog.tableExists("graft_hot_items_sql_events"),
      "hotItemsSql left its temp view in the session")
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("hot_pages drops static-resource urls") {
    val out = HotItemsJobs.hotPagesTopN(spark, sf("sf0.001"))
    assert(out.filter($"url".rlike("\\.(css|js|png|ico)$")).count() == 0)
    assert(out.count() > 0)
  }
}
