package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.Prefix

/** The distributed prefix scan against its single-partition definition:
  * `rank` is `row_number()` and `runningSum` is `sum(w)` over the same
  * (group, order) window, on frames whose groups start, span and end
  * anywhere across the range partitions — with AQE on (the session
  * default), so partitions may also coalesce.
  */
class PrefixSpec extends SparkSpec {
  import spark.implicits._

  /** (g, o, w) rows: `nGroups` groups, unique order keys, weights that
    * include zeros and nulls.
    */
  private def frame(seed: Long, n: Int, nGroups: Int): DataFrame = {
    val r = new scala.util.Random(seed)
    val orders = r.shuffle((0 until n).map(_.toLong * 3 - n)).toSeq
    orders.map { o =>
      val w = r.nextInt(6) match {
        case 0 => None
        case k => Some((k - 2).toLong)
      }
      (s"g${r.nextInt(nGroups)}", o, w)
    }.toDF("g", "o", "w")
  }

  private def rows(df: DataFrame): Seq[(String, Long, Long)] =
    df.select($"g", $"o", $"out").as[(String, Long, Long)].collect()
      .toSeq.sortBy(t => (t._1, t._2))

  private def check(df: DataFrame, grouped: Boolean): Unit = {
    val group = if (grouped) Seq("g") else Nil
    val win = Window.partitionBy(group.map(col): _*).orderBy($"o")
    assert(rows(Prefix.rank(df, group, Seq("o"), "out")) ==
      rows(df.withColumn("out", row_number().over(win).cast("long"))))
    assert(rows(Prefix.runningSum(df, group, Seq("o"), "w", "out")) ==
      rows(df.withColumn("out", coalesce(sum($"w").over(
        win.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
        lit(0L)))))
  }

  test("groups spanning partition boundaries, seeded frames") {
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    for (seed <- 1L to 4L) check(frame(seed, 600, 5), grouped = true)
  }

  test("one group across every partition, and no group at all") {
    val df = frame(7L, 500, 1)
    check(df, grouped = true)
    check(df, grouped = false)
  }

  test("many groups inside one partition") {
    check(frame(11L, 300, 120), grouped = true)
  }

  test("empty partitions and empty input") {
    // more shuffle partitions than rows: most range partitions are empty
    val confs = Seq("spark.sql.shuffle.partitions" -> "32",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      check(frame(21L, 9, 3), grouped = true)
      check(frame(22L, 9, 3), grouped = false)
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    val empty = frame(1L, 10, 2).filter($"o" > 1000000L)
    assert(Prefix.rank(empty, Seq("g"), Seq("o"), "out").count() == 0)
    assert(Prefix.runningSum(empty, Nil, Seq("o"), "w", "out").count() == 0)
  }

  test("a self-joined scan resolves and plans one range exchange per side") {
    val ranked = Prefix.rank(frame(31L, 200, 3), Seq("g"), Seq("o"), "r")
      .select($"g", $"o", $"r")
    val pairs = ranked.alias("a").join(ranked.alias("b"),
      $"a.g" === $"b.g" && $"b.r" === $"a.r" + 1)
    assert(pairs.count() == 200 - 3)
    val p = pairs.queryExecution.executedPlan.toString
    assert(p.contains("PrefixScan") && p.contains("rangepartitioning"), p)
    assert(!p.contains("Window") && !p.contains("SinglePartition"), p)
  }
}
