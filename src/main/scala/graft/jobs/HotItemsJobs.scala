package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.Tables
import graft.ops.{SlidingWindows, TopN}

/** The hot-items / hot-pages job family (SURVEY.md §3.1, §3.2; reference
  * `HotItem.java`, `HotItems.scala`, `HotItemWithSql.java`, `HotPages.java`)
  * restated over the driver's `events` table per FIXTURES.md §2:
  * behavior='pv' → event_type='view'; itemId → props.k; url → derived page
  * path; userId → user_id.
  *
  * All window ends are epoch-second Longs; every computed column is aliased
  * identically in the Spark plan and the DuckDB oracle (driver hash-compares
  * by column name).
  */
object HotItemsJobs {

  /** itemId stand-in: the integer `k` of props' `{"k": n}`. */
  private def itemCol = regexp_extract(col("props"), "([0-9]+)", 1).cast("long")

  /** url stand-in for HotPages: a deterministic page path with ~20% static
    * resources so the reference's regex drop (F3) filters something real.
    */
  private def urlCol = {
    val k = itemCol
    concat(
      lit("/page/"), (k % 50).cast("string"),
      when(k % 10 === 0, ".css")
        .when(k % 10 === 1, ".png")
        .otherwise(".html"))
  }

  private def urlSql =
    """'/page/' || CAST(k % 50 AS VARCHAR) ||
      | (CASE WHEN k % 10 = 0 THEN '.css' WHEN k % 10 = 1 THEN '.png'
      |       ELSE '.html' END)""".stripMargin

  /** DuckDB has no HOP window builtin: expand each event into its size/slide
    * covering windows via generate_series, exactly Spark's epoch-aligned
    * assignment. `slideSec` seconds per slide, `n` = size/slide windows.
    */
  private def hopFrom(table: String, where: String, slideSec: Int, n: Int, extraCols: String) =
    s"""SELECT $extraCols,
       |  (epoch_ms(ts) // ${slideSec}000 - i) * $slideSec + ${slideSec * n} AS window_end
       |FROM $table CROSS JOIN generate_series(0, ${n - 1}) AS g(i)
       |WHERE $where""".stripMargin

  // ---- W1+A1+A4: per-item sliding-window view counts (ItemViewCount) ----

  def slidingWindowCounts(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.events(spark, sfDir).filter(col("event_type") === "view")
    SlidingWindows.slidingCount(e, itemCol, col("ts"), "1 hour", "5 minutes", "item")
      .select(col("item"), col("window_end"), col("cnt"))
  }

  val slidingWindowCountsSql: String =
    s"""WITH hop AS (
       |  ${hopFrom("events", "event_type = 'view'", 300, 12,
                    "CAST(regexp_extract(props, '([0-9]+)', 1) AS BIGINT) AS item")}
       |)
       |SELECT item, window_end, COUNT(*) AS cnt
       |FROM hop GROUP BY item, window_end""".stripMargin

  // ---- X1/O3 flagship: top-5 hot items per window ----

  def hotItemsTopN(spark: SparkSession, sfDir: String): DataFrame =
    TopN.topNPer(slidingWindowCounts(spark, sfDir),
        col("window_end"), col("cnt"), col("item"), 5)
      .select(col("window_end"), col("item"), col("cnt"), col("rn"))

  val hotItemsTopNSql: String =
    s"""WITH counts AS ($slidingWindowCountsSql)
       |SELECT window_end, item, cnt, rn FROM (
       |  SELECT *, ROW_NUMBER() OVER (
       |    PARTITION BY window_end ORDER BY cnt DESC, item ASC) AS rn
       |  FROM counts) ranked
       |WHERE rn <= 5""".stripMargin

  // ---- HotItemWithSql: the same flagship through the SQL surface ----

  def hotItemsSql(spark: SparkSession, sfDir: String): DataFrame = {
    // view name scoped to this query — a generic "events" view would be
    // session-global state that silently collides with any other registry
    // query (or user code) registering its own. `spark.sql` analyzes
    // eagerly, so the view is dropped as soon as it returns.
    val view = "graft_hot_items_sql_events"
    Tables.events(spark, sfDir).createOrReplaceTempView(view)
    try spark.sql(
      s"""SELECT window_end, item, cnt, rn FROM (
        |  SELECT *, ROW_NUMBER() OVER (
        |    PARTITION BY window_end ORDER BY cnt DESC, item ASC) AS rn
        |  FROM (
        |    SELECT CAST(regexp_extract(props, '([0-9]+)', 1) AS BIGINT) AS item,
        |           unix_timestamp(window.end) AS window_end,
        |           COUNT(*) AS cnt
        |    FROM $view
        |    WHERE event_type = 'view'
        |    GROUP BY item, window(ts, '1 hour', '5 minutes'))) ranked
        |WHERE rn <= 5""".stripMargin)
    finally spark.catalog.dropTempView(view)
  }

  // ---- W2/F2/F3/X2: top-3 hot pages per 10min/2min window ----

  def hotPagesTopN(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.events(spark, sfDir)
      .filter(col("event_type").isin("view", "click")) // GET-ish traffic
      .withColumn("url", urlCol)
      .filter(!col("url").rlike("\\.(css|js|png|ico)$")) // drop static assets
    val counts = SlidingWindows.slidingCount(
      e, col("url"), col("ts"), "10 minutes", "2 minutes", "url")
    TopN.topNPer(counts, col("window_end"), col("cnt"), col("url"), 3)
      .select(col("window_end"), col("url"), col("cnt"), col("rn"))
  }

  val hotPagesTopNSql: String =
    s"""WITH pages AS (
       |  SELECT *, $urlSql AS url FROM (
       |    SELECT ts, CAST(regexp_extract(props, '([0-9]+)', 1) AS BIGINT) AS k
       |    FROM events WHERE event_type IN ('view','click'))
       |), kept AS (
       |  SELECT * FROM pages WHERE NOT regexp_matches(url, '\\.(css|js|png|ico)$$')
       |), hop AS (
       |  SELECT url, (epoch_ms(ts) // 120000 - i) * 120 + 600 AS window_end
       |  FROM kept CROSS JOIN generate_series(0, 4) AS g(i)
       |), counts AS (
       |  SELECT url, window_end, COUNT(*) AS cnt FROM hop GROUP BY url, window_end
       |)
       |SELECT window_end, url, cnt, rn FROM (
       |  SELECT *, ROW_NUMBER() OVER (
       |    PARTITION BY window_end ORDER BY cnt DESC, url ASC) AS rn
       |  FROM counts) ranked
       |WHERE rn <= 3""".stripMargin

  // ---- A3: composite-accumulator average, per event_type per 1h/15min ----

  def windowedAvg(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.events(spark, sfDir)
    SlidingWindows.slidingAgg(e, col("event_type"), col("ts"),
        "1 hour", "15 minutes", "event_type",
        // +1e-9 before rounding: true averages of 2-decimal inputs land
        // exactly on .xx5 boundaries where Spark (decimal HALF_UP) and
        // DuckDB (binary) disagree; the nudge resolves both the same way.
        round(avg(col("value")) + lit(1e-9), 2).as("avg_value"),
        count(lit(1)).as("cnt"))
      .select(col("event_type"), col("window_end"), col("avg_value"), col("cnt"))
  }

  val windowedAvgSql: String =
    s"""WITH hop AS (
       |  ${hopFrom("events", "TRUE", 900, 4, "event_type, value")}
       |)
       |SELECT event_type, window_end,
       |       ROUND(AVG(value) + 1e-9, 2) AS avg_value, COUNT(*) AS cnt
       |FROM hop GROUP BY event_type, window_end""".stripMargin

  // ---- tumbling window + exact distinct (headroom: slide == size) ----

  def tumblingDistinct(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.events(spark, sfDir)
    e.groupBy(col("event_type"), window(col("ts"), "1 hour"))
      .agg(countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"))
      .select(col("event_type"),
        unix_timestamp(col("window.end")).as("window_end"),
        col("n_users"), col("n_events"))
  }

  val tumblingDistinctSql: String =
    """SELECT event_type,
      |       (epoch_ms(ts) // 3600000) * 3600 + 3600 AS window_end,
      |       COUNT(DISTINCT user_id) AS n_users,
      |       COUNT(*) AS n_events
      |FROM events GROUP BY 1, 2""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sliding_window_counts" -> slidingWindowCounts,
    "hot_items_topn" -> hotItemsTopN,
    "hot_items_sql" -> hotItemsSql,
    "hot_pages_topn" -> hotPagesTopN,
    "windowed_avg" -> windowedAvg,
    "tumbling_distinct" -> tumblingDistinct)

  val oracles: Map[String, String] = Map(
    "sliding_window_counts" -> slidingWindowCountsSql,
    "hot_items_topn" -> hotItemsTopNSql,
    "hot_items_sql" -> hotItemsTopNSql,
    "hot_pages_topn" -> hotPagesTopNSql,
    "windowed_avg" -> windowedAvgSql,
    "tumbling_distinct" -> tumblingDistinctSql)
}
