package graft.jobs

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.Tables
import graft.ops.{CacheScope, Dedup, Handoff, Prefix}

/** Analytics headroom beyond the reference's own surface (SURVEY.md §2.6 /
  * §2.7 notes): session windows, grouping sets, pivot, set operations.
  * All exact and DuckDB-oracle-checked; the oracle restates session windows
  * as gaps-and-islands SQL since DuckDB has no session_window builtin.
  */
object AnalyticsJobs {

  private val GAP = "30 minutes"
  private val GAP_SEC = 1800L

  /** Sessionization: per-user session windows with a 30-min inactivity gap
    * (`session_window` — the north-star "Structured Streaming +
    * sessionization" shape; works identically on streams).
    */
  def sessionAgg(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(col("user_id"), session_window(col("ts"), GAP))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")) + lit(1e-9), 2).as("sum_value"))
      .select(col("user_id"),
        unix_timestamp(col("session_window.start")).as("session_start"),
        unix_timestamp(col("session_window.end")).as("session_end"),
        col("n_events"), col("sum_value"))

  /** Gaps-and-islands restatement: a session breaks when the gap from the
    * previous event exceeds 30 min; session end = last event + gap (Spark's
    * session_window end semantics). Timestamps compared at microsecond
    * precision via epoch_us to match Spark's TimestampType exactly.
    */
  val sessionAggSql: String =
    s"""WITH marked AS (
       |  SELECT user_id, ts, value,
       |    CASE WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER w) > ${GAP_SEC}000000
       |         OR LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
       |), numbered AS (
       |  SELECT *, SUM(new_session) OVER (
       |    PARTITION BY user_id ORDER BY ts
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
       |  FROM marked
       |)
       |SELECT user_id,
       |       epoch_ms(MIN(ts)) // 1000 AS session_start,
       |       (epoch_ms(MAX(ts)) + ${GAP_SEC}000) // 1000 AS session_end,
       |       COUNT(*) AS n_events,
       |       ROUND(SUM(value) + 1e-9, 2) AS sum_value
       |FROM numbered GROUP BY user_id, session_id""".stripMargin

  private val BASKET_CAP = 50    // same power-user rationale as SIM_USER_CAP
  private val BASKET_MIN_SUPPORT = 2L

  /** Market-basket association rules over PURCHASES only — the directed
    * "customers who bought A also bought B" read (vs [[itemSimilarity]]'s
    * symmetric all-event Jaccard): per ordered item pair, support (users
    * buying both), confidence_ppm = support·10⁶ div n_ante, and
    * lift_ppm = (confidence_ppm · n_users) div n_cons — the declared
    * two-step floor contract keeps every product ≤ 10⁶·|users|, far from
    * BIGINT range at any scale (the single-expression
    * support·users·10⁶ div (na·nc) form would overflow at 10⁹ users).
    * Pairs below [[BASKET_MIN_SUPPORT]] are noise and dropped. Scale
    * shape: the pair join runs per-user under [[BASKET_CAP]] (the
    * quadratic fence), support sums are map-side combinable, and the
    * user total rides as a 1-row broadcast.
    */
  def basketPairs(spark: SparkSession, sfDir: String): DataFrame = {
    val up = Tables.events(spark, sfDir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("u"),
        (regexp_extract(col("props"), "\"k\"\\s*:\\s*(-?\\d+)", 1)
          .cast("long")).as("i"))
      .filter(col("i").isNotNull)
      .distinct()
    val kept = up.join(
      up.groupBy(col("u")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") <= BASKET_CAP).select(col("u")), "u")
      .cache()
    val nUsers = kept.select(col("u")).distinct()
      .agg(count(lit(1)).as("n_users"))
    val sizes = kept.groupBy(col("i")).agg(count(lit(1)).as("n"))
    kept.alias("a").join(kept.alias("b"),
        col("a.u") === col("b.u") && col("a.i") =!= col("b.i"))
      .groupBy(col("a.i").as("ante"), col("b.i").as("cons"))
      .agg(count(lit(1)).as("support"))
      .filter(col("support") >= BASKET_MIN_SUPPORT)
      .join(sizes.select(col("i").as("ante"), col("n").as("n_ante")), "ante")
      .join(sizes.select(col("i").as("cons"), col("n").as("n_cons")), "cons")
      .crossJoin(broadcast(nUsers))
      .select(col("ante"), col("cons"), col("support"), col("n_ante"),
        col("n_cons"),
        expr("(support * 1000000) div n_ante").as("confidence_ppm"),
        expr("(((support * 1000000) div n_ante) * n_users) div n_cons")
          .as("lift_ppm"))
  }

  val basketPairsSql: String =
    s"""WITH up AS (
       |  SELECT DISTINCT user_id AS u,
       |         CAST(json_extract_string(props, '$$.k') AS BIGINT) AS i
       |  FROM events
       |  WHERE event_type = 'purchase'
       |    AND json_extract_string(props, '$$.k') IS NOT NULL
       |), kept AS (
       |  SELECT up.u, up.i FROM up JOIN (
       |    SELECT u FROM up GROUP BY u HAVING COUNT(*) <= $BASKET_CAP) d
       |  ON d.u = up.u
       |), nu AS (SELECT COUNT(DISTINCT u) AS n_users FROM kept),
       |sizes AS (SELECT i, COUNT(*) AS n FROM kept GROUP BY i),
       |co AS (
       |  SELECT a.i AS ante, b.i AS cons, COUNT(*) AS support
       |  FROM kept a JOIN kept b ON a.u = b.u AND a.i <> b.i
       |  GROUP BY 1, 2
       |  HAVING COUNT(*) >= $BASKET_MIN_SUPPORT
       |)
       |SELECT co.ante, co.cons, co.support, sa.n AS n_ante, sc.n AS n_cons,
       |       CAST((co.support * 1000000) // sa.n AS BIGINT)
       |         AS confidence_ppm,
       |       CAST((((co.support * 1000000) // sa.n) * nu.n_users) // sc.n
       |            AS BIGINT) AS lift_ppm
       |FROM co JOIN sizes sa ON sa.i = co.ante
       |        JOIN sizes sc ON sc.i = co.cons
       |        CROSS JOIN nu""".stripMargin

  /** Per-item view→purchase funnel — the merchandising read of the event
    * log: per item, view count, purchase count, integer-cents revenue and
    * the view-to-buy conversion ppm (floor division, greatest(views, 1)
    * guards purchase-without-view items). One conditional aggregation
    * over the item key — map-side combinable, catalog-sized output.
    */
  def itemConversion(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .select((regexp_extract(col("props"), "\"k\"\\s*:\\s*(-?\\d+)", 1)
          .cast("long")).as("item_id"),
        col("event_type"),
        expr("cast(round(value * 100 + 1e-9) as bigint)").as("cents"))
      .filter(col("item_id").isNotNull)
      .groupBy(col("item_id"))
      .agg(sum(when(col("event_type") === "view", 1L).otherwise(0L))
          .as("views"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("purchases"),
        sum(when(col("event_type") === "purchase", col("cents"))
          .otherwise(0L)).as("revenue_cents"))
      .select(col("item_id"), col("views"), col("purchases"),
        col("revenue_cents"),
        expr("(purchases * 1000000) div greatest(views, 1)")
          .as("view_to_buy_ppm"))

  val itemConversionSql: String =
    s"""SELECT CAST(json_extract_string(props, '$$.k') AS BIGINT) AS item_id,
       |       CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
       |            AS BIGINT) AS views,
       |       CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
       |            AS BIGINT) AS purchases,
       |       CAST(SUM(CASE WHEN event_type = 'purchase'
       |            THEN CAST(round(value * 100 + 1e-9) AS BIGINT)
       |            ELSE 0 END) AS BIGINT) AS revenue_cents,
       |       CAST((SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
       |             * 1000000)
       |            // greatest(SUM(CASE WHEN event_type = 'view'
       |                       THEN 1 ELSE 0 END), 1) AS BIGINT)
       |         AS view_to_buy_ppm
       |FROM events
       |WHERE json_extract_string(props, '$$.k') IS NOT NULL
       |GROUP BY 1""".stripMargin

  /** Deterministic A/B experiment readout — assignment plus the per-arm
    * scorecard in one pass: arm = md5(user_id) mod 2 (the [[DedupJobs]]
    * trainSplit hash discipline — content-independent and
    * engine-reproducible, so any engine, any run, any partitioning lands
    * the identical assignment; swapping in a salted experiment key is a
    * one-literal change), then per arm the exact user/event/purchaser/
    * purchase counts, integer-cents revenue, and floor-division
    * conversion + revenue-per-user rates. Intentionally NO z-score/
    * p-value column: sqrt is the libm drift zone, and the exact counts
    * emitted here are sufficient statistics for any driver-side test.
    * Scale shape: one conditional aggregation; the distinct counts
    * first aggregate the (arm, user) pairs — high-cardinality partial
    * aggs, map-side combinable — before the 2-row arm rollup.
    */
  def abMetrics(spark: SparkSession, sfDir: String): DataFrame = {
    val arm = when(
      Dedup.md5Long(col("user_id").cast("string")) % 2 === 0, "A").otherwise("B")
    Tables.events(spark, sfDir)
      .select(arm.as("arm"), col("user_id"), col("event_type"),
        expr("cast(round(value * 100 + 1e-9) as bigint)").as("cents"))
      .groupBy(col("arm"))
      .agg(countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"),
        countDistinct(when(col("event_type") === "purchase", col("user_id")))
          .as("n_purchasers"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("n_purchases"),
        sum(when(col("event_type") === "purchase", col("cents"))
          .otherwise(0L)).as("revenue_cents"))
      .select(col("arm"), col("n_users"), col("n_events"),
        col("n_purchasers"), col("n_purchases"), col("revenue_cents"),
        expr("(n_purchasers * 1000000) div n_users").as("conversion_ppm"),
        expr("revenue_cents div n_users").as("rev_per_user_cents"))
  }

  val abMetricsSql: String =
    s"""WITH e AS (
       |  SELECT CASE WHEN ${OracleSql.hexIntSql("user_id::VARCHAR")} % 2 = 0
       |              THEN 'A' ELSE 'B' END AS arm,
       |         user_id, event_type,
       |         CAST(round(value * 100 + 1e-9) AS BIGINT) AS cents
       |  FROM events
       |)
       |SELECT arm, COUNT(DISTINCT user_id) AS n_users, COUNT(*) AS n_events,
       |       COUNT(DISTINCT CASE WHEN event_type = 'purchase'
       |                      THEN user_id END) AS n_purchasers,
       |       CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
       |            AS BIGINT) AS n_purchases,
       |       CAST(SUM(CASE WHEN event_type = 'purchase' THEN cents
       |                ELSE 0 END) AS BIGINT) AS revenue_cents,
       |       CAST((COUNT(DISTINCT CASE WHEN event_type = 'purchase'
       |                             THEN user_id END) * 1000000)
       |            // COUNT(DISTINCT user_id) AS BIGINT) AS conversion_ppm,
       |       CAST(CAST(SUM(CASE WHEN event_type = 'purchase' THEN cents
       |                     ELSE 0 END) AS BIGINT)
       |            // COUNT(DISTINCT user_id) AS BIGINT)
       |         AS rev_per_user_cents
       |FROM e GROUP BY arm""".stripMargin

  /** Entry/exit session analysis — the landing/bounce read on top of the
    * [[sessionAgg]] gaps-and-islands sessionization: per (entry event
    * type, exit event type) the session count, bounce count (single-event
    * sessions), bounce ppm and average duration in whole seconds — all
    * exact counts and floor divisions over the (ts, event_id)-ordered
    * deterministic session walk (the markov_transitions order contract).
    * Scale shape: user-keyed windows (high-cardinality partitions), one
    * session-keyed aggregate, then a |types|²-bounded final aggregate.
    */
  def sessionEntries(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("tsu"), col("event_id"))
    val marked = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("unix_micros(ts)").as("tsu"))
      .withColumn("new_session",
        when(lag(col("tsu"), 1).over(w).isNull ||
          col("tsu") - lag(col("tsu"), 1).over(w) > GAP_SEC * 1000000L, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum(col("new_session"))
        .over(w.rowsBetween(Window.unboundedPreceding, 0)))
    val ws = Window.partitionBy(col("user_id"), col("session_id"))
    val sessions = marked
      .withColumn("rn_a", row_number().over(
        ws.orderBy(col("tsu").asc, col("event_id").asc)))
      .withColumn("rn_d", row_number().over(
        ws.orderBy(col("tsu").desc, col("event_id").desc)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(max(when(col("rn_a") === 1, col("event_type"))).as("entry"),
        max(when(col("rn_d") === 1, col("event_type"))).as("exit"),
        count(lit(1)).as("n_events"),
        ((max(col("tsu")) - min(col("tsu"))) / lit(1000000L))
          .cast("long").as("duration_s"))
    sessions.groupBy(col("entry"), col("exit"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(when(col("n_events") === 1, 1L).otherwise(0L)).as("n_bounces"),
        sum(col("duration_s")).as("sum_duration_s"))
      .select(col("entry"), col("exit"), col("n_sessions"), col("n_bounces"),
        expr("(n_bounces * 1000000) div n_sessions").as("bounce_ppm"),
        expr("sum_duration_s div n_sessions").as("avg_duration_s"))
  }

  /** Oracle: the sessionAggSql gaps-and-islands chain + ROW_NUMBER
    * first/last picks. Integer duration: µs difference // 10⁶ (both
    * engines floor a nonneg integer division).
    */
  val sessionEntriesSql: String =
    s"""WITH marked AS (
       |  SELECT user_id, event_id, event_type, epoch_us(ts) AS tsu,
       |    CASE WHEN LAG(epoch_us(ts)) OVER w IS NULL
       |         OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w > ${GAP_SEC}000000
       |         THEN 1 ELSE 0 END AS new_session
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
       |), numbered AS (
       |  SELECT *, SUM(new_session) OVER (
       |    PARTITION BY user_id ORDER BY tsu, event_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
       |  FROM marked
       |), ranked AS (
       |  SELECT *, ROW_NUMBER() OVER (
       |      PARTITION BY user_id, session_id ORDER BY tsu ASC, event_id ASC
       |    ) AS rn_a,
       |    ROW_NUMBER() OVER (
       |      PARTITION BY user_id, session_id ORDER BY tsu DESC, event_id DESC
       |    ) AS rn_d
       |  FROM numbered
       |), sessions AS (
       |  SELECT user_id, session_id,
       |         MAX(CASE WHEN rn_a = 1 THEN event_type END) AS entry,
       |         MAX(CASE WHEN rn_d = 1 THEN event_type END) AS exit,
       |         COUNT(*) AS n_events,
       |         (MAX(tsu) - MIN(tsu)) // 1000000 AS duration_s
       |  FROM ranked GROUP BY 1, 2
       |)
       |SELECT entry, exit, COUNT(*) AS n_sessions,
       |       CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_bounces,
       |       CAST((SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) * 1000000)
       |            // COUNT(*) AS BIGINT) AS bounce_ppm,
       |       CAST(CAST(SUM(duration_s) AS BIGINT) // COUNT(*) AS BIGINT)
       |         AS avg_duration_s
       |FROM sessions GROUP BY 1, 2""".stripMargin

  /** Grouping sets: CUBE over (returnflag, linestatus) with exact sums. */
  def cubeAgg(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("l_quantity")), 0).cast("long").as("sum_qty"))

  val cubeAggSql: String =
    """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
      |       CAST(ROUND(SUM(l_quantity), 0) AS BIGINT) AS sum_qty
      |FROM lineitem
      |GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin

  /** Pivot: per-user event-type count matrix (Spark `.pivot()` API;
    * the oracle states the equivalent conditional aggregation).
    */
  val pivotTypes = Seq("click", "view", "purchase", "signup", "error")

  def pivotAgg(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(col("user_id"))
      .pivot("event_type", pivotTypes)
      .agg(count(lit(1)))
      .na.fill(0, pivotTypes)
      .select(col("user_id") +: pivotTypes.map(t => col(t).as(s"n_$t")): _*)

  val pivotAggSql: String = {
    val conds = pivotTypes.map(t =>
      s"COUNT(CASE WHEN event_type = '$t' THEN 1 END) AS n_$t").mkString(",\n  ")
    s"""SELECT user_id,
       |  $conds
       |FROM events GROUP BY user_id""".stripMargin
  }

  /** Set operations: INTERSECT and EXCEPT over per-type user sets. */
  def setOps(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.events(spark, sfDir)
    def users(t: String) = e.filter(col("event_type") === t)
      .select(col("user_id")).distinct()
    val buyersAlsoViewing = users("purchase").intersect(users("view"))
      .withColumn("tag", lit("buy_and_view"))
    val buyersNoErrors = users("purchase").except(users("error"))
      .withColumn("tag", lit("buy_no_error"))
    buyersAlsoViewing.unionByName(buyersNoErrors)
      .select(col("tag"), col("user_id"))
  }

  val setOpsSql: String =
    """SELECT 'buy_and_view' AS tag, user_id FROM (
      |  SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
      |  INTERSECT
      |  SELECT DISTINCT user_id FROM events WHERE event_type = 'view')
      |UNION ALL
      |SELECT 'buy_no_error' AS tag, user_id FROM (
      |  SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
      |  EXCEPT
      |  SELECT DISTINCT user_id FROM events WHERE event_type = 'error')""".stripMargin

  /** Analytic window functions beyond ranking: running totals, lag/lead
    * deltas, dense_rank — per-customer order history analytics.
    */
  def windowAnalytics(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // order_ts preserves o_orderdate's ordering (monotone), so the window
    // sort matches the oracle's ORDER BY o_orderdate, o_orderkey exactly
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("order_ts"), col("o_orderkey"))
    val cents = round(col("o_totalprice") * 100, 0).cast("long")
    Tables.orders(spark, sfDir)
      .select(col("o_custkey"), col("o_orderkey"),
        unix_timestamp(col("o_orderdate")).as("order_ts"), cents.as("price_c"))
      .withColumn("running_spend",
        sum(col("price_c")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("prev_order_ts", lag(col("order_ts"), 1).over(w))
      .withColumn("gap_sec", col("order_ts") - col("prev_order_ts"))
      .withColumn("order_no", row_number().over(w).cast("long"))
      .select(col("o_custkey"), col("o_orderkey"), col("order_ts"),
        col("price_c"), col("running_spend"), col("gap_sec"), col("order_no"))
  }

  val windowAnalyticsSql: String =
    """SELECT o_custkey, o_orderkey,
      |  epoch_ms(o_orderdate) // 1000 AS order_ts,
      |  CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS price_c,
      |  CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) OVER (
      |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running_spend,
      |  epoch_ms(o_orderdate) // 1000
      |    - LAG(epoch_ms(o_orderdate) // 1000, 1) OVER (
      |        PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS gap_sec,
      |  ROW_NUMBER() OVER (
      |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS order_no
      |FROM orders""".stripMargin

  /** Exact interpolated percentiles (Spark `percentile` ≡ DuckDB
    * `quantile_cont`: both sort and linearly interpolate at p·(n−1)).
    * Exact-sort percentiles shuffle each group's values; at 100 TB swap in
    * `approx_percentile` (t-digest, mergeable partials) — same query shape,
    * bounded error instead of a sort.
    */
  def percentileStats(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .groupBy(col("l_returnflag"))
      .agg(
        round(expr("percentile(l_quantity, 0.5)") + lit(1e-9), 4).as("p50_qty"),
        round(expr("percentile(l_quantity, 0.95)") + lit(1e-9), 4).as("p95_qty"),
        // money: interpolate over exact integer cents, divide once at the
        // end (the repo-wide integer-cents discipline)
        round(expr(
          "percentile(CAST(ROUND(l_extendedprice * 100) AS BIGINT), 0.5)") / 100.0
          + lit(1e-9), 2).as("p50_price"),
        round(expr(
          "percentile(CAST(ROUND(l_extendedprice * 100) AS BIGINT), 0.99)") / 100.0
          + lit(1e-9), 2).as("p99_price"),
        count(lit(1)).as("n"))

  val percentileStatsSql: String =
    """SELECT l_returnflag,
      |  ROUND(quantile_cont(l_quantity, 0.5) + 1e-9, 4) AS p50_qty,
      |  ROUND(quantile_cont(l_quantity, 0.95) + 1e-9, 4) AS p95_qty,
      |  ROUND(quantile_cont(CAST(ROUND(l_extendedprice * 100) AS BIGINT), 0.5)
      |        / 100.0 + 1e-9, 2) AS p50_price,
      |  ROUND(quantile_cont(CAST(ROUND(l_extendedprice * 100) AS BIGINT), 0.99)
      |        / 100.0 + 1e-9, 2) AS p99_price,
      |  COUNT(*) AS n
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  /** JSON payload extraction — the event-properties parse every UBA
    * pipeline runs before anything else (the reference's typed-POJO CSV
    * parse, generalized to the semi-structured case). `from_json` with an
    * explicit schema: malformed/missing keys become NULL (never an
    * error), the parse happens once per row in the scan projection, and
    * column pruning still reaches parquet (only event_type + props read).
    */
  def eventProps(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .select(col("event_type"),
        from_json(col("props"), lit("k LONG")).getField("k").as("k"))
      .groupBy(col("event_type"))
      .agg(count(col("k")).as("n_with_k"),
        sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"))

  private val HIST_BIN = 25.0

  /** Value-distribution histogram: fixed-width bins (25.0) of `value` per
    * event type — the profiling query behind outlier fences and bin-packed
    * sampling plans. One two-phase hash aggregate over (type, bin) int
    * keys; floor(x/width) is IEEE-identical in both engines, and the bin
    * sums use the session_agg 2-decimal nudged-rounding contract.
    */
  def valueHistogram(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(col("event_type"),
        floor(col("value") / lit(HIST_BIN)).cast("long").as("bin"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("value")) + lit(1e-9), 2).as("sum_value"))

  val valueHistogramSql: String =
    s"""SELECT event_type,
       |       CAST(FLOOR(value / $HIST_BIN) AS BIGINT) AS bin,
       |       COUNT(*) AS n,
       |       ROUND(SUM(value) + 1e-9, 2) AS sum_value
       |FROM events GROUP BY 1, 2""".stripMargin

  private val JOURNEY_STEPS = 8
  private val JOURNEY_TOP = 20

  /** Journey analysis — the session-level sibling of [[eventPaths]]: per
    * (user, 30-min session window), the ordered event-type sequence
    * truncated to the first 8 steps, then the top 20 most frequent
    * journeys with session and user support. Sessionization shares
    * [[sessionAgg]]'s gap contract.
    *
    * 100 TB shape: sessions build in one user-keyed exchange (the
    * session_window agg); the journey string is a bounded per-session
    * rollup (≤ 8 steps, collect_list bounded by session length); the
    * journey count is a two-phase agg over journey-string keys and the
    * global top-20 is orderBy+limit — TakeOrderedAndProject, never a
    * single-partition window.
    */
  def sessionPaths(spark: SparkSession, sfDir: String): DataFrame = {
    val journeys = Tables.events(spark, sfDir)
      .groupBy(col("user_id"), session_window(col("ts"), GAP))
      .agg(sort_array(collect_list(
        struct(col("ts"), col("event_id"), col("event_type")))).as("evs"))
      .select(col("user_id"),
        concat_ws(">", transform(slice(col("evs"), 1, JOURNEY_STEPS),
          x => x.getField("event_type"))).as("journey"))
    journeys.groupBy(col("journey"))
      .agg(count(lit(1)).as("n_sessions"),
        count_distinct(col("user_id")).as("n_users"))
      .orderBy(col("n_sessions").desc, col("journey").asc)
      .limit(JOURNEY_TOP)
  }

  /** Oracle: the sessionAgg gaps-and-islands restatement, journeys via
    * ordered list() truncated to 8, counts, and the same
    * deterministically tie-broken top-20.
    */
  val sessionPathsSql: String =
    s"""WITH marked AS (
       |  SELECT user_id, ts, event_id, event_type,
       |    CASE WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER w) > ${GAP_SEC}000000
       |         OR LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
       |), numbered AS (
       |  SELECT *, SUM(new_session) OVER (
       |    PARTITION BY user_id ORDER BY ts
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
       |  FROM marked
       |), journeys AS (
       |  SELECT user_id,
       |         array_to_string(
       |           (list(event_type ORDER BY ts, event_id))[1:$JOURNEY_STEPS],
       |           '>') AS journey
       |  FROM numbered GROUP BY user_id, session_id
       |)
       |SELECT journey, COUNT(*) AS n_sessions,
       |       COUNT(DISTINCT user_id) AS n_users
       |FROM journeys GROUP BY journey
       |ORDER BY n_sessions DESC, journey ASC
       |LIMIT $JOURNEY_TOP""".stripMargin

  /** Path analysis — the event-type transition matrix: per user, events
    * ordered by (ts, event_id), each consecutive pair contributes one
    * (from_type, to_type) edge; counts plus distinct-user support per
    * edge. The classic UBA "what do users do next" query the reference's
    * hot-items family points at but never materializes.
    *
    * 100 TB shape: the lead() window partitions by user_id (high
    * cardinality — thousands of rows per reducer, not per-type megatasks),
    * and the transition agg is a two-phase hash aggregate over ≤ |types|²
    * keys. No text, no payload, one exchange on user_id + one tiny agg
    * exchange.
    */
  def eventPaths(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    Tables.events(spark, sfDir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("to_type", lead(col("event_type"), 1).over(w))
      .filter(col("to_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"),
        count_distinct(col("user_id")).as("n_users"))
  }

  /** Oracle: identical lead() restatement; (ts, event_id) ordering is a
    * total order (event_id unique) so both engines derive the same edge
    * set.
    */
  val eventPathsSql: String =
    """WITH e AS (
      |  SELECT user_id, event_type,
      |         LEAD(event_type) OVER (
      |           PARTITION BY user_id ORDER BY ts, event_id) AS to_type
      |  FROM events
      |)
      |SELECT event_type AS from_type, to_type, COUNT(*) AS n,
      |       COUNT(DISTINCT user_id) AS n_users
      |FROM e WHERE to_type IS NOT NULL
      |GROUP BY 1, 2""".stripMargin

  val eventPropsSql: String =
    """SELECT event_type, COUNT(k) AS n_with_k,
      |       CAST(SUM(k) AS BIGINT) AS sum_k,
      |       MIN(k) AS min_k, MAX(k) AS max_k
      |FROM (SELECT event_type,
      |        CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      |      FROM events)
      |GROUP BY event_type""".stripMargin

  /** The 100 TB percentile path as a CHECKED query: `approx_percentile`
    * (t-digest — mergeable partials, no per-group value sort) beside
    * [[percentileStats]]. Sketch values themselves are partitioning-
    * dependent and can't hash-match any oracle, so the query emits what IS
    * deterministic: per-group counts plus rank-error-bound audits — the
    * fraction of rows strictly below the sketch's answer must not exceed
    * p+ε and the fraction at-or-below must reach p−ε (the tie-safe
    * statement of the quantile-sketch contract; ε = 0.01 ≫ the 1/10000
    * accuracy bound). The DuckDB oracle asserts those booleans and counts,
    * making the approx path a hash-checked gate row, not a comment.
    */
  def approxPercentileStats(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_returnflag"), col("l_quantity"))
    val sk = li.groupBy(col("l_returnflag")).agg(
      expr("approx_percentile(l_quantity, 0.5, 10000)").as("ap50"),
      expr("approx_percentile(l_quantity, 0.95, 10000)").as("ap95"))
    def within(v: org.apache.spark.sql.Column, p: Double) = {
      val n = count(lit(1))
      val below = sum(when(col("l_quantity") < v, 1L).otherwise(0L))
      val atOrBelow = sum(when(col("l_quantity") <= v, 1L).otherwise(0L))
      (below.cast("double") / n <= p + 0.01) &&
        (atOrBelow.cast("double") / n >= p - 0.01)
    }
    li.join(broadcast(sk), "l_returnflag") // 3 rows by construction
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        within(col("ap50"), 0.5).as("p50_in_bounds"),
        within(col("ap95"), 0.95).as("p95_in_bounds"))
  }

  val approxPercentileStatsSql: String =
    """SELECT l_returnflag, COUNT(*) AS n,
      |  true AS p50_in_bounds, true AS p95_in_bounds
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  /** The 100 TB distinct-cardinality path as a CHECKED query:
    * `approx_count_distinct` (HyperLogLog++ — fixed-size register
    * sketches whose partials merge on any reduction tree, so the shuffle
    * is O(groups·sketch) where exact countDistinct must move every
    * distinct (key, value) pair) gated beside the exact count the same
    * way [[approxPercentileStats]] gates the t-digest: the ESTIMATE
    * can't hash-match across engines, so the CONTRACT is the gate — the
    * estimate must land within 5% of the exact count at rsd 1%. DuckDB's
    * side of the boolean is `true` by construction.
    */
  def approxDistinct(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_exact"),
        approx_count_distinct(col("user_id"), 0.01).as("est"))
      .select(col("event_type"), col("n_exact"),
        (abs(col("est") - col("n_exact")).cast("double") / col("n_exact")
          <= 0.05).as("approx_in_bounds"))

  val approxDistinctSql: String =
    """SELECT event_type, COUNT(DISTINCT user_id) AS n_exact,
      |       true AS approx_in_bounds
      |FROM events GROUP BY event_type""".stripMargin

  /** Salted two-phase aggregation as a driver-checked gate: event_type
    * is this table's hot low-cardinality key (a handful of values over
    * the whole corpus — the shape where one reducer per key stalls a
    * 100 TB stage), so the count runs on (key, salt-of-user_id) first
    * and re-aggregates on the key alone ([[graft.ops.Skew.saltedCount]]).
    * Salting is semantically invisible for algebraic aggregates — the
    * oracle is the plain GROUP BY, so the hash gate proves exactness
    * under any bucket assignment.
    */
  def saltedAgg(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.Skew.saltedCount(
        Tables.events(spark, sfDir),
        col("event_type"), col("user_id"), buckets = 32)
      .select(col("key").as("event_type"), col("cnt"))

  val saltedAggSql: String =
    """SELECT event_type, COUNT(*) AS cnt
      |FROM events GROUP BY event_type""".stripMargin

  /** Day-over-day event-mix drift — the data-quality monitor a production
    * ingest runs to catch upstream breakage (a type vanishing, a bot spike)
    * before it poisons training data. Per day: a χ²-style integer drift
    * statistic Σ_types ((c−p)²·10⁶) div (p+1) against the previous day's
    * densified counts, total volume, and the top-contributing type
    * (ties → lexicographic). The first observed day has no baseline and
    * is excluded.
    *
    * Scale shape: the corpus-sized work is ONE two-phase (day, type) count
    * agg; everything after runs on the days×types aggregate — tiny by
    * construction (the low-cardinality-window rule bars corpus-sized
    * frames, not day-count-sized aggregates). The 10⁶ scaling keeps the
    * statistic integer-exact; per-day counts beyond ~10⁶ would rescale it
    * (document at the call site if a deployment's day volume demands it).
    */
  def eventDrift(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // |days|·|types|-sized; cached — grid's two DISTINCT branches and the
    // fill join all read it (uncached = three full events scans)
    val counts = Tables.events(spark, sfDir)
      .select(expr("datediff(cast(ts as date), date'1970-01-01')").as("day"),
        col("event_type"))
      .groupBy(col("day"), col("event_type"))
      .agg(count(lit(1)).as("c"))
      .cache()
    val grid = counts.select(col("day")).distinct()
      .crossJoin(counts.select(col("event_type")).distinct())
    val full = grid.join(counts, Seq("day", "event_type"), "left")
      .na.fill(0, Seq("c"))
    val lagged = full
      .withColumn("p",
        lag(col("c"), 1).over(
          Window.partitionBy(col("event_type")).orderBy(col("day"))))
      .filter(col("p").isNotNull)
      .withColumn("d", expr("((c - p) * (c - p) * 1000000) div (p + 1)"))
    val ranked = lagged.withColumn("rn",
      row_number().over(Window.partitionBy(col("day"))
        .orderBy(col("d").desc, col("event_type").asc)))
    ranked.groupBy(col("day"))
      .agg(sum(col("c")).as("n_events"),
        sum(col("d")).as("drift_q"),
        max(when(col("rn") === 1, col("event_type"))).as("top_type"))
  }

  val eventDriftSql: String =
    """WITH e AS (
      |  SELECT (ts::DATE - DATE '1970-01-01') AS day, event_type FROM events
      |), counts AS (
      |  SELECT day, event_type, COUNT(*) AS c FROM e GROUP BY 1, 2
      |), grid AS (
      |  SELECT d.day, t.event_type
      |  FROM (SELECT DISTINCT day FROM counts) d
      |  CROSS JOIN (SELECT DISTINCT event_type FROM counts) t
      |), filled AS (
      |  SELECT g.day, g.event_type, COALESCE(c.c, 0) AS c
      |  FROM grid g LEFT JOIN counts c
      |    ON c.day = g.day AND c.event_type = g.event_type
      |), lagged AS (
      |  SELECT *, LAG(c) OVER (PARTITION BY event_type ORDER BY day) AS p
      |  FROM filled
      |), scored AS (
      |  SELECT day, event_type, c,
      |         ((c - p) * (c - p) * 1000000) // (p + 1) AS d
      |  FROM lagged WHERE p IS NOT NULL
      |), ranked AS (
      |  SELECT *, ROW_NUMBER() OVER (
      |    PARTITION BY day ORDER BY d DESC, event_type ASC) AS rn
      |  FROM scored
      |)
      |SELECT day, CAST(SUM(c) AS BIGINT) AS n_events,
      |       CAST(SUM(d) AS BIGINT) AS drift_q,
      |       MAX(CASE WHEN rn = 1 THEN event_type END) AS top_type
      |FROM ranked GROUP BY day""".stripMargin

  private[jobs] val PR_ITERS = 10

  /** PageRank over the bipartite user↔item interaction graph — the link-
    * analysis workload (importance scoring for recommendation / crawl
    * prioritization) run beside the UBA aggregations. Nodes are namespaced
    * into one LONG id space (user → 2·id, item → 2·k+1); edges are the
    * DISTINCT interaction pairs, symmetric, so the raw event log is
    * aggregated away in one shuffle before any iteration runs.
    *
    * Integer-exact per [[graft.ops.Graph]]: 10^12-scaled BIGINT ranks,
    * floor-div damping, order-independent integer sums — the 10 rounds
    * restate as unrolled DuckDB CTEs and hash-match.
    *
    * 100 TB shape: the event scan collapses to ≤ |users|·|items| distinct
    * edges (one shuffle); regime selection then runs the fixpoint in one
    * task below 4M edges or as LONG-keyed distributed rounds above
    * ([[graft.ops.Graph.pageRank]] scaladoc; SCALE.md §8g).
    */
  def itemPagerank(spark: SparkSession, sfDir: String): DataFrame = {
    // props is the driver's flat {"k": <int>} payload; the anchored regexp
    // extracts the same integers json parsing would at ~1/3 the cold cost
    // (from_json's Jackson init + per-row tree walk is the expensive part,
    // measured 1.7 vs 0.5 s cold at sf0.1) — the oracle states it as
    // json_extract_string, so both engines agree on the value
    val ev = Tables.events(spark, sfDir)
      .select((col("user_id") * 2).as("u"),
        (regexp_extract(col("props"), "\"k\"\\s*:\\s*(-?\\d+)", 1)
          .cast("long") * 2 + 1).as("it"))
      .filter(col("it").isNotNull)
    // no pre-distinct: pageRank dedupes internally, and union-then-distinct
    // is ONE exchange instead of two chained ones
    val edges = ev.select(col("u").as("src"), col("it").as("dst"))
      .unionAll(ev.select(col("it").as("src"), col("u").as("dst")))
    graft.ops.Graph.pageRank(edges, iters = PR_ITERS)
      .select(
        when(col("node") % 2 === 0, "user").otherwise("item").as("node_kind"),
        expr("node div 2").as("node_id"),
        col("r").as("rank_s"))
  }

  /** Oracle: the identical integer recurrence, rounds unrolled as CTEs
    * (the BPE/k-means unroll pattern); `//` is DuckDB floor division,
    * exact on the all-positive operands, and the HUGEINT sum is cast back
    * per the round-4 rule.
    */
  val itemPagerankSql: String = {
    val rounds = (1 to PR_ITERS).map { i =>
      s"""r$i AS (
         |  SELECT n.node AS node,
         |         CAST(${graft.ops.Graph.PrBase} +
         |              COALESCE(SUM((r.r * 85) // (d.deg * 100)), 0) AS BIGINT) AS r
         |  FROM nodes n
         |  LEFT JOIN edges e ON e.dst = n.node
         |  LEFT JOIN r${i - 1} r ON r.node = e.src
         |  LEFT JOIN deg d ON d.src = e.src
         |  GROUP BY n.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH ev AS (
       |  SELECT user_id * 2 AS u,
       |         CAST(json_extract_string(props, '$$.k') AS BIGINT) * 2 + 1 AS it
       |  FROM events
       |  WHERE json_extract_string(props, '$$.k') IS NOT NULL
       |), e0 AS (SELECT DISTINCT u, it FROM ev),
       |edges AS (SELECT u AS src, it AS dst FROM e0
       |          UNION ALL SELECT it, u FROM e0),
       |deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
       |nodes AS (SELECT DISTINCT src AS node FROM edges),
       |r0 AS (SELECT node, CAST(${graft.ops.Graph.PrScale} AS BIGINT) AS r
       |       FROM nodes),
       |$rounds
       |SELECT CASE WHEN node % 2 = 0 THEN 'user' ELSE 'item' END AS node_kind,
       |       node // 2 AS node_id, r AS rank_s
       |FROM r$PR_ITERS""".stripMargin
  }

  /** Salted hot-key JOIN beside [[saltedAgg]]'s salted aggregation: the
    * event log joins the customer dimension on (user_id, salt) with the
    * dimension replicated 32×, then rolls up per market segment
    * ([[graft.ops.Skew.saltedJoin]] scaladoc for exactness and the
    * AQE-relationship note). The oracle is the PLAIN join + GROUP BY —
    * hash-equality proves the salting is semantically invisible, the
    * same contract `salted_agg` pins for aggregation.
    */
  def saltedJoinAgg(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.Skew.saltedJoin(
        Tables.events(spark, sfDir),
        Tables.customer(spark, sfDir)
          .select(col("c_custkey").as("user_id"), col("c_mktsegment")),
        "user_id", buckets = 32, spread = Seq(col("event_id")))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")) + lit(1e-9), 2).as("sum_value"))

  val saltedJoinAggSql: String =
    """SELECT c_mktsegment, COUNT(*) AS n_events,
      |       ROUND(SUM(value) + 1e-9, 2) AS sum_value
      |FROM events e JOIN customer c ON e.user_id = c.c_custkey
      |GROUP BY 1""".stripMargin

  /** Rolling 7-day distinct users per observed day (DAU / rolling-WAU /
    * stickiness) — the retention dashboard's backbone metric. Exact
    * distinct counts via the EQUI-join restatement of the range window:
    * each distinct (day, user) contributes to target days [day, day+6]
    * through an explode (≤7× a users×days-bounded frame), so the plan is
    * a two-phase distinct + an int-keyed equi-join — no BETWEEN
    * nested-loop join anywhere, which is what survives a 100 TB log
    * (the raw event scan collapses to distinct (day, user) in ONE
    * shuffle). At extreme user cardinality the same query swaps exact
    * distinct for HLL partials (`approx_distinct` demonstrates the
    * sketch gate); the shape is unchanged.
    */
  def rollingUniques(spark: SparkSession, sfDir: String): DataFrame = {
    val du = Tables.events(spark, sfDir)
      .select(expr("datediff(cast(ts as date), date'1970-01-01')").as("day"),
        col("user_id"))
      .distinct()
    val days = du.select(col("day").as("d")).distinct()
    val contrib = du.select(
      explode(sequence(col("day"), col("day") + 6)).as("d"),
      col("day"), col("user_id"))
    contrib.join(days, "d")
      .groupBy(col("d").as("day"))
      .agg(
        count_distinct(when(col("day") === col("d"), col("user_id")))
          .as("dau"),
        count_distinct(col("user_id")).as("wau7"))
      .withColumn("stickiness_ppm", expr("(dau * 1000000) div wau7"))
  }

  /** Oracle: the BETWEEN-window statement of the same metric (DuckDB is
    * free to nested-loop the tiny day×(day,user) aggregate).
    */
  val rollingUniquesSql: String =
    """WITH du AS (
      |  SELECT DISTINCT (ts::DATE - DATE '1970-01-01') AS day, user_id
      |  FROM events
      |), days AS (SELECT DISTINCT day AS d FROM du)
      |SELECT d.d AS day,
      |       COUNT(DISTINCT CASE WHEN u.day = d.d THEN u.user_id END) AS dau,
      |       COUNT(DISTINCT u.user_id) AS wau7,
      |       (COUNT(DISTINCT CASE WHEN u.day = d.d THEN u.user_id END)
      |        * 1000000) // COUNT(DISTINCT u.user_id) AS stickiness_ppm
      |FROM days d JOIN du u ON u.day BETWEEN d.d - 6 AND d.d
      |GROUP BY d.d""".stripMargin

  /** Per-day partition manifest — the incremental-recompute primitive: an
    * order-independent content fingerprint (XOR of each row's 60-bit
    * canonical hash) plus row count and exact cents total per day
    * partition. A backfill pass diffs today's manifest against the stored
    * one and recomputes ONLY the days whose fingerprint moved — the
    * change-detection step every incremental ETL needs before it can
    * skip work safely. XOR is commutative/associative with no overflow,
    * so any partitioning, any order, any engine lands the same value
    * (caveat, documented: a row appearing an EVEN number of times
    * cancels — the row count and cents total are the cheap second
    * factors that catch that case).
    *
    * Scale shape: one two-phase hash aggregate over day keys; the
    * canonical string + md5 stays inside the scan's codegen.
    */
  def partitionManifest(spark: SparkSession, sfDir: String): DataFrame =
    manifestOf(Tables.events(spark, sfDir))

  /** [[partitionManifest]] over an arbitrary events-shaped frame — the
    * form the incremental-recompute consumer
    * ([[ArtifactJobs.itemPagerankIncremental]]) diffs: yesterday's stored
    * manifest vs today's, per slice.
    */
  def manifestOf(events: DataFrame): DataFrame = {
    val cents = round(col("value") * 100, 0).cast("long")
    // Every field rides through an explicit NULL sentinel (unit separator,
    // chr(31)): concat_ws SKIPS nulls while the oracle's '||' chain nulls
    // the whole string — without the sentinel a future NULL field would
    // silently alias distinct rows on one side and drop them on the other.
    def canon(c: Column): Column =
      coalesce(c.cast("string"), lit("\u001f"))
    val canonical = concat_ws("|",
      canon(col("event_id")), canon(expr("unix_micros(ts)")),
      canon(col("user_id")), canon(col("event_type")), canon(cents),
      canon(col("props")))
    events
      .select(expr("datediff(cast(ts as date), date'1970-01-01')").as("day"),
        Dedup.hash60(canonical).as("h"),
        cents.as("cents"))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n_rows"),
        expr("bit_xor(h)").as("fp_xor"),
        sum(col("cents")).as("cents_sum"))
  }

  val partitionManifestSql: String = {
    // COALESCE(x, chr(31)) mirrors the Spark side's NULL sentinel exactly
    // (chr(31) = the Spark side's lit("\u001f")): without it '||' nulls the whole canonical
    // string and BIT_XOR silently drops the row.
    def canon(x: String): String = s"COALESCE($x, chr(31))"
    val h = OracleSql.hex60Sql(
      canon("event_id::VARCHAR") + " || '|' || " +
        canon("epoch_us(ts)::VARCHAR") + " || '|' || " +
        canon("user_id::VARCHAR") + " || '|' || " +
        canon("event_type") + " || '|' || " +
        canon("CAST(ROUND(value * 100, 0) AS BIGINT)::VARCHAR") +
        " || '|' || " + canon("props"))
    s"""SELECT (ts::DATE - DATE '1970-01-01') AS day,
       |       COUNT(*) AS n_rows,
       |       BIT_XOR($h) AS fp_xor,
       |       CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT)
       |         AS cents_sum
       |FROM events GROUP BY 1""".stripMargin
  }

  /** Personalized PageRank seeded at PURCHASING users — "items (and
    * users) close to the buyers", the recommendation-flavored variant of
    * [[itemPagerank]] over the same interaction graph
    * ([[graft.ops.Graph.personalizedPageRank]]: restart mass only at the
    * seed set, same integer recurrence and regime selection).
    */
  def itemPpr(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_type"),
        (regexp_extract(col("props"), "\"k\"\\s*:\\s*(-?\\d+)", 1)
          .cast("long") * 2 + 1).as("it"))
    val parsed = ev.filter(col("it").isNotNull)
      .select((col("user_id") * 2).as("u"), col("it"))
    val edges = parsed.select(col("u").as("src"), col("it").as("dst"))
      .unionAll(parsed.select(col("it").as("src"), col("u").as("dst")))
    val seeds = Tables.events(spark, sfDir)
      .filter(col("event_type") === "purchase")
      .select((col("user_id") * 2).as("seed"))
    graft.ops.Graph.personalizedPageRank(edges, seeds, iters = PR_ITERS)
      .select(
        when(col("node") % 2 === 0, "user").otherwise("item").as("node_kind"),
        expr("node div 2").as("node_id"),
        col("r").as("rank_s"))
  }

  val itemPprSql: String = {
    val B = graft.ops.Graph.PrBase
    val S = graft.ops.Graph.PrScale
    val rounds = (1 to PR_ITERS).map { i =>
      s"""r$i AS (
         |  SELECT n.node AS node,
         |         CAST(n.base +
         |              COALESCE(SUM((r.r * 85) // (d.deg * 100)), 0) AS BIGINT) AS r
         |  FROM nb n
         |  LEFT JOIN edges e ON e.dst = n.node
         |  LEFT JOIN r${i - 1} r ON r.node = e.src
         |  LEFT JOIN deg d ON d.src = e.src
         |  GROUP BY n.node, n.base)""".stripMargin
    }.mkString(",\n")
    s"""WITH ev AS (
       |  SELECT user_id * 2 AS u,
       |         CAST(json_extract_string(props, '$$.k') AS BIGINT) * 2 + 1 AS it
       |  FROM events
       |  WHERE json_extract_string(props, '$$.k') IS NOT NULL
       |), e0 AS (SELECT DISTINCT u, it FROM ev),
       |edges AS (SELECT u AS src, it AS dst FROM e0
       |          UNION ALL SELECT it, u FROM e0),
       |deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
       |nodes AS (SELECT DISTINCT src AS node FROM edges),
       |seeds AS (SELECT DISTINCT user_id * 2 AS node FROM events
       |          WHERE event_type = 'purchase'),
       |params AS (SELECT (SELECT COUNT(*) FROM nodes) AS nn,
       |                  (SELECT GREATEST(COUNT(*), 1) FROM seeds) AS ns),
       |nb AS (
       |  SELECT n.node,
       |         CASE WHEN s.node IS NOT NULL
       |              THEN CAST(($B * nn) // ns AS BIGINT) ELSE 0 END AS base,
       |         CASE WHEN s.node IS NOT NULL
       |              THEN CAST(($S * nn) // ns AS BIGINT) ELSE 0 END AS r_init
       |  FROM nodes n LEFT JOIN seeds s ON s.node = n.node
       |  CROSS JOIN params
       |),
       |r0 AS (SELECT node, r_init AS r FROM nb),
       |$rounds
       |SELECT CASE WHEN node % 2 = 0 THEN 'user' ELSE 'item' END AS node_kind,
       |       node // 2 AS node_id, r AS rank_s
       |FROM r$PR_ITERS""".stripMargin
  }

  private val HITS_ITERS = 10

  /** HITS hubs/authorities over the user→item interaction graph — "which
    * users are the strongest curators, which items the strongest
    * magnets", the directional companion of [[itemPagerank]]'s undirected
    * prestige ([[graft.ops.Graph.hits]]: integer half-step sums, one
    * deterministic floor-division renorm per half-step, same regime
    * selection). The edge list is the DIRECTED user→item set — HITS is
    * the one link metric here that must NOT be symmetrized.
    */
  def itemHits(spark: SparkSession, sfDir: String): DataFrame = {
    val edges = Tables.events(spark, sfDir)
      .select(col("user_id").as("src"),
        (regexp_extract(col("props"), "\"k\"\\s*:\\s*(-?\\d+)", 1)
          .cast("long")).as("dst"))
      .filter(col("dst").isNotNull)
    graft.ops.Graph.hits(edges, iters = HITS_ITERS)
      .select(
        when(col("side") === "hub", "user").otherwise("item").as("node_kind"),
        col("node").as("node_id"), col("score_s"))
  }

  /** Oracle: the identical integer recurrence, 10 rounds unrolled as CTE
    * quadruples (raw sum → scalar total → floor-div renorm), HUGEINT
    * sums cast back per the round-4 rule. Every per-round CTE is
    * MATERIALIZED: each raw-sum frame is referenced TWICE (by its scalar
    * divisor subquery and by the renormed frame), so DuckDB's default
    * inlining doubles the expression tree per reference — 4^10 plan
    * blowup across 10 rounds (measured: >120 s planning and an fd-limit
    * blowout from re-opened parquet scans on a 7,310-edge input; the
    * materialized form runs in milliseconds). `item_ppr`'s linear chain
    * never needed this — only diamond-referenced CTEs do.
    */
  val itemHitsSql: String = {
    val S = graft.ops.Graph.HitsScale
    val rounds = (1 to HITS_ITERS).map { i =>
      s"""ar$i AS MATERIALIZED (
         |  SELECT e.dst AS node, CAST(SUM(h.s) AS BIGINT) AS raw
         |  FROM edges e JOIN h${i - 1} h ON h.node = e.src GROUP BY 1
         |), ad$i AS MATERIALIZED (
         |  SELECT GREATEST(CAST((SELECT SUM(raw) FROM ar$i) AS BIGINT)
         |    // $S, 1) AS d
         |), a$i AS MATERIALIZED (
         |  SELECT node, CAST(raw // d AS BIGINT) AS s FROM ar$i, ad$i
         |), hr$i AS MATERIALIZED (
         |  SELECT e.src AS node, CAST(SUM(a.s) AS BIGINT) AS raw
         |  FROM edges e JOIN a$i a ON a.node = e.dst GROUP BY 1
         |), hd$i AS MATERIALIZED (
         |  SELECT GREATEST(CAST((SELECT SUM(raw) FROM hr$i) AS BIGINT)
         |    // $S, 1) AS d
         |), h$i AS MATERIALIZED (
         |  SELECT node, CAST(raw // d AS BIGINT) AS s FROM hr$i, hd$i
         |)""".stripMargin
    }.mkString(",\n")
    // edges MATERIALIZED: the 10 unrolled rounds reference it ~20 times
    // and DuckDB's default CTE inlining re-opens the events parquet per
    // reference — enough scans to blow the fd limit on the oracle side
    s"""WITH ev AS (
       |  SELECT user_id AS src,
       |         CAST(json_extract_string(props, '$$.k') AS BIGINT) AS dst
       |  FROM events
       |  WHERE json_extract_string(props, '$$.k') IS NOT NULL
       |), edges AS MATERIALIZED (SELECT DISTINCT src, dst FROM ev),
       |h0 AS (SELECT DISTINCT src AS node, CAST($S AS BIGINT) AS s
       |       FROM edges),
       |$rounds
       |SELECT 'user' AS node_kind, node AS node_id, s AS score_s
       |FROM h$HITS_ITERS
       |UNION ALL
       |SELECT 'item' AS node_kind, node AS node_id, s AS score_s
       |FROM a$HITS_ITERS""".stripMargin
  }

  private[jobs] val LPA_ITERS = 5

  /** Label-propagation communities over the user↔item interaction graph —
    * the community-structure companion of [[itemPagerank]]'s prestige
    * ([[graft.ops.Graph.labelPropagation]]: synchronous rounds, most
    * frequent neighbor label + one self-vote, ties to the smallest
    * label; fixed 5 rounds, so the snapshot is deterministic in both
    * engines). Same namespaced symmetric edge set as the PageRank pair.
    */
  def itemCommunities(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select((col("user_id") * 2).as("u"),
        (regexp_extract(col("props"), "\"k\"\\s*:\\s*(-?\\d+)", 1)
          .cast("long") * 2 + 1).as("it"))
      .filter(col("it").isNotNull)
    val edges = ev.select(col("u").as("src"), col("it").as("dst"))
      .unionAll(ev.select(col("it").as("src"), col("u").as("dst")))
    graft.ops.Graph.labelPropagation(edges, iters = LPA_ITERS)
      .select(
        when(col("node") % 2 === 0, "user").otherwise("item").as("node_kind"),
        expr("node div 2").as("node_id"),
        col("community"))
  }

  /** Oracle: the identical vote recurrence, rounds unrolled. Per-round
    * CTEs MATERIALIZED — each label frame is referenced twice per round
    * (neighbor join + self-vote union), the `item_hits` diamond-inlining
    * lesson.
    */
  val itemCommunitiesSql: String = {
    val rounds = (1 to LPA_ITERS).map { i =>
      s"""v$i AS MATERIALIZED (
         |  SELECT e.dst AS node, l.lbl
         |  FROM edges e JOIN l${i - 1} l ON l.node = e.src
         |  UNION ALL SELECT node, lbl FROM l${i - 1}
         |), c$i AS MATERIALIZED (
         |  SELECT node, lbl, COUNT(*) AS c FROM v$i GROUP BY 1, 2
         |), l$i AS MATERIALIZED (
         |  SELECT node, lbl FROM (
         |    SELECT node, lbl, ROW_NUMBER() OVER (
         |      PARTITION BY node ORDER BY c DESC, lbl ASC) AS rn
         |    FROM c$i) r WHERE rn = 1
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH ev AS (
       |  SELECT user_id * 2 AS u,
       |         CAST(json_extract_string(props, '$$.k') AS BIGINT) * 2 + 1 AS it
       |  FROM events
       |  WHERE json_extract_string(props, '$$.k') IS NOT NULL
       |), e0 AS (SELECT DISTINCT u, it FROM ev),
       |edges AS MATERIALIZED (SELECT u AS src, it AS dst FROM e0
       |          UNION ALL SELECT it, u FROM e0),
       |l0 AS (SELECT DISTINCT src AS node, src AS lbl FROM edges),
       |$rounds
       |SELECT CASE WHEN node % 2 = 0 THEN 'user' ELSE 'item' END AS node_kind,
       |       node // 2 AS node_id, lbl AS community
       |FROM l$LPA_ITERS""".stripMargin
  }

  /** Power-user cap for [[itemSimilarity]]: a user with d distinct items
    * contributes d² co-occurrence pairs, so unbounded-degree users are
    * THE quadratic zone of every item-item pipeline; production
    * co-occurrence jobs drop (or sample) them. 50 genuinely fences this
    * fixture (median degree 49 — about half the users are excluded), so
    * the gate exercises the fence, not dead code (the round-6 rule).
    */
  private val SIM_USER_CAP = 50
  private val SIM_TOP_K = 5

  /** Item-item Jaccard similarity, top-k per item — the co-occurrence
    * collaborative-filtering primitive ("users who touched this also
    * touched"). Exactness: similarity is the ppm integer
    * (inter·10⁶) div (nA + nB − inter) — one floor division of exact
    * counts, no float ratio to drift — and the rank tie-breaks on the
    * partner id. Scale shape: the pair join runs per-user (int keys)
    * under the degree cap, intersection counts are map-side-combinable
    * sums, item set sizes join back on int keys, and the top-k window
    * partitions by item (catalog-sized key space, never a global funnel).
    *
    * Content-memoized full-log similarity lists — the CF model. Four
    * registry queries (`item_similarity`, `item_recs`, `rec_eval`'s
    * full-log siblings, `rec_coverage`) train the identical catalog×K
    * lists from the identical events log, and the bench runs them as
    * independent queries — without a memo the registry pays the quadratic
    * pair join four times. The model is the catalog×[[SIM_TOP_K]] list
    * frame — the exact rows the scoring side already broadcasts — served
    * from [[graft.model.ModelMemo]] (which also declines lists too big for
    * driver memory; those belong in the [[ArtifactJobs]] parquet contract).
    */
  def itemSimilarity(spark: SparkSession, sfDir: String): DataFrame =
    memoizedLists(spark, sfDir, "",
      itemSimilarityCore(interactionsOf(spark, sfDir)))

  /** The CF list models trained from `sfDir`'s events: the full-log lists
    * (tag ""), the eval prefix (":prefix") and the incremental and erasure
    * twins (":sim_inc", ":cf_erase") — a distinct tag per training input.
    */
  private[jobs] def memoizedLists(spark: SparkSession, sfDir: String,
      tag: String, build: => DataFrame): DataFrame =
    graft.model.ModelMemo.shared.frame(spark, "cf_lists", sfDir, "events",
      tag)(build)

  /** "hits/misses" of the CF list memo, surfaced in graft.Bench's tail line
    * as driver-side proof that timed runs serve from the memo.
    */
  def simMemoStats: String = graft.model.ModelMemo.shared.stats.get("cf_lists")
    .fold("0/0")(s => s"${s.hits}/${s.misses}")

  /** The full distinct (u, i) interaction frame — the CF stack's input,
    * shared by the similarity/recs/eval queries.
    */
  private[jobs] def interactionsOf(spark: SparkSession,
      sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .select(col("user_id").as("u"),
        (regexp_extract(col("props"), "\"k\"\\s*:\\s*(-?\\d+)", 1)
          .cast("long")).as("i"))
      .filter(col("i").isNotNull)
      .distinct()

  /** The CF core over an already-distinct (u, i) interaction frame —
    * exposed so [[ArtifactJobs.itemSimilarityIncremental]] can feed it
    * the artifact-maintained interaction set.
    */
  private[jobs] def itemSimilarityCore(ui: DataFrame): DataFrame =
    itemSimilarityOverKept(keptOf(ui))

  /** The degree cap applied to an interaction frame — uncached form, so
    * [[ArtifactJobs.cfErasure]] can scope-manage its own copies (a user's
    * degree is a function of their OWN rows only, so the cap evaluates
    * identically over any per-user-complete subset — the property the
    * erasure decrement leans on).
    */
  private[jobs] def keptUncached(ui: DataFrame): DataFrame =
    ui.join(
      ui.groupBy(col("u")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") <= SIM_USER_CAP).select(col("u")), "u")

  /** The degree-capped interaction frame (cached — read by sizes, both
    * sides of the pair join, and [[itemRecsCore]]'s history/anti-join).
    */
  private def keptOf(ui: DataFrame): DataFrame = keptUncached(ui).cache()

  /** Per-item membership counts over a kept frame — with
    * [[interCountsOf]], the CF model's sufficient statistics (what a
    * persisted pair-count artifact stores, and what an erasure pass
    * decrements).
    */
  private[jobs] def sizesOf(kept: DataFrame): DataFrame =
    kept.groupBy(col("i")).agg(count(lit(1)).as("n"))

  /** Per-pair co-occurrence counts (half matrix, ia < ib) over a kept
    * frame. Each count decomposes per user (both endpoints share `u`),
    * so counts over a user-disjoint union add — the decrement identity.
    */
  private[jobs] def interCountsOf(kept: DataFrame): DataFrame =
    kept.alias("a").join(kept.alias("b"),
        col("a.u") === col("b.u") && col("a.i") < col("b.i"))
      .groupBy(col("a.i").as("ia"), col("b.i").as("ib"))
      .agg(count(lit(1)).as("inter"))

  /** Jaccard + symmetrize + top-[[SIM_TOP_K]] rank from the sufficient
    * statistics — the serve stage, shared by the in-line pipeline and
    * the decremented-artifact erasure path.
    */
  private[jobs] def listsFromCounts(inter: DataFrame,
      sizes: DataFrame): DataFrame = {
    val pairs = inter
      .join(sizes.select(col("i").as("ia"), col("n").as("na")), "ia")
      .join(sizes.select(col("i").as("ib"), col("n").as("nb")), "ib")
      .select(col("ia"), col("ib"),
        expr("(inter * 1000000) div (na + nb - inter)").as("jacc_ppm"))
    val sym = pairs.select(col("ia").as("item_id"), col("ib").as("partner"),
        col("jacc_ppm"))
      .unionAll(pairs.select(col("ib").as("item_id"), col("ia").as("partner"),
        col("jacc_ppm")))
    import org.apache.spark.sql.expressions.Window
    sym.withColumn("rank", row_number().over(Window.partitionBy(col("item_id"))
        .orderBy(col("jacc_ppm").desc, col("partner").asc)).cast("long"))
      .filter(col("rank") <= SIM_TOP_K)
      .select(col("item_id"), col("rank"), col("partner"), col("jacc_ppm"))
  }

  private def itemSimilarityOverKept(kept: DataFrame): DataFrame =
    listsFromCounts(interCountsOf(kept), sizesOf(kept))

  /** Default (full-log) interaction CTE body shared by the CF oracles. */
  private val uiSqlDefault: String =
    """SELECT DISTINCT user_id AS u,
      |         CAST(json_extract_string(props, '$.k') AS BIGINT) AS i
      |  FROM events
      |  WHERE json_extract_string(props, '$.k') IS NOT NULL""".stripMargin

  val itemSimilaritySql: String = itemSimilaritySqlOver(uiSqlDefault)

  /** [[itemSimilaritySql]] over a caller-supplied interaction SELECT —
    * so the temporal-split eval trains the identical oracle pipeline on
    * a prefix of the log.
    */
  private[jobs] def itemSimilaritySqlOver(uiSql: String): String =
    s"""WITH ui AS (
       |  $uiSql
       |), kept AS (
       |  SELECT ui.u, ui.i FROM ui JOIN (
       |    SELECT u FROM ui GROUP BY u HAVING COUNT(*) <= $SIM_USER_CAP) d
       |  ON d.u = ui.u
       |), sizes AS (SELECT i, COUNT(*) AS n FROM kept GROUP BY i),
       |inter AS (
       |  SELECT a.i AS ia, b.i AS ib, COUNT(*) AS inter
       |  FROM kept a JOIN kept b ON a.u = b.u AND a.i < b.i
       |  GROUP BY 1, 2
       |), pairs AS (
       |  SELECT ia, ib,
       |         CAST((inter * 1000000) // (sa.n + sb.n - inter) AS BIGINT)
       |           AS jacc_ppm
       |  FROM inter JOIN sizes sa ON sa.i = inter.ia
       |             JOIN sizes sb ON sb.i = inter.ib
       |), sym AS (
       |  SELECT ia AS item_id, ib AS partner, jacc_ppm FROM pairs
       |  UNION ALL
       |  SELECT ib, ia, jacc_ppm FROM pairs
       |)
       |SELECT item_id, rank, partner, jacc_ppm FROM (
       |  SELECT item_id, partner, jacc_ppm, ROW_NUMBER() OVER (
       |    PARTITION BY item_id
       |    ORDER BY jacc_ppm DESC, partner ASC) AS rank
       |  FROM sym) r
       |WHERE rank <= $SIM_TOP_K""".stripMargin

  private val REC_TOP_K = 3

  /** Per-user top-[[REC_TOP_K]] item recommendations — the SERVING
    * operator of the co-occurrence CF stack: each candidate scores
    * Σ jacc_ppm over its appearances in the top-[[SIM_TOP_K]] similarity
    * lists of the user's history items (exact BIGINT sum of the ppm
    * integers — order-independent, engine-exact), items the user already
    * interacted with are removed by ONE (u, item)-keyed anti-join (the
    * classic already-seen filter), then a user-partitioned rank
    * (score DESC, n_hits DESC, item ASC — n_hits joins the tie-break so
    * equal sums from different support widths stay deterministic).
    *
    * Scale shape: the similarity lists are catalog × K rows (model-sized
    * next to the corpus — AQE broadcasts them when they fit, degrades to
    * a hash join when a 10⁸-item catalog doesn't); history and the
    * anti-join are int-keyed equi-joins under [[SIM_USER_CAP]]'s fence,
    * so per-user candidate mass is ≤ cap·K rows — nothing quadratic
    * anywhere. The gate query recomputes the lists inline for isolation;
    * a production pipeline persists them once as a parquet artifact and
    * serves hist ⨝ artifact (the [[ArtifactJobs]] contract — the lists
    * are the CF model, catalog-sized, so they belong in storage, not
    * driver memory). Reference anchor: the reference's per-key top-N
    * serving read (TopNHotItems.java:60 keyed-state sort) applied to CF
    * scores.
    */
  def itemRecs(spark: SparkSession, sfDir: String): DataFrame =
    itemRecsServe(keptOf(interactionsOf(spark, sfDir)),
      itemSimilarity(spark, sfDir))

  /** The serving core over an already-distinct (u, i) frame — exposed so
    * the temporal-split eval ([[recEval]]) can train on a log prefix and
    * [[ArtifactJobs]] on a maintained interaction set (neither shares the
    * full-log [[itemSimilarity]] memo — different training inputs).
    */
  private[jobs] def itemRecsCore(ui: DataFrame): DataFrame = {
    // ONE capped frame serves the similarity build, the history join,
    // and the already-seen anti-join (it was computed twice before —
    // two ui shuffles + two degree aggs for the same rows)
    val hist = keptOf(ui)
    itemRecsServe(hist, itemSimilarityOverKept(hist))
  }

  /** The serving half alone: score a history frame against an
    * already-built similarity-list frame (memoized or freshly trained).
    */
  private def itemRecsServe(hist: DataFrame, lists: DataFrame): DataFrame = {
    val sims = lists
      .select(col("item_id").as("i"), col("partner").as("rec_item"),
        col("jacc_ppm"))
    val scored = hist.join(sims, "i")
      .join(hist.select(col("u"), col("i").as("rec_item")),
        Seq("u", "rec_item"), "left_anti")
      .groupBy(col("u").as("user_id"), col("rec_item"))
      .agg(sum(col("jacc_ppm")).as("score_ppm"),
        count(lit(1)).as("n_hits"))
    import org.apache.spark.sql.expressions.Window
    scored.withColumn("rank", row_number().over(
        Window.partitionBy(col("user_id"))
          .orderBy(col("score_ppm").desc, col("n_hits").desc,
            col("rec_item").asc)).cast("long"))
      .filter(col("rank") <= REC_TOP_K)
      .select(col("user_id"), col("rank"), col("rec_item"),
        col("score_ppm"), col("n_hits"))
  }

  /** Oracle: [[itemSimilaritySql]] composed verbatim as a nested-WITH CTE
    * (the tokenizer_compare pattern), then the identical hist join /
    * anti-join / exact sum / rank. SUM(BIGINT) is HUGEINT in DuckDB —
    * CAST back before it ever reaches the output or the ORDER BY.
    */
  val itemRecsSql: String = itemRecsSqlOver(uiSqlDefault)

  /** [[itemRecsSql]] over a caller-supplied interaction SELECT (the
    * [[itemSimilaritySqlOver]] companion).
    */
  private[jobs] def itemRecsSqlOver(uiSql: String): String =
    s"""WITH simtop AS MATERIALIZED (
       |  SELECT item_id AS i, partner AS rec_item, jacc_ppm
       |  FROM (${itemSimilaritySqlOver(uiSql)}) sq
       |), ui AS (
       |  $uiSql
       |), hist AS MATERIALIZED (
       |  SELECT ui.u, ui.i FROM ui JOIN (
       |    SELECT u FROM ui GROUP BY u HAVING COUNT(*) <= $SIM_USER_CAP) d
       |  ON d.u = ui.u
       |), scored AS (
       |  SELECT h.u AS user_id, s.rec_item,
       |         CAST(SUM(s.jacc_ppm) AS BIGINT) AS score_ppm,
       |         COUNT(*) AS n_hits
       |  FROM hist h JOIN simtop s ON s.i = h.i
       |  WHERE NOT EXISTS (
       |    SELECT 1 FROM hist h2
       |    WHERE h2.u = h.u AND h2.i = s.rec_item)
       |  GROUP BY 1, 2
       |)
       |SELECT user_id, rank, rec_item, score_ppm, n_hits FROM (
       |  SELECT *, ROW_NUMBER() OVER (
       |    PARTITION BY user_id
       |    ORDER BY score_ppm DESC, n_hits DESC, rec_item ASC) AS rank
       |  FROM scored) r
       |WHERE rank <= $REC_TOP_K""".stripMargin

  /** Temporal-split recommender eval — the CF stack's scorecard (the
    * dedup_eval/ann_eval discipline applied to [[itemRecs]]): train the
    * similarity lists on every day but the LAST, recommend, and score
    * against the held-out final day's NEW interactions (items the user
    * had never touched — the only honest truth set; re-interactions are
    * trivially predictable and excluded). Emits exact counts plus
    * integer-ppm hit rate and MRR over the users that have BOTH a truth
    * item and a recommendation (cold-start users are a coverage question,
    * not an accuracy one). The gate checks the MECHANISM — split, join,
    * rank arithmetic — not an accuracy floor (the fixture's interactions
    * are synthetic; chance-level hit rates are expected and fine).
    *
    * Scale shape: the split bound is a 1-row max-day broadcast (the
    * mixture_plan pattern); prefix/holdout are filters of one cached
    * (u, i, day) frame; the recs side is the registered pipeline over
    * the prefix; the eval layer adds only keyed joins + two bounded
    * aggregates (composed-eval rule).
    */
  def recEval(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id").as("u"),
        (regexp_extract(col("props"), "\"k\"\\s*:\\s*(-?\\d+)", 1)
          .cast("long")).as("i"),
        expr("datediff(cast(ts as date), date'1970-01-01')").as("day"))
      .filter(col("i").isNotNull)
      .cache() // read by the max-day agg, the prefix, and the holdout
    val maxDay = broadcast(ev.agg(max(col("day")).as("max_day")))
    val prefix = ev.crossJoin(maxDay).filter(col("day") < col("max_day"))
      .select(col("u"), col("i")).distinct().cache()
    val holdout = ev.crossJoin(maxDay).filter(col("day") === col("max_day"))
      .select(col("u"), col("i")).distinct()
    val truth = holdout.join(prefix, Seq("u", "i"), "left_anti").cache()
    // the prefix-trained similarity lists under their own memo key: the
    // split is deterministic from the events table, so the ":prefix"
    // model is as cacheable as the full-log one — without this, rec_eval
    // re-paid its training pass every bench run (6.1 s, the top r12
    // local sink) while serving identical lists
    val hist = keptOf(prefix)
    val lists = memoizedLists(spark, sfDir, ":prefix",
      itemSimilarityOverKept(hist))
    val recs = itemRecsServe(hist, lists)
    val perUser = recs
      .join(truth.select(col("u").as("user_id")).distinct(), "user_id")
      .join(truth.select(col("u").as("user_id"), col("i").as("rec_item"))
          .withColumn("hit", lit(1L)),
        Seq("user_id", "rec_item"), "left")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_recs"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hit"),
        min(when(col("hit").isNotNull, col("rank"))).as("first_hit"))
    perUser.agg(
        count(lit(1)).as("n_users"),
        sum(when(col("n_hit") > 0, 1L).otherwise(0L)).as("users_hit"),
        sum(col("n_hit")).as("hits_total"),
        sum(when(col("first_hit").isNotNull, expr("1000000 div first_hit"))
          .otherwise(0L)).as("mrr_sum_ppm"))
      .select(col("n_users"), col("users_hit"), col("hits_total"),
        expr("(users_hit * 1000000) div greatest(n_users, 1)")
          .as("hit_rate_ppm"),
        expr("mrr_sum_ppm div greatest(n_users, 1)").as("mrr_ppm"))
  }

  /** The prefix interaction SELECT (self-contained — the max-day bound is
    * a scalar subquery, so it composes into [[itemRecsSqlOver]]).
    */
  private lazy val prefixUiSql: String =
    """SELECT DISTINCT user_id AS u,
      |         CAST(json_extract_string(props, '$.k') AS BIGINT) AS i
      |  FROM events
      |  WHERE json_extract_string(props, '$.k') IS NOT NULL
      |    AND (ts::DATE - DATE '1970-01-01') <
      |        (SELECT MAX(ts::DATE - DATE '1970-01-01') FROM events
      |         WHERE json_extract_string(props, '$.k') IS NOT NULL)"""
      .stripMargin

  /** Oracle: the recs pipeline composed over the prefix SELECT + the
    * identical truth anti-join and ppm arithmetic. lazy — composes vals
    * whose declarations precede this one only textually.
    */
  lazy val recEvalSql: String =
    s"""WITH recs AS MATERIALIZED (
       |  SELECT user_id, rank, rec_item
       |  FROM (${itemRecsSqlOver(prefixUiSql)}) rq
       |), evd AS (
       |  SELECT user_id AS u,
       |         CAST(json_extract_string(props, '$$.k') AS BIGINT) AS i,
       |         (ts::DATE - DATE '1970-01-01') AS day
       |  FROM events WHERE json_extract_string(props, '$$.k') IS NOT NULL
       |), md AS (SELECT MAX(day) AS m FROM evd),
       |prefix AS MATERIALIZED (
       |  SELECT DISTINCT u, i FROM evd, md WHERE day < m),
       |holdout AS (SELECT DISTINCT u, i FROM evd, md WHERE day = m),
       |truth AS MATERIALIZED (
       |  SELECT h.u, h.i FROM holdout h
       |  LEFT JOIN prefix p ON p.u = h.u AND p.i = h.i
       |  WHERE p.u IS NULL
       |), pu AS (
       |  SELECT r.user_id, COUNT(*) AS n_recs,
       |         CAST(SUM(CASE WHEN t.i IS NOT NULL THEN 1 ELSE 0 END)
       |           AS BIGINT) AS n_hit,
       |         MIN(CASE WHEN t.i IS NOT NULL THEN r.rank END) AS first_hit
       |  FROM recs r
       |  JOIN (SELECT DISTINCT u FROM truth) tu ON tu.u = r.user_id
       |  LEFT JOIN truth t ON t.u = r.user_id AND t.i = r.rec_item
       |  GROUP BY 1
       |), g AS (
       |  SELECT COUNT(*) AS n_users,
       |    CAST(SUM(CASE WHEN n_hit > 0 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS users_hit,
       |    CAST(SUM(n_hit) AS BIGINT) AS hits_total,
       |    CAST(SUM(CASE WHEN first_hit IS NOT NULL
       |      THEN 1000000 // first_hit ELSE 0 END) AS BIGINT) AS mrr_sum_ppm
       |  FROM pu
       |)
       |SELECT n_users, users_hit, hits_total,
       |       CAST((users_hit * 1000000) // greatest(n_users, 1) AS BIGINT)
       |         AS hit_rate_ppm,
       |       CAST(mrr_sum_ppm // greatest(n_users, 1) AS BIGINT) AS mrr_ppm
       |FROM g""".stripMargin

  /** Catalog coverage + concentration of the recommender — the health
    * metrics served beside [[recEval]]'s accuracy: how much of the item
    * catalog the top-K lists ever surface (low coverage = popularity
    * collapse) and how concentrated the recommendations are on the
    * single hottest item. Exact counts + two ppm floor divisions.
    * Scale shape: the recs frame is user×K-bounded; everything here is
    * one per-item aggregate plus three 1-row frames cross-joined.
    */
  def recCoverage(spark: SparkSession, sfDir: String): DataFrame = {
    val recs = itemRecs(spark, sfDir).cache()
    val catalog = broadcast(interactionsOf(spark, sfDir)
      .agg(countDistinct(col("i")).as("n_catalog")))
    val perItem = recs.groupBy(col("rec_item")).agg(count(lit(1)).as("cnt"))
    val shape = perItem.agg(max(col("cnt")).as("top_cnt"),
      count(lit(1)).as("n_items_rec"), sum(col("cnt")).as("n_rec_rows"))
    val users = broadcast(recs.agg(countDistinct(col("user_id"))
      .as("n_users")))
    shape.crossJoin(catalog).crossJoin(users)
      .select(col("n_users"), col("n_rec_rows"), col("n_items_rec"),
        col("n_catalog"),
        expr("(n_items_rec * 1000000) div n_catalog").as("coverage_ppm"),
        expr("(top_cnt * 1000000) div greatest(n_rec_rows, 1)")
          .as("top_item_ppm"))
  }

  /** Oracle: [[itemRecsSql]] composed + identical aggregates. lazy (the
    * composed vals are declared later in object-init order).
    */
  lazy val recCoverageSql: String =
    s"""WITH recs AS MATERIALIZED (
       |  SELECT user_id, rec_item FROM ($itemRecsSql) rq
       |), ui AS (
       |  $uiSqlDefault
       |), cat AS (SELECT COUNT(DISTINCT i) AS n_catalog FROM ui),
       |pi AS (SELECT rec_item, COUNT(*) AS cnt FROM recs GROUP BY 1),
       |sh AS (
       |  SELECT MAX(cnt) AS top_cnt, COUNT(*) AS n_items_rec,
       |         CAST(SUM(cnt) AS BIGINT) AS n_rec_rows
       |  FROM pi
       |), gu AS (SELECT COUNT(DISTINCT user_id) AS n_users FROM recs)
       |SELECT n_users, n_rec_rows, n_items_rec, n_catalog,
       |       CAST((n_items_rec * 1000000) // n_catalog AS BIGINT)
       |         AS coverage_ppm,
       |       CAST((top_cnt * 1000000) // greatest(n_rec_rows, 1) AS BIGINT)
       |         AS top_item_ppm
       |FROM sh CROSS JOIN cat CROSS JOIN gu""".stripMargin

  /** The sketch-merge form of [[rollingUniques]] — its OWN scaladoc's
    * 100 TB path made a checked gate: per-day DataSketches HLL sketches
    * (`hll_sketch_agg`) union across the 7-day window (`hll_union_agg`),
    * so extreme user cardinality costs mergeable KB-sized partials
    * instead of exact distinct shuffles. Sketch estimates are
    * partitioning-dependent and can't hash any oracle (the
    * `approx_distinct` rule), so the gate emits what IS deterministic:
    * the exact windowed distinct plus the estimate's 5%-relative-error
    * audit boolean (HLL at default lgK=12 is ~1.6% rse — 5% ≫ 3σ).
    */
  def rollingUniquesApprox(spark: SparkSession, sfDir: String): DataFrame = {
    val du = Tables.events(spark, sfDir)
      .select(expr("datediff(cast(ts as date), date'1970-01-01')").as("day"),
        col("user_id"))
    val daily = du.groupBy(col("day"))
      .agg(expr("hll_sketch_agg(user_id)").as("sk"))
    val days = daily.select(col("day").as("d"))
    val merged = daily
      .select(explode(sequence(col("day"), col("day") + 6)).as("d"),
        col("sk"))
      .join(days, "d")
      .groupBy(col("d").as("day"))
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("wau_est"))
    val exact = rollingUniques(spark, sfDir).select(col("day"), col("wau7"))
    exact.join(merged, "day")
      .select(col("day"), col("wau7"),
        (abs(col("wau_est") - col("wau7")).cast("double") / col("wau7")
          <= 0.05).as("est_in_bounds"))
  }

  val rollingUniquesApproxSql: String =
    """WITH du AS (
      |  SELECT DISTINCT (ts::DATE - DATE '1970-01-01') AS day, user_id
      |  FROM events
      |), days AS (SELECT DISTINCT day AS d FROM du)
      |SELECT d.d AS day,
      |       COUNT(DISTINCT u.user_id) AS wau7,
      |       true AS est_in_bounds
      |FROM days d JOIN du u ON u.day BETWEEN d.d - 6 AND d.d
      |GROUP BY d.d""".stripMargin

  /** Signup→purchase conversion latency distribution: per user, the
    * first signup and the first purchase at-or-after it; percentiles of
    * the gap (exact interpolated — the `percentile_stats` convention,
    * micros so the interpolation runs on integers) plus count and max.
    * The funnel-health number a growth dashboard tracks beside the
    * conversion RATE the `funnel` query reports.
    */
  def conversionLatency(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.events(spark, sfDir)
    val firsts = e.groupBy(col("user_id"))
      .agg(min(when(col("event_type") === "signup", col("ts")))
        .as("signup_t"))
      .filter(col("signup_t").isNotNull)
    val conv = firsts
      .join(e.filter(col("event_type") === "purchase")
          .select(col("user_id").as("p_uid"), col("ts").as("p_t")),
        col("user_id") === col("p_uid") && col("p_t") >= col("signup_t"))
      .groupBy(col("user_id"), col("signup_t"))
      .agg(min(col("p_t")).as("conv_t"))
      .select((expr("unix_micros(conv_t)") - expr("unix_micros(signup_t)"))
        .as("gap_us"))
    conv.agg(count(lit(1)).as("n_converted"),
      round(expr("percentile(gap_us, 0.5)") + lit(1e-9), 4).as("p50_gap_us"),
      round(expr("percentile(gap_us, 0.95)") + lit(1e-9), 4).as("p95_gap_us"),
      max(col("gap_us")).as("max_gap_us"))
  }

  val conversionLatencySql: String =
    """WITH f AS (
      |  SELECT user_id,
      |         MIN(CASE WHEN event_type = 'signup' THEN ts END) AS signup_t
      |  FROM events GROUP BY 1
      |), c AS (
      |  SELECT f.user_id, f.signup_t, MIN(p.ts) AS conv_t
      |  FROM f JOIN events p
      |    ON p.user_id = f.user_id AND p.event_type = 'purchase'
      |   AND p.ts >= f.signup_t
      |  WHERE f.signup_t IS NOT NULL
      |  GROUP BY 1, 2
      |), g AS (
      |  SELECT epoch_us(conv_t) - epoch_us(signup_t) AS gap_us FROM c
      |)
      |SELECT COUNT(*) AS n_converted,
      |       ROUND(quantile_cont(gap_us, 0.5) + 1e-9, 4) AS p50_gap_us,
      |       ROUND(quantile_cont(gap_us, 0.95) + 1e-9, 4) AS p95_gap_us,
      |       MAX(gap_us) AS max_gap_us
      |FROM g""".stripMargin

  /** Recency-decayed engagement score per user: each event's cents-value
    * halves per week of age (anchored at the corpus max timestamp), the
    * classic exponential-decay ranking restated EXACTLY — age quantized
    * to whole weeks and the decay applied as a BIGINT floor division by
    * 2^weeks, so there is no float `pow` to drift and the score is
    * order-independent (a sum of integers). Output: user, decayed score,
    * raw cents, last-seen epoch-day — the "who is active NOW" roster.
    *
    * Scale shape: the anchor is one max() aggregate broadcast back (the
    * mixture_plan 1-row CROSS pattern); scoring is a single two-phase
    * user-keyed agg.
    */
  def engagementDecay(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.events(spark, sfDir)
      .select(col("user_id"), col("ts"),
        round(col("value") * 100, 0).cast("long").as("cents"))
    val anchor = e.agg(max(expr("unix_micros(ts)")).as("max_us"))
    e.crossJoin(broadcast(anchor))
      .withColumn("age_weeks",
        expr("(max_us - unix_micros(ts)) div 604800000000"))
      .withColumn("decayed",
        expr("cents div (cast(1 as bigint) << least(age_weeks, 62))"))
      .groupBy(col("user_id"))
      .agg(sum(col("decayed")).as("score"),
        sum(col("cents")).as("cents_total"),
        max(expr("unix_micros(ts) div 86400000000")).as("last_day"))
  }

  val engagementDecaySql: String =
    """WITH a AS (SELECT MAX(epoch_us(ts)) AS max_us FROM events),
      |e AS (
      |  SELECT user_id,
      |         CAST(ROUND(value * 100, 0) AS BIGINT) AS cents,
      |         (a.max_us - epoch_us(ts)) // 604800000000 AS age_weeks,
      |         epoch_us(ts) // 86400000000 AS day
      |  FROM events CROSS JOIN a
      |)
      |SELECT user_id,
      |       CAST(SUM(cents // (1::BIGINT << CAST(LEAST(age_weeks, 62) AS INT)))
      |         AS BIGINT) AS score,
      |       CAST(SUM(cents) AS BIGINT) AS cents_total,
      |       MAX(day) AS last_day
      |FROM e GROUP BY user_id""".stripMargin

  /** Lift threshold for the co-occurrence ITEM-ITEM graph shared by
    * [[itemTriangles]] / [[itemKcore]]: keep a pair iff
    * co·U·100 > 105·na·nb (observed co-occurrence exceeds the
    * independence expectation na·nb/U by >5%) — a RELATIVE criterion,
    * because absolute co-occurrence counts scale with corpus size (the
    * probe: co≥5 keeps the complete 4,950-pair graph at every SF, while
    * lift>1.05 lands 2099/1572/309 edges at sf0.001/0.01/0.1 — structure
    * at every scale from one constant). Integer-exact: both sides are
    * products of exact counts, no ratio is ever materialized.
    */
  private val LIFT_PCT = 105

  /** Undirected item-item edge list (`ia` < `ib`, distinct) from
    * co-occurrence under [[SIM_USER_CAP]]'s power-user fence (a user with
    * d items contributes d² pairs — the quadratic zone every
    * co-occurrence pipeline caps), thinned by the [[LIFT_PCT]] lift
    * criterion. The kept-user count rides a broadcast 1-row frame (the
    * `engagement_decay` anchor pattern), so the whole build is
    * int-keyed joins + counts — one shuffle lineage, no window.
    *
    * Overflow note: co·U·100 and 105·na·nb are products of kept-user
    * counts — at 10⁹ kept users the LHS needs HUGEINT-style widening;
    * per the [[graft.ops.Graph.PrScale]] discipline that is a documented
    * rescale (drop the ·100/·105 to ·4/·5), not a silent wrap, because
    * co ≤ min(na, nb) ≤ U bounds every operand by U².
    */
  private[jobs] def liftEdges(spark: SparkSession, sfDir: String): DataFrame = {
    val ui = Tables.events(spark, sfDir)
      .select(col("user_id").as("u"),
        (regexp_extract(col("props"), "\"k\"\\s*:\\s*(-?\\d+)", 1)
          .cast("long")).as("i"))
      .filter(col("i").isNotNull)
      .distinct()
    // a cut (not cache): every consumer ([[itemTriangles]]'s
    // deg/ed/orientation branches, [[itemKcore]]'s sym union) is a
    // multi-reference, and a cache still re-prints/re-analyzes the whole
    // co-occurrence lineage per reference (measured: 613-node CARTx17
    // triangles plan uncached, 1203-node cached). The edge frame is
    // lift-thinned item-pair-bounded — model-sized, never the corpus —
    // so truncating its lineage is the [[graft.ops.Graph]] iterative
    // pattern, not a durability risk worth re-deriving per branch. The
    // cut is eager, so the scope releases `kept` once the edges exist.
    CacheScope.scoped { scope =>
      val kept = scope.cache(ui.join(
        ui.groupBy(col("u")).agg(count(lit(1)).as("deg"))
          .filter(col("deg") <= SIM_USER_CAP).select(col("u")), "u"))
      val uCount = kept.agg(count_distinct(col("u")).as("uc"))
      val sizes = kept.groupBy(col("i")).agg(count(lit(1)).as("n"))
      Handoff.cut(kept.alias("a").join(kept.alias("b"),
          col("a.u") === col("b.u") && col("a.i") < col("b.i"))
        .groupBy(col("a.i").as("ia"), col("b.i").as("ib"))
        .agg(count(lit(1)).as("co"))
        .join(sizes.select(col("i").as("ia"), col("n").as("na")), "ia")
        .join(sizes.select(col("i").as("ib"), col("n").as("nb")), "ib")
        .crossJoin(broadcast(uCount))
        .filter(col("co") * col("uc") * 100 > lit(LIFT_PCT) * col("na") * col("nb"))
        .select(col("ia"), col("ib")))
    }
  }

  /** Shared oracle CTE chain ending in `und(ia, ib)` — the lift graph.
    * `kept` and `und` are MATERIALIZED (each is diamond-referenced:
    * kept by uu/sz/co×2, und by every consumer) per the `item_hits`
    * inlining lesson.
    */
  private val liftEdgesCte: String =
    s"""ev AS (
       |  SELECT DISTINCT user_id AS u,
       |         CAST(json_extract_string(props, '$$.k') AS BIGINT) AS i
       |  FROM events
       |  WHERE json_extract_string(props, '$$.k') IS NOT NULL
       |), udeg AS (SELECT u, COUNT(*) AS d FROM ev GROUP BY u),
       |kept AS MATERIALIZED (
       |  SELECT ev.u, ev.i FROM ev JOIN udeg ON udeg.u = ev.u
       |  WHERE udeg.d <= $SIM_USER_CAP
       |), uu AS (SELECT COUNT(DISTINCT u) AS uc FROM kept),
       |sz AS (SELECT i, COUNT(*) AS n FROM kept GROUP BY i),
       |cooc AS (
       |  SELECT a.i AS ia, b.i AS ib, COUNT(*) AS co
       |  FROM kept a JOIN kept b ON a.u = b.u AND a.i < b.i
       |  GROUP BY 1, 2
       |), und AS MATERIALIZED (
       |  SELECT c.ia, c.ib
       |  FROM cooc c
       |  JOIN sz sa ON sa.i = c.ia
       |  JOIN sz sb ON sb.i = c.ib
       |  CROSS JOIN uu
       |  WHERE c.co * uc * 100 > $LIFT_PCT * sa.n * sb.n
       |)""".stripMargin

  /** Per-item triangle count + local clustering coefficient over the
    * lift graph ([[liftEdges]]) — graph cohesion for the recommendation
    * stack ([[graft.ops.Graph.triangles]]: degree-ordered orientation
    * bounds the wedge join at O(E^1.5) total candidates, heavy hitters
    * included; counts + one ppm floor division, engine-exact). Slim
    * handoff: the item-sized output is cut before the scope releases
    * the degree and orientation caches.
    */
  def itemTriangles(spark: SparkSession, sfDir: String): DataFrame =
    CacheScope.scoped { scope =>
      Handoff.cut(graft.ops.Graph.triangles(
          liftEdges(spark, sfDir).select(col("ia").as("a"), col("ib").as("b")),
          scope)
        .select(col("node").as("item_id"), col("deg"), col("tri"),
          col("lcc_ppm")))
    }

  val itemTrianglesSql: String =
    s"""WITH $liftEdgesCte,
       |nd AS (SELECT ia AS node FROM und UNION ALL SELECT ib FROM und),
       |gdeg AS MATERIALIZED (SELECT node, COUNT(*) AS deg FROM nd GROUP BY 1),
       |ed AS (
       |  SELECT e.ia AS a, e.ib AS b, da.deg AS da, db.deg AS db
       |  FROM und e
       |  JOIN gdeg da ON da.node = e.ia
       |  JOIN gdeg db ON db.node = e.ib
       |), ori AS MATERIALIZED (
       |  SELECT CASE WHEN da < db OR (da = db AND a < b) THEN a ELSE b END AS u,
       |         CASE WHEN da < db OR (da = db AND a < b) THEN b ELSE a END AS v,
       |         CASE WHEN da < db OR (da = db AND a < b) THEN db ELSE da END AS dv
       |  FROM ed
       |), wed AS (
       |  SELECT x.u AS t1, x.v AS t2, y.v AS t3
       |  FROM ori x JOIN ori y
       |    ON x.u = y.u AND (x.dv < y.dv OR (x.dv = y.dv AND x.v < y.v))
       |), tri AS (
       |  SELECT t1, t2, t3 FROM wed
       |  JOIN ori o ON o.u = wed.t2 AND o.v = wed.t3
       |), pn AS (
       |  SELECT node, COUNT(*) AS tri FROM (
       |    SELECT t1 AS node FROM tri
       |    UNION ALL SELECT t2 FROM tri
       |    UNION ALL SELECT t3 FROM tri) GROUP BY 1
       |)
       |SELECT d.node AS item_id, d.deg,
       |       CAST(COALESCE(p.tri, 0) AS BIGINT) AS tri,
       |       CAST(CASE WHEN d.deg < 2 THEN 0
       |            ELSE (2 * COALESCE(p.tri, 0) * 1000000)
       |                 // (d.deg * (d.deg - 1)) END AS BIGINT) AS lcc_ppm
       |FROM gdeg d LEFT JOIN pn p ON p.node = d.node""".stripMargin

  private[jobs] val KCORE_ITERS = 12

  /** Coreness (k-core number) per item over the lift graph — density
    * stratification for corpus curation ([[graft.ops.Graph.coreness]]:
    * the order-independent h-index fixpoint, converged-asserted, so the
    * output is exactly the degeneracy decomposition). 12 rounds covers
    * every fixture with headroom (probe: ≤ 9 including the fixpoint
    * check at sf0.1); converged extra rounds are no-ops in both engines.
    */
  def itemKcore(spark: SparkSession, sfDir: String): DataFrame = {
    val und = liftEdges(spark, sfDir)
    val sym = und.select(col("ia").as("src"), col("ib").as("dst"))
      .unionAll(und.select(col("ib").as("src"), col("ia").as("dst")))
    graft.ops.Graph.coreness(sym, iters = KCORE_ITERS)
      .select(col("node").as("item_id"), col("deg"), col("coreness"))
  }

  /** Oracle: the identical h-index recurrence, rounds unrolled — each
    * round is neighbor join → per-node DESC row_number → MAX(LEAST(r, c)).
    * Rank ties among equal values are arbitrary in BOTH engines and
    * provably don't matter: equal-valued neighbors receive a permutation
    * of the same consecutive ranks, and MAX(LEAST(r, c)) is invariant
    * under permuting ranks within an equal-value run. `sym` is
    * MATERIALIZED (referenced every round — the parquet-reopen fd
    * lesson); the value chain is linear, so per-round CTEs are not.
    */
  val itemKcoreSql: String = {
    val rounds = (1 to KCORE_ITERS).map { i =>
      s"""nb$i AS (
         |  SELECT e.dst AS node, c.c
         |  FROM sym e JOIN c${i - 1} c ON c.node = e.src
         |), rk$i AS (
         |  SELECT node, c, ROW_NUMBER() OVER (
         |    PARTITION BY node ORDER BY c DESC) AS r
         |  FROM nb$i
         |), c$i AS MATERIALIZED (
         |  SELECT node, CAST(MAX(LEAST(r, c)) AS BIGINT) AS c
         |  FROM rk$i GROUP BY node
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH $liftEdgesCte,
       |sym AS MATERIALIZED (
       |  SELECT ia AS src, ib AS dst FROM und
       |  UNION ALL SELECT ib, ia FROM und
       |), gdeg AS MATERIALIZED (
       |  SELECT dst AS node, COUNT(*) AS deg FROM sym GROUP BY 1
       |), c0 AS (SELECT node, deg AS c FROM gdeg),
       |$rounds
       |SELECT g.node AS item_id, g.deg, c.c AS coreness
       |FROM gdeg g JOIN c$KCORE_ITERS c ON c.node = g.node""".stripMargin
  }

  /** Integer-exact z-score anomaly flags on per-(type, day) event counts —
    * the monitoring primitive over the same 0-filled day×type grid as
    * [[eventDrift]]. The z² comparison restates without ANY float or
    * sqrt: z²(c) = (n·c − S)² / (n·Q − S²) with n = #days,
    * S = Σc, Q = Σc² (all exact integers), so
    * z² > 9 ⟺ (n·c − S)²·10⁶ > 9·10⁶·(n·Q − S²) — both sides BIGINT
    * products, any engine identical. Zero variance (all days equal)
    * short-circuits to z² = 0. Scale shape: one grid-fill join + two
    * type-keyed hash aggregates; nothing wider than |types|·|days| ever
    * shuffles.
    */
  def anomalyDays(spark: SparkSession, sfDir: String): DataFrame = {
    // |days|·|types|-sized; cached — grid's two DISTINCT branches and the
    // fill join all read it (uncached = three full events scans)
    val counts = Tables.events(spark, sfDir)
      .select(expr("datediff(cast(ts as date), date'1970-01-01')").as("day"),
        col("event_type"))
      .groupBy(col("day"), col("event_type"))
      .agg(count(lit(1)).as("c"))
      .cache()
    val grid = counts.select(col("day")).distinct()
      .crossJoin(counts.select(col("event_type")).distinct())
    val filled = grid.join(counts, Seq("day", "event_type"), "left")
      .select(col("day"), col("event_type"),
        coalesce(col("c"), lit(0L)).as("c"))
    val stats = filled.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("c")).as("s"),
        sum(col("c") * col("c")).as("q"), max(col("c")).as("mx"))
    // Overflow envelope, asserted on the ACTUAL data (the checkRankCeiling
    // discipline — a static worst-case bound would outlaw volumes the math
    // still handles). Every BIGINT product is safe iff, per type:
    //   n·mx ≤ ⌊√(2^63)⌋            (covers q = Σc² ≤ n·mx², s² and n·q
    //                                ≤ (n·mx)²)
    //   max(n·mx−s, s) ≤ ⌊√(2^63/10⁶)⌋  (covers (n·c−s)²·10⁶ since
    //                                c ∈ [0, mx] bounds |n·c−s|)
    // One agg over the cached |days|×|types| grid → a 1-row driver check.
    val env = stats
      .agg(max(col("n") * col("mx")).as("nmx"),
        max(greatest(col("n") * col("mx") - col("s"), col("s"))).as("dev"))
      .first()
    require(env.isNullAt(0) ||
      (env.getLong(0) <= 3037000499L && env.getLong(1) <= 3037000L),
      s"anomalyDays: per-type volume exceeds the z²·10⁶ BIGINT envelope " +
        s"(max n·mx=${env.get(0)}, max dev bound=${env.get(1)}); drop the " +
        "10⁶ ppm scale a decade per decade of per-type events")
    filled.join(stats, "event_type")
      .withColumn("z2_ppm",
        when(expr("n*q - s*s") <= 0, lit(0L))
          .otherwise(expr("((n*c - s) * (n*c - s) * 1000000) div (n*q - s*s)")))
      .select(col("day"), col("event_type"), col("c"), col("z2_ppm"),
        (col("z2_ppm") > 9000000L).as("anomaly"))
  }

  val anomalyDaysSql: String =
    """WITH counts AS (
      |  SELECT (ts::DATE - DATE '1970-01-01') AS day, event_type,
      |         COUNT(*) AS c
      |  FROM events GROUP BY 1, 2
      |), grid AS (
      |  SELECT d.day, t.event_type
      |  FROM (SELECT DISTINCT day FROM counts) d
      |  CROSS JOIN (SELECT DISTINCT event_type FROM counts) t
      |), filled AS (
      |  SELECT g.day, g.event_type, COALESCE(c.c, 0) AS c
      |  FROM grid g LEFT JOIN counts c
      |    ON c.day = g.day AND c.event_type = g.event_type
      |), stats AS (
      |  SELECT event_type, COUNT(*) AS n,
      |         CAST(SUM(c) AS BIGINT) AS s,
      |         CAST(SUM(c * c) AS BIGINT) AS q
      |  FROM filled GROUP BY 1
      |)
      |SELECT f.day, f.event_type, f.c,
      |       CAST(CASE WHEN n*q - s*s <= 0 THEN 0
      |            ELSE ((n*f.c - s) * (n*f.c - s) * 1000000) // (n*q - s*s)
      |            END AS BIGINT) AS z2_ppm,
      |       (CASE WHEN n*q - s*s <= 0 THEN 0
      |        ELSE ((n*f.c - s) * (n*f.c - s) * 1000000) // (n*q - s*s)
      |        END) > 9000000 AS anomaly
      |FROM filled f JOIN stats st ON st.event_type = f.event_type""".stripMargin

  /** First-order Markov transition matrix over per-user event sequences
    * (what follows what, with exact ppm probabilities) — the
    * next-action model behind funnel diagnosis and session simulation.
    * Sequence order is (ts, event_id) — the repo's deterministic
    * tie-break; probability is one floor division of exact counts.
    * Scale shape: one per-user window (user-keyed, high-cardinality —
    * never a global funnel), then two type-pair-keyed aggregates over a
    * |types|²-bounded frame.
    */
  def markovTransitions(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val pairs = Tables.events(spark, sfDir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("to_type", lead(col("event_type"), 1).over(w))
      .filter(col("to_type").isNotNull)
    val cnt = pairs.groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n_trans"))
    val tot = cnt.groupBy(col("from_type"))
      .agg(sum(col("n_trans")).as("total"))
    cnt.join(tot, "from_type")
      .select(col("from_type"), col("to_type"), col("n_trans"),
        expr("(n_trans * 1000000) div total").as("p_ppm"))
  }

  val markovTransitionsSql: String =
    """WITH pairs AS (
      |  SELECT event_type AS from_type,
      |         LEAD(event_type) OVER (
      |           PARTITION BY user_id ORDER BY ts, event_id) AS to_type
      |  FROM events
      |), cnt AS (
      |  SELECT from_type, to_type, COUNT(*) AS n_trans
      |  FROM pairs WHERE to_type IS NOT NULL GROUP BY 1, 2
      |), tot AS (
      |  SELECT from_type, CAST(SUM(n_trans) AS BIGINT) AS total
      |  FROM cnt GROUP BY 1
      |)
      |SELECT c.from_type, c.to_type, c.n_trans,
      |       (c.n_trans * 1000000) // t.total AS p_ppm
      |FROM cnt c JOIN tot t ON t.from_type = c.from_type""".stripMargin

  /** RFM segmentation — THE classic user-behavior deliverable: every user
    * scored 1–5 on Recency (days since last event, corpus-relative "now"),
    * Frequency (event count) and Monetary (purchase cents — integer, the
    * money rule: round(value·100 + 1e-9) BEFORE the cast so both engines
    * round the same integral double, then order-independent BIGINT sums),
    * with `segment` = r·100 + f·10 + m. Quintiles are EXACT global ranks
    * restated as score = ((rank−1)·5) div n + 1 — the same floor
    * arithmetic in both engines (SQL NTILE's first-buckets-bigger
    * remainder rule is deliberately NOT used).
    *
    * 100 TB shape: ranks are global, so they are assigned by one
    * [[graft.ops.Prefix.rank]] scan (range exchange, local sort, linear
    * pass) over the USER frame — already one aggregation smaller than
    * the event corpus; the corpus-level
    * max-day and user-count ride as 1-row broadcasts (the mixture_plan
    * pattern). Reference anchor: the UBA segmentation read the
    * reference's keyed aggregations feed (HotItem.java:60 keyed state,
    * applied to user lifetime metrics).
    */
  def rfmSegments(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val dayCol = expr("unix_micros(ts) div 86400000000")
    val perUser = ev.groupBy(col("user_id")).agg(
      max(dayCol).as("last_day"),
      count(lit(1)).as("f"),
      sum(when(col("event_type") === "purchase",
        expr("cast(round(value * 100 + 1e-9) as bigint)"))
        .otherwise(lit(0L))).as("m_cents"))
    val maxDay = ev.agg(max(dayCol).as("max_day"))
    val nUsers = perUser.agg(count(lit(1)).as("n_users"))
    val base = perUser.crossJoin(broadcast(maxDay))
      .select(col("user_id"), (col("max_day") - col("last_day")).as("r_days"),
        col("f"), col("m_cents"))
    // ONE prefix scan ranks all three metrics: explode each user into
    // (metric, sk) rows carrying its metric values, rank within metric
    // over (sk asc, user_id asc), fold the three ranks back per user
    val tall = base.select(col("user_id"), col("r_days"), col("f"),
        col("m_cents"), explode(array(
          struct(lit(0L).as("metric"), (-col("r_days")).as("sk")),
          struct(lit(1L).as("metric"), col("f").as("sk")),
          struct(lit(2L).as("metric"), col("m_cents").as("sk")))).as("m"))
      .select(col("user_id"), col("r_days"), col("f"), col("m_cents"),
        col("m.metric").as("metric"), col("m.sk").as("sk"))
    def rankOf(m: Int) = max(when(col("metric") === m, col("rank")))
    Prefix.rank(tall, Seq("metric"), Seq("sk", "user_id"), "rank")
      .groupBy(col("user_id"))
      .agg(max(col("r_days")).as("r_days"), max(col("f")).as("f"),
        max(col("m_cents")).as("m_cents"), rankOf(0).as("r_rank"),
        rankOf(1).as("f_rank"), rankOf(2).as("m_rank"))
      .crossJoin(broadcast(nUsers))
      .select(col("user_id"), col("r_days"), col("f"), col("m_cents"),
        expr("((r_rank - 1) * 5) div n_users + 1").as("r_score"),
        expr("((f_rank - 1) * 5) div n_users + 1").as("f_score"),
        expr("((m_rank - 1) * 5) div n_users + 1").as("m_score"),
        expr("(((r_rank - 1) * 5) div n_users + 1) * 100" +
          " + (((f_rank - 1) * 5) div n_users + 1) * 10" +
          " + ((m_rank - 1) * 5) div n_users + 1").as("segment"))
  }

  val rfmSegmentsSql: String =
    s"""WITH u AS (
       |  SELECT user_id,
       |         MAX(epoch_us(ts) // 86400000000) AS last_day,
       |         COUNT(*) AS f,
       |         CAST(SUM(CASE WHEN event_type = 'purchase'
       |              THEN CAST(round(value * 100 + 1e-9) AS BIGINT)
       |              ELSE 0 END) AS BIGINT) AS m_cents
       |  FROM events GROUP BY user_id
       |), m AS (SELECT MAX(epoch_us(ts) // 86400000000) AS max_day FROM events),
       |n AS (SELECT COUNT(*) AS n_users FROM u),
       |b AS (
       |  SELECT user_id, (m.max_day - last_day) AS r_days, f, m_cents
       |  FROM u CROSS JOIN m
       |), r AS (
       |  SELECT user_id, r_days, f, m_cents,
       |    ROW_NUMBER() OVER (ORDER BY -r_days ASC, user_id ASC) AS r_rank,
       |    ROW_NUMBER() OVER (ORDER BY f ASC, user_id ASC) AS f_rank,
       |    ROW_NUMBER() OVER (ORDER BY m_cents ASC, user_id ASC) AS m_rank
       |  FROM b
       |)
       |SELECT user_id, r_days, f, m_cents,
       |  CAST(((r_rank - 1) * 5) // n_users + 1 AS BIGINT) AS r_score,
       |  CAST(((f_rank - 1) * 5) // n_users + 1 AS BIGINT) AS f_score,
       |  CAST(((m_rank - 1) * 5) // n_users + 1 AS BIGINT) AS m_score,
       |  CAST((((r_rank - 1) * 5) // n_users + 1) * 100
       |       + (((f_rank - 1) * 5) // n_users + 1) * 10
       |       + ((m_rank - 1) * 5) // n_users + 1 AS BIGINT) AS segment
       |FROM r CROSS JOIN n""".stripMargin

  /** Next-event prediction eval — the [[markovTransitions]] model's
    * scorecard under the same leave-last-out temporal split as
    * [[recEval]]: the transition matrix trains on every consecutive
    * pair EXCEPT each user's final one, predicts the held-out last event
    * from its predecessor by argmax (count DESC, type ASC — the LPA
    * tie-break), and the output is the exact confusion table
    * (from, predicted, actual, n, correct). A from-state unseen in
    * training predicts NULL — counted, never dropped (coverage is part
    * of the eval). Mechanism gate, not an accuracy floor.
    *
    * Scale shape: one user-keyed window pass (cached — the train agg
    * and the holdout filter both read it), then |types|²-bounded
    * aggregates and a |types|-row broadcast-size prediction join.
    */
  def markovEval(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wAsc = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"), col("event_id"))
      .withColumn("k", row_number().over(wAsc).cast("long"))
      .withColumn("n_u",
        count(lit(1)).over(Window.partitionBy(col("user_id"))))
      .withColumn("to_type", lead(col("event_type"), 1).over(wAsc))
      .cache()
    val pred = markovArgmax(ev
      .filter(col("to_type").isNotNull && col("k") < col("n_u") - 1)
      .select(col("event_type").as("from_type"), col("to_type")))
    val holdout = ev
      .filter(col("to_type").isNotNull && col("k") === col("n_u") - 1)
      .select(col("event_type").as("from_type"), col("to_type").as("actual"))
    holdout.join(broadcast(pred), Seq("from_type"), "left")
      .groupBy(col("from_type"), col("predicted"), col("actual"))
      .agg(count(lit(1)).as("n"))
      .withColumn("correct",
        coalesce(col("predicted") === col("actual"), lit(false)))
  }

  /** Argmax next-type predictor from a (from_type, to_type) transition
    * frame — count DESC, type ASC (the LPA tie-break). Shared by
    * [[markovEval]] and the online serving twin
    * ([[graft.streaming.NextEventStream]]); |types|-row output, the
    * model is broadcast-sized by construction.
    */
  def markovArgmax(transitions: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    transitions
      .groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("c"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("from_type"))
          .orderBy(col("c").desc, col("to_type").asc)))
      .filter(col("rn") === 1)
      .select(col("from_type"), col("to_type").as("predicted"))
  }

  /** The full-log trained predictor (every consecutive pair) — what the
    * online twin serves; [[markovEval]] trains on the leave-last-out
    * subset instead, so its scorecard never scores on trained pairs.
    */
  def markovPredictor(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wAsc = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
    markovArgmax(Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"), col("event_id"))
      .withColumn("to_type", lead(col("event_type"), 1).over(wAsc))
      .filter(col("to_type").isNotNull)
      .select(col("event_type").as("from_type"), col("to_type")))
  }

  val markovEvalSql: String =
    """WITH e AS (
      |  SELECT user_id, event_type,
      |         ROW_NUMBER() OVER w AS k,
      |         COUNT(*) OVER (PARTITION BY user_id) AS n_u,
      |         LEAD(event_type) OVER w AS to_type
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
      |), tr AS (
      |  SELECT event_type AS from_type, to_type, COUNT(*) AS c
      |  FROM e WHERE to_type IS NOT NULL AND k < n_u - 1
      |  GROUP BY 1, 2
      |), pr AS (
      |  SELECT from_type, to_type AS predicted FROM (
      |    SELECT *, ROW_NUMBER() OVER (
      |      PARTITION BY from_type ORDER BY c DESC, to_type ASC) AS rn
      |    FROM tr) r
      |  WHERE rn = 1
      |), ho AS (
      |  SELECT event_type AS from_type, to_type AS actual
      |  FROM e WHERE to_type IS NOT NULL AND k = n_u - 1
      |)
      |SELECT h.from_type, p.predicted, h.actual, COUNT(*) AS n,
      |       COALESCE(p.predicted = h.actual, FALSE) AS correct
      |FROM ho h LEFT JOIN pr p ON p.from_type = h.from_type
      |GROUP BY 1, 2, 3""".stripMargin

  /** Changelog compaction to latest state — the CDC primitive every
    * event-sourced store runs (Flink's keyed ValueState upsert, Kafka's
    * compacted topic, a lakehouse MERGE): per (user, event_type), the
    * last event's id/value plus first-seen and event count, i.e. the
    * user-profile snapshot the raw log materializes to. The "last" row
    * is the (ts, event_id)-argmax — event_id is unique, so the tie-break
    * is total and the row deterministic; first/count are order-
    * insensitive, so the streaming twin ([[graft.streaming.ProfileStream]])
    * needs no watermark buffering to agree bit-for-bit.
    *
    * 100 TB shape: ONE user-keyed exchange; the rank filter is
    * WindowGroupLimit (each task keeps ≤ 1 row per key BEFORE the
    * shuffle, so late-arriving reprocessing never re-shuffles the full
    * log), and the two window aggregates ride the same sort. Timestamps
    * emit as epoch micros (exact integers in both engines).
    */
  def latestState(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"), col("event_type"))
    val wOrd = w.orderBy(col("us").desc, col("event_id").desc)
    Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"), col("event_id"), col("value"))
      .withColumn("rn", row_number().over(wOrd))
      .withColumn("n_events", count(lit(1)).over(w))
      .withColumn("first_us", min(col("us")).over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_type"), col("first_us"),
        col("us").as("last_us"), col("event_id").as("last_event_id"),
        col("value").as("last_value"), col("n_events"))
  }

  val latestStateSql: String =
    """SELECT user_id, event_type, first_us, us AS last_us,
      |       event_id AS last_event_id, value AS last_value,
      |       CAST(n_events AS BIGINT) AS n_events
      |FROM (
      |  SELECT user_id, event_type, epoch_us(ts) AS us, event_id, value,
      |         ROW_NUMBER() OVER (PARTITION BY user_id, event_type
      |           ORDER BY ts DESC, event_id DESC) AS rn,
      |         COUNT(*) OVER (PARTITION BY user_id, event_type) AS n_events,
      |         MIN(epoch_us(ts)) OVER (PARTITION BY user_id, event_type)
      |           AS first_us
      |  FROM events) w
      |WHERE rn = 1""".stripMargin

  private[jobs] val REACH_HOPS = 4

  /** Seed-cohort sparsity for [[graphReach]]: a 1/29 hash-designated user
    * subset. In production the seed list is external (labeled accounts,
    * a fraud list, a marketing cohort); the hash stand-in keeps it
    * deterministic and scale-free — probed NON-degenerate (multi-level
    * BFS) at every fixture SF, where "all purchasers" saturated at hop 1.
    */
  private val REACH_SEED_MOD = 29L

  /** Multi-source BFS reach from a designated seed cohort — "how far
    * does the cohort's influence propagate through the interaction
    * graph": every node within 4 hops of a seed user gets its exact hop
    * distance ([[graft.ops.Graph.hopDistances]]: min-propagation,
    * integer-exact, regime-selected like the PageRank family). Hop 1 =
    * items the cohort touches, 2 = their co-users, 3/4 = the discovery
    * frontier — the cohort-expansion / blast-radius primitive beside
    * [[itemPpr]]'s weighted proximity.
    */
  def graphReach(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select((col("user_id") * 2).as("u"),
        (regexp_extract(col("props"), "\"k\"\\s*:\\s*(-?\\d+)", 1)
          .cast("long") * 2 + 1).as("it"))
      .filter(col("it").isNotNull)
    val edges = ev.select(col("u").as("src"), col("it").as("dst"))
      .unionAll(ev.select(col("it").as("src"), col("u").as("dst")))
    val seeds = Tables.events(spark, sfDir)
      .filter(Dedup.md5Long(col("user_id").cast("string"))
        % REACH_SEED_MOD === 0)
      .select((col("user_id") * 2).as("seed"))
    graft.ops.Graph.hopDistances(edges, seeds, maxHops = REACH_HOPS)
      .select(
        when(col("node") % 2 === 0, "user").otherwise("item").as("node_kind"),
        expr("node div 2").as("node_id"),
        col("dist"))
  }

  /** Oracle: the BFS levels unrolled — per hop, frontier⨝edges minus the
    * settled set. Settled sets are diamond-referenced (next frontier's
    * NOT IN + the union chain), so they MATERIALIZE per the round-11
    * rule; frontiers are referenced once each.
    */
  val graphReachSql: String = {
    val rounds = (1 to REACH_HOPS).map { i =>
      s"""n$i AS (
         |  SELECT DISTINCT e.dst AS node
         |  FROM edges e JOIN n${i - 1} f ON f.node = e.src
         |  WHERE e.dst NOT IN (SELECT node FROM d${i - 1})
         |), d$i AS MATERIALIZED (
         |  SELECT node, d FROM d${i - 1}
         |  UNION ALL SELECT node, $i AS d FROM n$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH ev AS (
       |  SELECT user_id * 2 AS u,
       |         CAST(json_extract_string(props, '$$.k') AS BIGINT) * 2 + 1 AS it
       |  FROM events
       |  WHERE json_extract_string(props, '$$.k') IS NOT NULL
       |), e0 AS (SELECT DISTINCT u, it FROM ev),
       |edges AS MATERIALIZED (SELECT u AS src, it AS dst FROM e0
       |          UNION ALL SELECT it, u FROM e0),
       |nodes AS (SELECT DISTINCT src AS node FROM edges),
       |seeds AS (SELECT DISTINCT user_id * 2 AS node FROM events
       |          WHERE ${OracleSql.hexIntSql("user_id::VARCHAR")}
       |                % $REACH_SEED_MOD = 0),
       |d0 AS MATERIALIZED (
       |  SELECT n.node, 0 AS d FROM nodes n JOIN seeds s ON s.node = n.node),
       |n0 AS (SELECT node FROM d0),
       |$rounds
       |SELECT CASE WHEN node % 2 = 0 THEN 'user' ELSE 'item' END AS node_kind,
       |       node // 2 AS node_id, CAST(d AS BIGINT) AS dist
       |FROM d$REACH_HOPS""".stripMargin
  }

  /** SCD Type-2 state history — the temporal-table sibling of
    * [[latestState]]: per user, consecutive runs of the same event type
    * compact into versioned validity intervals (valid_from/valid_to,
    * open interval NULL-terminated) — the "what was the user's state at
    * time T" table a warehouse MERGEs; here derived exactly from the log
    * in one pass. Gaps-and-islands: a change bit (lag ≠ current) cumsums
    * into a run id under the deterministic (us, event_id) order;
    * versions are per-user run ordinals. Probed non-degenerate: ~20% of
    * fixture events are consecutive repeats, so compaction binds.
    *
    * 100 TB shape: ONE user-keyed exchange; both windows and the run
    * aggregation ride the same partitioning (user → (user, run) is a
    * prefix refinement), and the valid_to lead runs on the run-sized
    * frame, not the event log.
    */
  def stateHistory(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wOrd = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
    val runs = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"), col("event_id"))
      .withColumn("chg",
        when(lag(col("event_type"), 1).over(wOrd).isNull ||
          lag(col("event_type"), 1).over(wOrd) =!= col("event_type"), 1L)
          .otherwise(0L))
      .withColumn("run", sum(col("chg")).over(
        wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val hist = runs.groupBy(col("user_id"), col("run"))
      .agg(max(col("event_type")).as("state"), // constant within a run
        min(col("us")).as("valid_from_us"),
        count(lit(1)).as("n_events"))
    hist
      .withColumn("valid_to_us", lead(col("valid_from_us"), 1).over(
        Window.partitionBy(col("user_id")).orderBy(col("run"))))
      .select(col("user_id"), col("run").as("version"), col("state"),
        col("valid_from_us"), col("valid_to_us"), col("n_events"))
  }

  val stateHistorySql: String =
    """WITH e AS (
      |  SELECT user_id, event_type, epoch_us(ts) AS us, event_id
      |  FROM events
      |), c AS (
      |  SELECT *,
      |    CASE WHEN LAG(event_type) OVER w IS NULL
      |           OR LAG(event_type) OVER w <> event_type
      |         THEN 1 ELSE 0 END AS chg
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
      |), r AS (
      |  SELECT *, CAST(SUM(chg) OVER (PARTITION BY user_id
      |    ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run
      |  FROM c
      |), h AS (
      |  SELECT user_id, run, MAX(event_type) AS state,
      |         MIN(us) AS valid_from_us, COUNT(*) AS n_events
      |  FROM r GROUP BY 1, 2
      |)
      |SELECT user_id, run AS version, state, valid_from_us,
      |       LEAD(valid_from_us) OVER (
      |         PARTITION BY user_id ORDER BY run) AS valid_to_us,
      |       CAST(n_events AS BIGINT) AS n_events
      |FROM h""".stripMargin

  private[jobs] val CHEAP_ROUNDS = 6

  /** Weighted cheapest connection cost from the [[graphReach]] seed
    * cohort — the cost-aware sibling of the hop BFS: edge cost
    * 10⁶ div cnt falls with interaction count, so a strong two-hop
    * connection can beat a weak direct one, which is exactly what hop
    * counting cannot express ([[graft.ops.Graph.minPlusDistances]]:
    * integer min-plus relaxation, ≤ 6-edge paths, engine-exact,
    * regime-selected). The edge aggregation collapses the event log to
    * distinct weighted pairs in one shuffle before any round runs.
    */
  def cheapestPath(spark: SparkSession, sfDir: String): DataFrame = {
    val pairs = Tables.events(spark, sfDir)
      .select((col("user_id") * 2).as("u"),
        (regexp_extract(col("props"), "\"k\"\\s*:\\s*(-?\\d+)", 1)
          .cast("long") * 2 + 1).as("it"))
      .filter(col("it").isNotNull)
      .groupBy(col("u"), col("it")).agg(count(lit(1)).as("cnt"))
      .withColumn("w", expr("1000000 div cnt"))
    val edges = pairs.select(col("u").as("src"), col("it").as("dst"), col("w"))
      .unionAll(pairs.select(col("it").as("src"), col("u").as("dst"),
        col("w")))
    val seeds = Tables.events(spark, sfDir)
      .filter(Dedup.md5Long(col("user_id").cast("string"))
        % REACH_SEED_MOD === 0)
      .select((col("user_id") * 2).as("seed"))
    graft.ops.Graph.minPlusDistances(edges, seeds, rounds = CHEAP_ROUNDS)
      .select(
        when(col("node") % 2 === 0, "user").otherwise("item").as("node_kind"),
        expr("node div 2").as("node_id"),
        col("cost"))
  }

  /** Oracle: the min-plus rounds unrolled — per round a dst-keyed MIN
    * over relaxed costs, merged by FULL OUTER + LEAST. Settled frames
    * are diamond-referenced → MATERIALIZED (round-11 rule).
    */
  val cheapestPathSql: String = {
    val INF = Long.MaxValue
    val rounds = (1 to CHEAP_ROUNDS).map { i =>
      s"""c$i AS (
         |  SELECT e.dst AS node, MIN(d.c + e.w) AS cand
         |  FROM edges e JOIN d${i - 1} d ON d.node = e.src
         |  GROUP BY 1
         |), d$i AS MATERIALIZED (
         |  SELECT COALESCE(d.node, c.node) AS node,
         |         LEAST(COALESCE(d.c, ${INF}::BIGINT),
         |               COALESCE(c.cand, ${INF}::BIGINT)) AS c
         |  FROM d${i - 1} d FULL OUTER JOIN c$i c ON c.node = d.node)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH ev AS (
       |  SELECT user_id * 2 AS u,
       |         CAST(json_extract_string(props, '$$.k') AS BIGINT) * 2 + 1 AS it
       |  FROM events
       |  WHERE json_extract_string(props, '$$.k') IS NOT NULL
       |), pc AS (SELECT u, it, COUNT(*) AS cnt FROM ev GROUP BY 1, 2),
       |pw AS (SELECT u, it, CAST(1000000 // cnt AS BIGINT) AS w FROM pc),
       |edges AS MATERIALIZED (SELECT u AS src, it AS dst, w FROM pw
       |          UNION ALL SELECT it, u, w FROM pw),
       |nodes AS (SELECT DISTINCT src AS node FROM edges),
       |seeds AS (SELECT DISTINCT user_id * 2 AS node FROM events
       |          WHERE ${OracleSql.hexIntSql("user_id::VARCHAR")}
       |                % $REACH_SEED_MOD = 0),
       |d0 AS MATERIALIZED (
       |  SELECT n.node, 0::BIGINT AS c FROM nodes n
       |  JOIN seeds s ON s.node = n.node),
       |$rounds
       |SELECT CASE WHEN node % 2 = 0 THEN 'user' ELSE 'item' END AS node_kind,
       |       node // 2 AS node_id, CAST(c AS BIGINT) AS cost
       |FROM d$CHEAP_ROUNDS""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "cheapest_path" -> cheapestPath,
    "state_history" -> stateHistory,
    "rec_eval" -> recEval,
    "markov_eval" -> markovEval,
    "rec_coverage" -> recCoverage,
    "latest_state" -> latestState,
    "graph_reach" -> graphReach,
    "rfm_segments" -> rfmSegments,
    "session_entries" -> sessionEntries,
    "item_conversion" -> itemConversion,
    "basket_pairs" -> basketPairs,
    "ab_metrics" -> abMetrics,
    "item_triangles" -> itemTriangles,
    "item_kcore" -> itemKcore,
    "anomaly_days" -> anomalyDays,
    "markov_transitions" -> markovTransitions,
    "item_recs" -> itemRecs,
    "engagement_decay" -> engagementDecay,
    "conversion_latency" -> conversionLatency,
    "rolling_uniques_approx" -> rollingUniquesApprox,
    "item_ppr" -> itemPpr,
    "item_hits" -> itemHits,
    "item_similarity" -> itemSimilarity,
    "item_communities" -> itemCommunities,
    "partition_manifest" -> partitionManifest,
    "rolling_uniques" -> rollingUniques,
    "salted_join" -> saltedJoinAgg,
    "item_pagerank" -> itemPagerank,
    "event_drift" -> eventDrift,
    "salted_agg" -> saltedAgg,
    "session_agg" -> sessionAgg,
    "cube_agg" -> cubeAgg,
    "pivot_agg" -> pivotAgg,
    "set_ops" -> setOps,
    "window_analytics" -> windowAnalytics,
    "percentile_stats" -> percentileStats,
    "approx_percentile_stats" -> approxPercentileStats,
    "approx_distinct" -> approxDistinct,
    "event_props" -> eventProps,
    "event_paths" -> eventPaths,
    "session_paths" -> sessionPaths,
    "value_histogram" -> valueHistogram)

  val oracles: Map[String, String] = Map(
    "cheapest_path" -> cheapestPathSql,
    "state_history" -> stateHistorySql,
    "rec_eval" -> recEvalSql,
    "markov_eval" -> markovEvalSql,
    "rec_coverage" -> recCoverageSql,
    "latest_state" -> latestStateSql,
    "graph_reach" -> graphReachSql,
    "rfm_segments" -> rfmSegmentsSql,
    "session_entries" -> sessionEntriesSql,
    "item_conversion" -> itemConversionSql,
    "basket_pairs" -> basketPairsSql,
    "ab_metrics" -> abMetricsSql,
    "item_triangles" -> itemTrianglesSql,
    "item_kcore" -> itemKcoreSql,
    "anomaly_days" -> anomalyDaysSql,
    "markov_transitions" -> markovTransitionsSql,
    "item_recs" -> itemRecsSql,
    "item_pagerank" -> itemPagerankSql,
    "salted_join" -> saltedJoinAggSql,
    "rolling_uniques" -> rollingUniquesSql,
    "partition_manifest" -> partitionManifestSql,
    "item_ppr" -> itemPprSql,
    "item_hits" -> itemHitsSql,
    "item_similarity" -> itemSimilaritySql,
    "item_communities" -> itemCommunitiesSql,
    "rolling_uniques_approx" -> rollingUniquesApproxSql,
    "conversion_latency" -> conversionLatencySql,
    "engagement_decay" -> engagementDecaySql,
    "event_drift" -> eventDriftSql,
    "salted_agg" -> saltedAggSql,
    "event_props" -> eventPropsSql,
    "event_paths" -> eventPathsSql,
    "session_paths" -> sessionPathsSql,
    "value_histogram" -> valueHistogramSql,
    "session_agg" -> sessionAggSql,
    "cube_agg" -> cubeAggSql,
    "pivot_agg" -> pivotAggSql,
    "set_ops" -> setOpsSql,
    "window_analytics" -> windowAnalyticsSql,
    "percentile_stats" -> percentileStatsSql,
    "approx_percentile_stats" -> approxPercentileStatsSql,
    "approx_distinct" -> approxDistinctSql)
}
