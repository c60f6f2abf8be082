package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.Sources
import graft.model._
import graft.ops.{SlidingWindows, TopN}
import graft.streaming.{OrderTimeoutStream, TxMatchStream}

/** The reference's seven mains as library compositions over its own
  * CSV/log file formats — a user of stillcoolme/flink-uba points these at
  * the same files and gets the same outputs (SURVEY.md §3).
  *
  * Batch forms return DataFrames (print with Sinks.printSink); streaming
  * forms take the same inputs as unbounded sources. Every composition
  * reuses the ops layer — nothing here defines new semantics.
  */
object ReferenceJobs {

  /** HotItems (`HotItem.java` / `HotItems.scala` §3.1): top-5 items per
    * 1h/5min sliding window over pv events.
    */
  def hotItems(spark: SparkSession, userBehaviorCsv: String, topSize: Int = 5)
      : DataFrame = {
    val events = Sources.userBehaviorCsv(spark, userBehaviorCsv).toDF()
      .filter(col("behavior") === "pv")
    val counts = SlidingWindows.slidingCount(
      events, col("itemId"), col("ts"), "1 hour", "5 minutes", "itemId")
    TopN.topNPer(counts, col("window_end"), col("cnt"), col("itemId"), topSize)
  }

  /** HotItemWithSql (`HotItemWithSql.java` §3.2): identical result through
    * the SQL surface (temp view + window() + ROW_NUMBER).
    */
  def hotItemsSql(spark: SparkSession, userBehaviorCsv: String, topSize: Int = 5)
      : DataFrame = {
    // scoped view name: a bare "user_behavior" would be session-global
    // state colliding with any caller's own registration; `spark.sql`
    // analyzes eagerly, so the view is dropped as soon as it returns
    val view = "graft_ref_user_behavior"
    Sources.userBehaviorCsv(spark, userBehaviorCsv).toDF()
      .createOrReplaceTempView(view)
    try spark.sql(
      s"""SELECT window_end, itemId, cnt, rn FROM (
         |  SELECT *, ROW_NUMBER() OVER (
         |    PARTITION BY window_end ORDER BY cnt DESC, itemId ASC) AS rn
         |  FROM (
         |    SELECT itemId, unix_timestamp(window.end) AS window_end,
         |           COUNT(*) AS cnt
         |    FROM $view WHERE behavior = 'pv'
         |    GROUP BY itemId, window(ts, '1 hour', '5 minutes'))) t
         |WHERE rn <= $topSize""".stripMargin)
    finally spark.catalog.dropTempView(view)
  }

  /** HotPages (`HotPages.java`): top-N urls per 10min/5s window over GET
    * requests, static resources dropped (F2/F3).
    */
  def hotPages(spark: SparkSession, apacheLog: String, topSize: Int = 3)
      : DataFrame = {
    val events = Sources.apacheLog(spark, apacheLog).toDF()
      .filter(col("method") === "GET")
      .filter(!col("url").rlike("\\.(css|js|png|ico)$"))
    val counts = SlidingWindows.slidingCount(
      events, col("url"), col("ts"), "10 minutes", "5 seconds", "url")
    TopN.topNPer(counts, col("window_end"), col("cnt"), col("url"), topSize)
  }

  /** OrderPayTimeout / OrderPayTimeoutWithoutCEP (§2.9 X3, §2.11 C1):
    * batch classification; streaming variant = OrderTimeoutStream.detect.
    */
  def orderPayTimeout(spark: SparkSession, orderLogCsv: String): DataFrame = {
    val orders = Sources.orderEventCsv(spark, orderLogCsv).toDF()
    val deadline = expr("INTERVAL 15 MINUTES")
    orders.groupBy(col("orderId"))
      .agg(
        min(when(col("eventType") === "create", col("ts"))).as("create_t"),
        min(when(col("eventType") === "pay", col("ts"))).as("pay_t"))
      .select(col("orderId"),
        when(col("create_t").isNull && col("pay_t").isNotNull,
            "payed but not found created")
          .when(col("pay_t").isNull, "timeout")
          .when(col("pay_t") <= col("create_t") + deadline, "payed successfully")
          .otherwise("payed but already timeout").as("resultState"))
  }

  /** TxPayMatch (§2.9 X4): reconciliation with tagged side outputs; batch
    * oracle form (streaming = TxMatchStream.detect on the same sources).
    */
  def txPayMatch(spark: SparkSession, orderLogCsv: String, receiptLogCsv: String)
      : DataFrame = {
    val pays = Sources.orderEventCsv(spark, orderLogCsv).toDF()
      .filter(col("txId") =!= "")
      .select(col("txId"), col("orderId"), col("ts").as("pay_ts"))
    val receipts = Sources.receiptEventCsv(spark, receiptLogCsv).toDF()
      .select(col("txId").as("r_txid"), col("payChannel"),
        col("ts").as("receipt_ts"))
    val matched = pays.join(receipts, col("txId") === col("r_txid"))
      .select(col("txId"), lit("matched").as("tag"),
        col("pay_ts"), col("receipt_ts"))
    val lonelyPays = pays.join(receipts, col("txId") === col("r_txid"), "left_anti")
      .select(col("txId"), lit("unmatched_pay").as("tag"),
        col("pay_ts"), lit(null).cast("timestamp").as("receipt_ts"))
    val lonelyReceipts = receipts
      .join(pays, col("txId") === col("r_txid"), "left_anti")
      .select(col("r_txid").as("txId"), lit("unmatched_receipt").as("tag"),
        lit(null).cast("timestamp").as("pay_ts"), col("receipt_ts"))
    matched.unionByName(lonelyPays).unionByName(lonelyReceipts)
  }

  /** TxPayMatchByJoin (§2.10 J2): the interval-join variant
    * (receipt within [pay − 3 s, pay + 5 s]).
    */
  def txPayMatchByJoin(spark: SparkSession, orderLogCsv: String,
      receiptLogCsv: String): DataFrame = {
    val pays = Sources.orderEventCsv(spark, orderLogCsv).toDF()
      .filter(col("txId") =!= "")
      .select(col("txId"), col("ts").as("pay_ts"))
    val receipts = Sources.receiptEventCsv(spark, receiptLogCsv).toDF()
      .select(col("txId").as("r_txid"), col("ts").as("receipt_ts"))
    pays.join(receipts,
      col("txId") === col("r_txid") &&
        col("receipt_ts") >= col("pay_ts") - expr("INTERVAL 3 SECONDS") &&
        col("receipt_ts") <= col("pay_ts") + expr("INTERVAL 5 SECONDS"))
      .select(col("txId"), col("pay_ts"), col("receipt_ts"))
  }
}
