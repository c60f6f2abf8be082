package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.model.{OrderEvent, ReceiptEvent}
import graft.streaming._

/** Streaming-semantics tests: MemoryStream drives watermarks, timers, and
  * late data deterministically (SURVEY.md §5 item 3).
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(sec: Long) = new Timestamp(sec * 1000L)

  private def runToMemory(df: org.apache.spark.sql.DataFrame, name: String,
      mode: String = "append"): StreamingQuery =
    df.writeStream.format("memory").queryName(name).outputMode(mode).start()

  test("X3 order timeout machine: all four outcome branches") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[OrderEvent]
    val q = runToMemory(
      OrderTimeoutStream.detect(in.toDS(), deadlineMs = 900 * 1000L).toDF(),
      "order_results")
    try {
      in.addData(
        OrderEvent(1, "create", "t1", ts(10)), OrderEvent(1, "pay", "t1", ts(60)),
        OrderEvent(2, "create", "t2", ts(10)), OrderEvent(2, "pay", "t2", ts(1000)),
        OrderEvent(3, "create", "", ts(10)),
        OrderEvent(4, "pay", "t4", ts(10)))
      q.processAllAvailable()
      // advance the watermark far past every armed timer
      in.addData(OrderEvent(99, "create", "", ts(5000)))
      q.processAllAvailable()
      val got = spark.table("order_results")
        .as[graft.model.OrderResult].collect()
        .map(r => r.orderId -> r.resultState).toMap
      assert(got(1L) == "payed successfully")
      assert(got(2L) == "payed but already timeout")
      assert(got(3L) == "timeout")
      assert(got(4L) == "payed but not found created")
    } finally q.stop()
  }

  test("X3 handles out-of-order pay-before-create in one batch") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[OrderEvent]
    val q = runToMemory(
      OrderTimeoutStream.detect(in.toDS(), deadlineMs = 900 * 1000L).toDF(),
      "order_results_ooo")
    try {
      // pay arrives before create (same batch, shuffled order)
      in.addData(OrderEvent(7, "pay", "t7", ts(100)),
        OrderEvent(7, "create", "t7", ts(40)))
      q.processAllAvailable()
      // a stale deadline timer must NOT re-emit for the resolved order
      in.addData(OrderEvent(99, "create", "", ts(5000)))
      q.processAllAvailable()
      val got = spark.table("order_results_ooo")
        .as[graft.model.OrderResult].collect()
      assert(got.map(r => r.orderId -> r.resultState).toMap ==
        Map(7L -> "payed successfully"))
      assert(got.length == 1)
    } finally q.stop()
  }

  test("X4 tx reconciliation: matched pair + asymmetric lonely-side flush") {
    implicit val sqlCtx = spark.sqlContext
    val pays = MemoryStream[OrderEvent]
    val receipts = MemoryStream[ReceiptEvent]
    val q = runToMemory(
      TxMatchStream.detect(pays.toDS(), receipts.toDS()).toDF(), "tx_results")
    try {
      pays.addData(OrderEvent(10, "pay", "A", ts(10)), OrderEvent(11, "pay", "B", ts(15)))
      receipts.addData(ReceiptEvent("A", "wechat", ts(12)), ReceiptEvent("C", "alipay", ts(20)))
      q.processAllAvailable()
      pays.addData(OrderEvent(99, "pay", "Z", ts(1000))) // advance watermark
      receipts.addData(ReceiptEvent("Z", "wechat", ts(1000)))
      q.processAllAvailable()
      val got = spark.table("tx_results").as[TxMatchStream.TxResult].collect()
      val byTag = got.groupBy(_.tag).view.mapValues(_.map(_.txId).toSet).toMap
      assert(byTag("matched").contains("A"))
      assert(byTag("unmatched_pay") == Set("B"))
      assert(byTag("unmatched_receipt") == Set("C"))
    } finally q.stop()
  }

  test("X2 MapState top-N: late upsert absorbed within lateness, then emit+clear") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[TopNState.KeyedCount]
    val q = runToMemory(
      TopNState.topN(in.toDS(), n = 2, latenessMs = 60 * 1000L).toDF(),
      "topn_results")
    try {
      in.addData(
        TopNState.KeyedCount(10000, "/a", 5),
        TopNState.KeyedCount(10000, "/b", 3),
        TopNState.KeyedCount(10000, "/c", 1))
      q.processAllAvailable()
      // watermark lags by lateness: rows at 10000 still accepted here,
      // and the window has not emitted yet
      in.addData(TopNState.KeyedCount(20000, "/x", 1))
      q.processAllAvailable()
      assert(spark.table("topn_results").count() == 0)
      // late refinement inside the budget: /b upserted 3 → 7
      in.addData(TopNState.KeyedCount(10000, "/b", 7))
      q.processAllAvailable()
      // advance far past windowEnd + lateness → emit refined ranking
      in.addData(TopNState.KeyedCount(200000, "/y", 1))
      q.processAllAvailable()
      val got = spark.table("topn_results").as[TopNState.RankedRow].collect()
        .filter(_.windowEnd == 10000).sortBy(_.rank)
        .map(r => (r.rank, r.key, r.cnt)).toSeq
      assert(got == Seq((1, "/b", 7L), (2, "/a", 5L))) // upsert, not append
    } finally q.stop()
  }

  test("C1 CEP-lite: sequence match and within-timeout demux") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[CepLite.KeyedEvent]
    val q = runToMemory(
      CepLite.detect(in.toDS(), Seq("create", "pay"), withinMs = 900 * 1000L).toDF(),
      "cep_results")
    try {
      in.addData(
        CepLite.KeyedEvent(1, "create", 1000), CepLite.KeyedEvent(1, "pay", 60000),
        CepLite.KeyedEvent(2, "create", 1000),
        CepLite.KeyedEvent(3, "other", 1000), CepLite.KeyedEvent(3, "create", 1500),
        CepLite.KeyedEvent(3, "noise", 2000), CepLite.KeyedEvent(3, "pay", 3000))
      q.processAllAvailable()
      in.addData(CepLite.KeyedEvent(99, "other", 5000 * 1000L))
      q.processAllAvailable()
      val got = spark.table("cep_results").as[CepLite.CepMatch].collect()
      val byKey = got.map(m => m.key -> m.tag).toMap
      assert(byKey(1L) == "matched")
      assert(byKey(2L) == "timeout")
      assert(byKey(3L) == "matched") // relaxed contiguity skips noise
    } finally q.stop()
  }

  test("C1 CEP-lite state decodes without a collection") {
    // a collection field decodes through MapObjects, whose lambda-variable
    // id grows every micro-batch, so the state's projections would compile
    // anew on each batch
    import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
    import org.apache.spark.sql.catalyst.expressions.objects.MapObjects
    val dec = ExpressionEncoder[CepLite.CepState]().objDeserializer
    assert(dec.collectFirst { case m: MapObjects => m }.isEmpty, dec.toString)
  }

  test("deadline machines key by column: no AppendColumns, no typed tag map") {
    // a lambda key (`groupByKey`) plans an AppendColumns that deserializes
    // every event and compiles its own key and joiner classes per query
    import org.apache.spark.sql.catalyst.plans.logical.{AppendColumns, MapElements}
    implicit val sqlCtx = spark.sqlContext
    val orders = MemoryStream[OrderEvent]
    val receipts = MemoryStream[ReceiptEvent]
    val events = MemoryStream[CepLite.KeyedEvent]
    val plans = Map(
      "order" -> OrderTimeoutStream.detect(orders.toDS()),
      "tx" -> TxMatchStream.detect(orders.toDS(), receipts.toDS()),
      "cep" -> CepLite.detect(events.toDS(), Seq("create", "pay"), 1000L))
      .map { case (k, ds) => k -> ds.queryExecution.analyzed }
    plans.foreach { case (k, p) =>
      assert(p.collectFirst { case a: AppendColumns => a }.isEmpty,
        s"$k:\n$p")
    }
    assert(plans("tx").collectFirst { case m: MapElements => m }.isEmpty,
      plans("tx").toString)
  }

  test("J2 stream-stream interval join buffers and matches within bounds") {
    implicit val sqlCtx = spark.sqlContext
    val pays = MemoryStream[OrderEvent]
    val receipts = MemoryStream[ReceiptEvent]
    val p = pays.toDF().select($"txId".as("p_txid"), $"ts".as("p_ts"))
    val r = receipts.toDF().select($"txId".as("r_txid"), $"ts".as("r_ts"))
    val joined = StreamingJoins.intervalJoin(
      p, r, "p_txid", "r_txid", "p_ts", "r_ts", -3, 5)
    val q = runToMemory(joined, "ij_results")
    try {
      pays.addData(OrderEvent(1, "pay", "A", ts(100)), OrderEvent(2, "pay", "B", ts(200)))
      receipts.addData(
        ReceiptEvent("A", "wechat", ts(103)),  // inside [-3, +5]
        ReceiptEvent("B", "alipay", ts(210)))  // outside
      q.processAllAvailable()
      val got = spark.table("ij_results").select($"p_txid").as[String].collect()
      assert(got.toSeq == Seq("A"))
    } finally q.stop()
  }

  test("W1 streaming sliding count emits closed windows only (append mode)") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[graft.model.Event]
    val counts = StreamingWindows.slidingCount(
      in.toDF(), $"event_type", "ts", "10 minutes", "5 minutes", "0 seconds")
    val q = runToMemory(counts, "w1_results")
    try {
      in.addData(
        graft.model.Event(1, ts(60), 1, "view", 1.0, "{}"),
        graft.model.Event(2, ts(120), 2, "view", 1.0, "{}"))
      q.processAllAvailable()
      assert(spark.table("w1_results").count() == 0) // window still open
      in.addData(graft.model.Event(3, ts(2000), 3, "view", 1.0, "{}"))
      q.processAllAvailable()
      val got = spark.table("w1_results")
        .select($"key", $"window_end", $"cnt")
        .as[(String, Long, Long)].collect().toSet
      // events at 60s & 120s live in windows ending at 300s and 600s
      assert(got == Set(("view", 300L, 2L), ("view", 600L, 2L)))
    } finally q.stop()
  }

  test("streaming session windows merge within gap, close at watermark") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[graft.model.Event]
    val sessions = StreamingWindows.sessionCount(
      in.toDF(), $"user_id", "ts", "30 minutes", "0 seconds")
    val q = runToMemory(sessions, "session_results")
    try {
      in.addData(
        graft.model.Event(1, ts(100), 7, "view", 1.0, "{}"),
        graft.model.Event(2, ts(700), 7, "view", 1.0, "{}"),   // same session
        graft.model.Event(3, ts(100), 8, "view", 1.0, "{}"))
      q.processAllAvailable()
      assert(spark.table("session_results").count() == 0) // sessions open
      // watermark jump: both sessions close (gap = 1800s past last event)
      in.addData(graft.model.Event(4, ts(9000), 9, "view", 1.0, "{}"))
      q.processAllAvailable()
      val got = spark.table("session_results")
        .select($"key", $"session_start", $"session_end", $"n_events")
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(got == Set(
        (7L, 100L, 2500L, 2L),  // merged: 100..700, end = 700 + 1800
        (8L, 100L, 1900L, 1L)))
    } finally q.stop()
  }
}
