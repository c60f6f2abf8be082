package graft

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, Encoder}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.model.{OrderEvent, ReceiptEvent}
import graft.streaming.{CepLite, OrderTimeoutStream, TxMatchStream}

/** Integration: unbounded file-source replay of the whole events table
  * through the stateful layer (S1 streaming replay), and exactly-once
  * checkpoint recovery across a query restart for each of the reference's
  * three keyed state machines (order timeout, tx match, CEP), with the
  * state each machine leaves in its checkpoint read back through Spark's
  * state data source.
  */
class StreamingIntegrationSpec extends SparkSpec {
  import spark.implicits._

  test("file-source replay: 10k-event stream through the order machine " +
      "matches the batch classification") {
    val sfd = sf("sf0.01")
    // file streaming sources need a directory: symlink the table in
    val dir = Files.createTempDirectory("graft_stream_src")
    Files.createSymbolicLink(dir.resolve("events.parquet"),
      java.nio.file.Paths.get(s"$sfd/events.parquet"))
    // events parquet → OrderEvent stream (signup≈create, purchase≈pay);
    // schema must be the RAW file schema, converted after the scan exactly
    // like Tables.events (which dispatches on the shipped ts dtype)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val rawSchema = spark.read.parquet(s"$sfd/events.parquet").schema
    val tsConv =
      if (rawSchema("ts").dataType == org.apache.spark.sql.types.LongType)
        expr("timestamp_micros(ts div 1000)")
      else $"ts".cast("timestamp")
    val stream = spark.readStream.schema(rawSchema)
      .parquet(dir.toString)
      .withColumn("ts", tsConv)
      .filter($"event_type".isin("signup", "purchase"))
      .select($"user_id".as("orderId"),
        when($"event_type" === "signup", "create").otherwise("pay").as("eventType"),
        lit("tx").as("txId"), $"ts")
      .as[OrderEvent]
    val q = OrderTimeoutStream.detect(stream).toDF()
      .writeStream.format("memory").queryName("replay_orders")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val streaming = spark.table("replay_orders")
        .groupBy($"resultState").count().as[(String, Long)].collect().toMap
      // batch oracle: first-create/first-pay conditional aggregation,
      // restricted to keys whose timers have fired (all, given data range)
      val batch = graft.jobs.OrderJobs.orderTimeout(spark, sfd)
        .groupBy($"result_state").count().as[(String, Long)].collect().toMap
      // streaming emits per (create,pay) resolution: first pay after first
      // create resolves the pair; compare the resolved states that have
      // deterministic batch equivalents
      assert(streaming.values.sum > 0)
      assert(streaming.keySet.subsetOf(Set("payed successfully",
        "payed but already timeout", "timeout", "payed but not found created")))
      // every user classified by batch appears in the stream output too
      assert(streaming.values.sum >= batch.values.sum * 9 / 10)
    } finally q.stop()
  }

  test("streaming ingest curation: dedup-within-watermark → quality gate " +
      "→ windowed per-lang accounting") {
    // the composed ingest story a training pipeline runs at the edge:
    // fingerprint-dedup close-in-time repeats (crawler retries), gate on
    // the same codegen quality score the batch curation uses, then
    // windowed per-language admission accounting — all one streaming plan
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.TextAnalysis
    import graft.streaming.StreamingDedup
    val in = MemoryStream[(Long, String, String, Long)]
    val docs = in.toDF().toDF("doc_id", "text", "lang", "tsSec")
      .withColumn("ts", expr("timestamp_seconds(tsSec)"))
    val good = "the data of the table and the row is on the disk " * 8
    val deduped = StreamingDedup.byFingerprint(docs, "ts", "10 seconds")
    val nTok = TextAnalysis.tokenCount($"text")
    val admitted = deduped
      .withColumn("quality", TextAnalysis.qualityScore(nTok,
        TextAnalysis.stopwordCount($"text")))
      .filter($"quality" >= 0.5)
      .groupBy(window($"ts", "1 minute"), $"lang")
      .agg(count(lit(1)).as("n_admitted"))
      .select(unix_timestamp($"window.end").as("window_end"), $"lang",
        $"n_admitted")
    val q = admitted.writeStream.format("memory").queryName("ingest_cur")
      .outputMode("append").start()
    try {
      in.addData(
        (1L, good, "en", 10L),
        (2L, good, "en", 12L),        // dup within horizon → dropped
        (3L, "spam spam", "en", 15L), // low quality → gated
        (4L, good + "extra", "de", 20L))
      q.processAllAvailable()
      in.addData((99L, "flush flush flush", "en", 600L)) // close the window
      q.processAllAvailable()
      val out = spark.table("ingest_cur")
        .select($"lang", $"n_admitted").as[(String, Long)].collect().toMap
      assert(out == Map("en" -> 1L, "de" -> 1L),
        s"expected one admitted doc per lang, got $out")
    } finally q.stop()
  }

  private def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)

  /** Two lifetimes of one append query on one checkpoint: `before` feeds
    * the first, which is then stopped; `after` feeds the query restarted
    * from the checkpoint. Returns every row both lifetimes wrote, and the
    * checkpoint.
    */
  private def acrossRestart[T: Encoder](df: => DataFrame)(before: => Unit)(
      after: => Unit): (Array[T], String) = {
    val ckpt = Files.createTempDirectory("graft_ckpt").toString
    val outDir = Files.createTempDirectory("graft_out").toString
    def start() = df.writeStream.format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    val q1 = start()
    before
    q1.processAllAvailable()
    q1.stop()
    val q2 = start()
    after
    q2.processAllAvailable()
    q2.stop()
    (spark.read.parquet(outDir).as[T].collect(), ckpt)
  }

  /** The keys a stopped query's keyed state store holds after its last
    * batch: exactly the keys still parked, since an emitted or expired key
    * must leave no state behind.
    */
  private def parkedKeys[K: Encoder](ckpt: String): Set[K] =
    spark.read.format("statestore").load(ckpt).select("key.*").as[K]
      .collect().toSet

  test("checkpointed query restarts exactly-once (no lost or duplicated state)") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[OrderEvent]
    val (all, ckpt) = acrossRestart[graft.model.OrderResult](
        OrderTimeoutStream.detect(in.toDS(), deadlineMs = 60000).toDF()) {
      in.addData(OrderEvent(1, "create", "a", ts(10)), OrderEvent(1, "pay", "a", ts(20)),
        OrderEvent(2, "create", "b", ts(10)))
    } {
      // restart from the checkpoint; pending state (order 2) must survive
      in.addData(OrderEvent(3, "create", "c", ts(30)), OrderEvent(3, "pay", "c", ts(40)),
        OrderEvent(9, "create", "", ts(10000))) // watermark → fire order 2 timer
    }
    val out = all.filter(_.orderId != 9L)
    val byOrder = out.groupBy(_.orderId).view.mapValues(_.map(_.resultState)).toMap
    assert(byOrder(1L).toSeq == Seq("payed successfully")) // exactly once
    assert(byOrder(3L).toSeq == Seq("payed successfully"))
    assert(byOrder(2L).toSeq == Seq("timeout")) // state survived the restart
    assert(out.length == 3)
    assert(parkedKeys[Long](ckpt) == Set(9L)) // only the unexpired create
  }

  test("tx match restarts exactly-once: parked sides flush once, pairs never re-emit") {
    implicit val sqlCtx = spark.sqlContext
    val pays = MemoryStream[OrderEvent]
    val receipts = MemoryStream[ReceiptEvent]
    val (all, ckpt) = acrossRestart[TxMatchStream.TxResult](
        TxMatchStream.detect(pays.toDS(), receipts.toDS()).toDF()) {
      // every event inside the 3 s receipt wait, so a trigger that falls
      // between the two addData calls cannot move the watermark past a
      // deadline: B and C park, E's pay waits for its receipt
      pays.addData(OrderEvent(1, "pay", "A", ts(10)), OrderEvent(2, "pay", "B", ts(11)),
        OrderEvent(5, "pay", "E", ts(12)))
      receipts.addData(ReceiptEvent("A", "wechat", ts(11)),
        ReceiptEvent("C", "alipay", ts(12)))
    } {
      receipts.addData(ReceiptEvent("E", "wechat", ts(13)),
        ReceiptEvent("Z", "wechat", ts(1000)))
      pays.addData(OrderEvent(9, "pay", "Z", ts(1000))) // watermark → flush B, C
    }
    val out = all.filter(_.txId != "Z")
    val byTx = out.groupBy(_.txId).view.mapValues(_.map(_.tag).toSeq).toMap
    assert(byTx("A") == Seq("matched")) // exactly once
    assert(byTx("E") == Seq("matched")) // parked pay resumed after the restart
    assert(byTx("B") == Seq("unmatched_pay")) // state + deadline survived
    assert(byTx("C") == Seq("unmatched_receipt"))
    assert(out.length == 4)
    // every tx resolved, E's parked pay included: no key keeps state
    assert(parkedKeys[String](ckpt) == Set.empty[String])
  }

  test("CEP restarts exactly-once: a parked partial match times out once") {
    implicit val sqlCtx = spark.sqlContext
    import CepLite.KeyedEvent
    val in = MemoryStream[KeyedEvent]
    val (out, ckpt) = acrossRestart[CepLite.CepMatch](
        CepLite.detect(in.toDS(), Seq("create", "pay"), withinMs = 60000).toDF()) {
      in.addData(KeyedEvent(1, "create", 10000), KeyedEvent(1, "pay", 20000),
        KeyedEvent(2, "create", 10000), KeyedEvent(4, "create", 15000))
    } {
      in.addData(KeyedEvent(3, "create", 30000), KeyedEvent(3, "pay", 40000),
        KeyedEvent(4, "pay", 50000),
        KeyedEvent(9, "other", 10000000)) // watermark → fire key 2's within
    }
    val byKey = out.groupBy(_.key).view.mapValues(_.map(m => m.tag -> m.depth).toSeq).toMap
    assert(byKey(1L) == Seq("matched" -> 2)) // exactly once
    assert(byKey(3L) == Seq("matched" -> 2))
    assert(byKey(4L) == Seq("matched" -> 2)) // step 1 resumed after the restart
    assert(byKey(2L) == Seq("timeout" -> 1)) // state + deadline survived
    assert(out.length == 4)
    // key 4's partial match resolved after the restart: no key keeps state
    assert(parkedKeys[Long](ckpt) == Set.empty[Long])
  }

  test("late-split watermark survives a checkpointed restart") {
    import graft.streaming.LateSplit
    import graft.streaming.LateSplit.Hit
    implicit val sqlCtx = spark.sqlContext
    withRocksDb {
      val ckpt = Files.createTempDirectory("late_ckpt").toString
      val outDir = Files.createTempDirectory("late_out").toString
      val in = MemoryStream[Hit]
      def start() = LateSplit.split(in.toDS(),
          disorderMs = 5000, latenessMs = 60000, slackMs = 1000000).toDF()
        .writeStream.format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", ckpt)
        .outputMode("append").start()

      val q1 = start()
      in.addData(Hit("/a", 10000000L)) // establishes the watermark
      q1.processAllAvailable()
      q1.stop()

      // after restart the persisted watermark must still classify this row
      // as late (horizon = 10000000 − 5000 − 60000 = 9935000)
      val q2 = start()
      in.addData(Hit("/a", 9000000L), Hit("/a", 9950000L))
      q2.processAllAvailable()
      q2.stop()

      val got = spark.read.parquet(outDir).as[LateSplit.TaggedHit].collect()
        .map(t => t.tsMs -> t.tag).toMap
      assert(got(10000000L) == "ontime")
      assert(got(9000000L) == "late", "persisted watermark lost on restart")
      assert(got(9950000L) == "ontime")
    }
  }
}
