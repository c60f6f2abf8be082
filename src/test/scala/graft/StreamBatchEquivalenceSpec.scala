package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.model.{Event, OrderEvent, ReceiptEvent}
import graft.streaming.{StreamingJoins, StreamingWindows, TopNState}

/** Property-style equivalence: for randomized event sets (fixed seeds, 5
  * trials each), the streaming operators must produce exactly the batch
  * answers once every window is closed (SURVEY.md §5 item 4).
  */
class StreamBatchEquivalenceSpec extends SparkSpec {
  import spark.implicits._

  private def ts(sec: Long) = new Timestamp(sec * 1000L)

  private def randomEvents(seed: Int, n: Int): Seq[Event] = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map { i =>
      Event(i, ts(10 + rnd.nextInt(1800)), rnd.nextInt(20),
        Seq("view", "click", "purchase")(rnd.nextInt(3)), rnd.nextDouble(), "{}")
    }
  }

  test("streaming sliding counts equal batch counts for closed windows") {
    (1 to 5).foreach { seed =>
      implicit val sqlCtx = spark.sqlContext
      val data = randomEvents(seed, 200)
      val in = MemoryStream[Event]
      val counts = StreamingWindows.slidingCount(
        in.toDF(), $"event_type", "ts", "10 minutes", "5 minutes", "0 seconds")
      val name = s"eq_counts_$seed"
      val q = counts.writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        in.addData(data)
        q.processAllAvailable()
        in.addData(Event(9999, ts(100000), 0, "view", 0, "{}")) // close all
        q.processAllAvailable()
        val streaming = spark.table(name)
          .filter($"window_end" <= 100000 - 600) // exclude the closer's windows
          .select($"key", $"window_end", $"cnt")
          .as[(String, Long, Long)].collect().toSet
        val batch = graft.ops.SlidingWindows.slidingCount(
            data.toDF(), $"event_type", $"ts", "10 minutes", "5 minutes", "key")
          .select($"key", $"window_end", $"cnt")
          .as[(String, Long, Long)].collect().toSet
        assert(streaming == batch, s"seed=$seed diverged")
      } finally q.stop()
    }
  }

  test("streaming profile compaction equals the batch argmax in any order") {
    (1 to 5).foreach { seed =>
      implicit val sqlCtx = spark.sqlContext
      val rnd = new scala.util.Random(seed)
      val data = rnd.shuffle(randomEvents(seed + 100, 200))
      val in = MemoryStream[Event]
      val name = s"eq_profiles_$seed"
      val q = graft.streaming.ProfileStream
        .profiles(in.toDF(), "ts", "0 seconds")
        .writeStream.format("memory").queryName(name)
        .outputMode("update").start()
      try {
        // three shuffled chunks across micro-batches: arrival order and
        // batching must be invisible (every profile field order-insensitive)
        data.grouped(70).foreach { chunk =>
          in.addData(chunk)
          q.processAllAvailable()
        }
        // n_events strictly increases per re-emission, so the max-n_events
        // row per key is the final state
        val streaming = spark.table(name)
          .as[(Long, String, Long, Long, Long, Double, Long)].collect()
          .groupBy(r => (r._1, r._2))
          .map { case (k, rows) => k -> rows.maxBy(_._7) }
        val batch = data.groupBy(e => (e.user_id, e.event_type)).map {
          case ((u, t), rows) =>
            val last = rows.maxBy(e => (e.ts.getTime, e.event_id))
            (u, t) -> ((u, t, rows.map(_.ts.getTime).min * 1000L,
              last.ts.getTime * 1000L, last.event_id, last.value,
              rows.length.toLong))
        }
        assert(streaming == batch, s"seed=$seed diverged")
        assert(streaming.values.exists(_._7 > 1L)) // compaction binds
      } finally q.stop()
    }
  }

  test("streaming next-event prediction serves the batch argmax per arrival") {
    implicit val sqlCtx = spark.sqlContext
    val sfd = "/root/testdata/sf0.001"
    val pred = graft.jobs.AnalyticsJobs.markovPredictor(spark, sfd)
    val predMap = pred.as[(String, String)].collect().toMap
    // arrivals: a sample of real events plus one UNSEEN state ('zzz') —
    // the lookup must be total (NULL, never a throw)
    val data = graft.io.Tables.events(spark, sfd)
      .selectExpr("event_id", "ts", "user_id", "event_type", "value", "props")
      .as[Event].take(50).toSeq :+
      Event(999999L, ts(999), 7L, "zzz", 0.0, "{}")
    val in = MemoryStream[Event]
    val q = graft.streaming.NextEventStream
      .predictNext(in.toDF(), "ts", "0 seconds", pred)
      .writeStream.format("memory").queryName("eq_nextev")
      .outputMode("append").start()
    try {
      in.addData(data)
      q.processAllAvailable()
      val out = spark.table("eq_nextev")
        .select($"user_id", $"event_type", $"predicted")
        .as[(Long, String, String)].collect()
      assert(out.length == data.length)
      out.foreach { case (_, t, p) =>
        assert(Option(p) == predMap.get(t), s"state $t served $p")
      }
      assert(out.exists(_._3 != null) && out.exists(_._3 == null))
    } finally q.stop()
  }

  test("streaming MapState top-N equals batch rank once windows close") {
    (1 to 5).foreach { seed =>
      implicit val sqlCtx = spark.sqlContext
      val rnd = new scala.util.Random(seed)
      // distinct (windowEnd, key) upserts
      val data = (for {
        w <- Seq(100000L, 200000L)
        k <- Seq("a", "b", "c", "d", "e")
      } yield TopNState.KeyedCount(w, k, 1 + rnd.nextInt(50))).toSeq
      val in = MemoryStream[TopNState.KeyedCount]
      val name = s"eq_topn_$seed"
      val q = TopNState.topN(in.toDS(), n = 3, latenessMs = 1000).toDF()
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      try {
        in.addData(data)
        q.processAllAvailable()
        in.addData(TopNState.KeyedCount(9000000L, "z", 1)) // close all
        q.processAllAvailable()
        val streaming = spark.table(name).as[TopNState.RankedRow].collect()
          .filter(_.windowEnd < 9000000L)
          .map(r => (r.windowEnd, r.rank.toLong, r.key, r.cnt)).toSet
        val batch = graft.ops.TopN.topNPer(
            data.toDF(), $"windowEnd", $"cnt", $"key", 3)
          .select($"windowEnd", $"rn", $"key", $"cnt")
          .as[(Long, Long, String, Long)].collect().toSet
        assert(streaming == batch, s"seed=$seed diverged")
      } finally q.stop()
    }
  }

  test("streaming session windows equal batch sessionization once closed") {
    (1 to 3).foreach { seed =>
      implicit val sqlCtx = spark.sqlContext
      val data = randomEvents(seed, 150)
      val in = MemoryStream[Event]
      val name = s"eq_sessions_$seed"
      val q = StreamingWindows.sessionCount(
          in.toDF(), $"user_id", "ts", "30 minutes", "0 seconds")
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        in.addData(data)
        q.processAllAvailable()
        in.addData(Event(9999, ts(1000000), 999, "view", 0, "{}")) // close all
        q.processAllAvailable()
        val streaming = spark.table(name)
          .filter($"key" =!= 999)
          .select($"key", $"session_start", $"session_end", $"n_events")
          .as[(Long, Long, Long, Long)].collect().toSet
        val batch = data.toDF()
          .groupBy($"user_id", session_window($"ts", "30 minutes"))
          .agg(count(lit(1)).as("n_events"))
          .select($"user_id",
            unix_timestamp($"session_window.start").as("s"),
            unix_timestamp($"session_window.end").as("e"), $"n_events")
          .as[(Long, Long, Long, Long)].collect().toSet
        assert(streaming == batch, s"seed=$seed diverged")
      } finally q.stop()
    }
  }

  test("stream-stream interval join equals the batch range join") {
    (1 to 5).foreach { seed =>
      implicit val sqlCtx = spark.sqlContext
      val rnd = new scala.util.Random(seed)
      val pays = (0 until 40).map(i =>
        OrderEvent(i, "pay", s"tx${rnd.nextInt(25)}", ts(10 + rnd.nextInt(300))))
      val receipts = (0 until 40).map(i =>
        ReceiptEvent(s"tx${rnd.nextInt(25)}", "wechat", ts(10 + rnd.nextInt(300))))
      val pIn = MemoryStream[OrderEvent]
      val rIn = MemoryStream[ReceiptEvent]
      val p = pIn.toDF().select($"txId".as("p_txid"), $"ts".as("p_ts"))
      val r = rIn.toDF().select($"txId".as("r_txid"), $"ts".as("r_ts"))
      val name = s"eq_ij_$seed"
      val q = StreamingJoins.intervalJoin(p, r, "p_txid", "r_txid", "p_ts", "r_ts", -30, 50)
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      try {
        pIn.addData(pays); rIn.addData(receipts)
        q.processAllAvailable()
        val streaming = spark.table(name)
          .select($"p_txid", $"p_ts", $"r_ts")
          .as[(String, Timestamp, Timestamp)].collect()
          .map(t => (t._1, t._2.getTime, t._3.getTime)).sorted.toSeq
        val pb = pays.toDF().select($"txId".as("p_txid"), $"ts".as("p_ts"))
        val rb = receipts.toDF().select($"txId".as("r_txid"), $"ts".as("r_ts"))
        val batch = pb.join(rb,
            $"p_txid" === $"r_txid" &&
              $"r_ts" >= $"p_ts" - expr("INTERVAL 30 SECONDS") &&
              $"r_ts" <= $"p_ts" + expr("INTERVAL 50 SECONDS"))
          .select($"p_txid", $"p_ts", $"r_ts")
          .as[(String, Timestamp, Timestamp)].collect()
          .map(t => (t._1, t._2.getTime, t._3.getTime)).sorted.toSeq
        assert(streaming == batch, s"seed=$seed diverged")
      } finally q.stop()
    }
  }

  test("chained sessionization + top-N equals the batch restatement") {
    withRocksDb { (1 to 3).foreach { seed =>
      implicit val sqlCtx = spark.sqlContext
      val data = randomEvents(seed, 150)
      val in = MemoryStream[Event]
      val name = s"eq_sess_topn_$seed"
      val bucketMs = 600 * 1000L // rank closed sessions per 10-min bucket
      val q = StreamingWindows.sessionTopN(
          in.toDF(), $"user_id", "ts", "5 minutes", "0 seconds",
          bucketMs, n = 3).toDF()
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        in.addData(data)
        q.processAllAvailable()
        // closed sessions reach the rank stage one watermark-advance after
        // their close (chained stateful latency, see sessionTopN doc), so
        // closing ALL buckets takes two successive watermark jumps
        in.addData(Event(9999, ts(1000000), 999, "view", 0, "{}"))
        q.processAllAvailable()
        in.addData(Event(9998, ts(2000000), 999, "view", 0, "{}"))
        q.processAllAvailable()
        val streaming = spark.table(name).as[TopNState.RankedRow].collect()
          .filter(r => !r.key.startsWith("999@"))
          .map(r => (r.windowEnd, r.rank, r.key, r.cnt)).toSet
        // batch restatement: session_window agg → bucket of session end →
        // rank by (cnt desc, key asc) within bucket, keep top 3
        val sessions = data.toDF()
          .groupBy($"user_id", session_window($"ts", "5 minutes"))
          .agg(count(lit(1)).as("cnt"))
          .select(
            expr(s"((unix_millis(session_window.end) - 1) div $bucketMs + 1) * $bucketMs")
              .as("windowEnd"),
            concat($"user_id".cast("string"), lit("@"),
              unix_timestamp($"session_window.start").cast("string")).as("key"),
            $"cnt")
        val batch = graft.ops.TopN.topNPer(
            sessions, $"windowEnd", $"cnt", $"key", 3)
          .select($"windowEnd", $"rn".cast("int"), $"key", $"cnt")
          .as[(Long, Int, String, Long)].collect().toSet
        assert(streaming == batch, s"seed=$seed diverged")
      } finally q.stop()
    }}
  }
}
