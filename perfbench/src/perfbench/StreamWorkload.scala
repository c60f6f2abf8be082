package perfbench

import java.security.MessageDigest
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}
import graft.model.{Event, OrderEvent, ReceiptEvent}
import graft.streaming.{CepLite, OrderTimeoutStream, StreamingWindows, TxMatchStream}
import PerfBench._

/** `uba_stream`: the sf0.1 `events` table replayed in event-time order
  * through `MemoryStream`, in fixed 2,000-event micro-batches, into four of
  * the reference's streaming jobs, each on its own source:
  *  - `hot`: views → `StreamingWindows.slidingCount` (1 h / 5 min) → top 5
  *    per window through `topNForeachBatch`;
  *  - `order`: `OrderTimeoutStream.detect` (signup → create, purchase → pay,
  *    user_id → orderId);
  *  - `tx`: `TxMatchStream.detect` on the batch jobs' mapping (purchase →
  *    pay, signup → receipt, keyed by user_id);
  *  - `cep`: `CepLite.detect`, view → purchase within 30 minutes.
  *
  * A round offers the next batch to each job in turn. The first two rounds
  * are set-up (query start, first state-store versions, JIT); timed rounds
  * follow until `--seconds` have passed. The seed permutes the rows inside
  * each timed batch only: batch boundaries, and so watermarks, late drops
  * and outputs, do not depend on it. The set-up rounds are not permuted:
  * the JIT compiles from the profile set-up leaves, and a seeded set-up put
  * one seed's replay in a 40% slower mode, reproducibly, on 4 cores.
  */
object StreamWorkload {

  val BatchRows = 2000
  val Jobs: Seq[String] = Seq("hot", "order", "tx", "cep")
  private val WarmRounds = 2

  val MetricNames: Seq[String] = Seq("streaming.triggers", "streaming.data_trigger_ratio",
    "streaming.add_batch_ms", "streaming.query_planning_ms", "streaming.wal_commit_ms",
    "streaming.commit_offsets_ms", "streaming.state_rows_peak", "streaming.state_bytes_peak",
    "streaming.rows_dropped_by_watermark", "streaming.watermark_lag_ms")

  /** The item id the batch hot-items jobs derive from `props`. */
  private val itemKey: Column = regexp_extract(col("props"), "([0-9]+)", 1).cast("long")

  final class StreamJob(val name: String, val input: MemoryStream[Event],
      val query: StreamingQuery, val output: () => Seq[String]) {
    var lastBatch = -1L
    /** Progress of triggers that ran since the last call. */
    def newProgress(): Seq[StreamingQueryProgress] = {
      val ps = query.recentProgress.filter(_.batchId > lastBatch).toSeq
      ps.lastOption.foreach(p => lastBatch = p.batchId)
      ps
    }
  }

  /** The events in replay order, cut into micro-batches. */
  def batches(spark: SparkSession, a: Args): Vector[Seq[Event]] = {
    import spark.implicits._
    graft.io.Tables.events(spark, s"${a.data}/sf0.1")
      .select("event_id", "ts", "user_id", "event_type", "value", "props").as[Event]
      .collect().sortBy(e => (e.ts.getTime, e.event_id))
      .grouped(BatchRows).map(_.toSeq).toVector
  }

  def permuted(all: Vector[Seq[Event]], seed: Long, b: Int): Seq[Event] =
    new scala.util.Random(seed * 1000003L + b).shuffle(all(b))

  /** Starts the four jobs; `owner` tags their Spark jobs for the tracer
    * (the stream threads inherit the local property from this thread).
    */
  def start(spark: SparkSession, tag: String, ck: String,
      owner: String => Option[(Tracer, Int)]): Seq[StreamJob] = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    def memory(name: String, ds: Dataset[_]): (StreamingQuery, () => Seq[String]) = {
      val table = s"pb_${name}_$tag"
      val q = ds.toDF().writeStream.format("memory").queryName(table)
        .outputMode("append").option("checkpointLocation", s"$ck/$name").start()
      (q, () => spark.table(table).collect().map(_.toString).toSeq)
    }
    def launch(name: String)(body: MemoryStream[Event] => (StreamingQuery, () => Seq[String])) = {
      val in = MemoryStream[Event]
      val (q, out) = owner(name) match {
        case Some((t, span)) => t.owning(span)(body(in))
        case None => body(in)
      }
      new StreamJob(name, in, q, out)
    }
    Seq(
      launch("hot") { in =>
        @volatile var top: Seq[String] = Nil
        val views = in.toDF().filter(col("event_type") === "view")
        val counts = StreamingWindows.slidingCount(
          views, itemKey, "ts", "1 hour", "5 minutes", "0 seconds")
        val q = StreamingWindows.topNForeachBatch(counts, 5, (df, _) =>
            top = df.select("window_end", "key", "cnt", "rn").collect().map(_.toString).toSeq)
          .queryName(s"pb_hot_$tag").option("checkpointLocation", s"$ck/hot").start()
        (q, () => top)
      },
      launch("order") { in =>
        memory("order", OrderTimeoutStream.detect(in.toDF()
          .filter(col("event_type").isin("signup", "purchase"))
          .select(col("user_id").as("orderId"),
            when(col("event_type") === "signup", "create").otherwise("pay").as("eventType"),
            lit("").as("txId"), col("ts"))
          .as[OrderEvent]))
      },
      launch("tx") { in =>
        val ev = in.toDF()
        val pays = ev.filter(col("event_type") === "purchase")
          .select(col("user_id").as("orderId"), lit("pay").as("eventType"),
            col("user_id").cast("string").as("txId"), col("ts")).as[OrderEvent]
        val receipts = ev.filter(col("event_type") === "signup")
          .select(col("user_id").cast("string").as("txId"), lit("signup").as("payChannel"),
            col("ts")).as[ReceiptEvent]
        memory("tx", TxMatchStream.detect(pays, receipts))
      },
      launch("cep") { in =>
        memory("cep", CepLite.detect(in.toDF()
          .select(col("user_id").as("key"), col("event_type").as("kind"),
            expr("unix_millis(ts)").as("tsMs"))
          .as[CepLite.KeyedEvent], Seq("view", "purchase"), 30 * 60 * 1000L))
      })
  }

  def md5(rows: Seq[String]): String =
    MessageDigest.getInstance("MD5").digest(rows.sorted.mkString("\n").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  /** Top 5 per window of the batch sliding counts over the same events:
    * the stream must equal it (StreamBatchEquivalenceSpec's rule; complete
    * mode keeps every window, so all of them are compared).
    */
  def batchHotTop(spark: SparkSession, events: Seq[Event]): Seq[String] = {
    import spark.implicits._
    val views = events.toDF().filter(col("event_type") === "view")
    graft.ops.TopN.topNPer(
        graft.ops.SlidingWindows.slidingCount(views, itemKey, col("ts"), "1 hour", "5 minutes", "key"),
        col("window_end"), col("cnt"), col("key"), 5)
      .select("window_end", "key", "cnt", "rn").collect().map(_.toString).toSeq
  }

  def expectedHashes(path: String): Map[String, IndexedSeq[String]] = {
    val text = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8")
    Jobs.filter(_ != "hot").map { j =>
      val body = ("\"" + j + "\"\\s*:\\s*\\[([^\\]]*)\\]").r.findFirstMatchIn(text)
        .map(_.group(1)).getOrElse("")
      j -> "\"([0-9a-f]+)\"".r.findAllMatchIn(body).map(_.group(1)).toIndexedSeq
    }.toMap
  }

  /** Offers one micro-batch to one job and waits until it has been processed. */
  private def offer(j: StreamJob, rows: Seq[Event]): Unit = {
    j.input.addData(rows)
    j.query.processAllAvailable()
  }

  def train(spark: SparkSession, a: Args): Unit = {
    val all = batches(spark, a)
    val jobs = start(spark, "train", s"${a.work}/checkpoints/train", _ => None)
    jobs.foreach(j => offer(j, all(0)))
    jobs.foreach(_.query.stop())
  }

  def run(spark: SparkSession, a: Args): Map[String, Any] = {
    val all = batches(spark, a)
    canary(spark, a.data)
    val tracer = if (a.trace) Some(new Tracer(spark)) else None
    tracer.foreach(spark.sparkContext.addSparkListener)
    val roots: Map[String, Int] =
      tracer.map(t => Jobs.map(j => j -> t.open(-1, s"stream_job:$j", -1)).toMap).getOrElse(Map.empty)
    val jobs = start(spark, "run", s"${a.work}/checkpoints/run",
      name => tracer.map(t => (t, roots(name))))
    (0 until WarmRounds).foreach(b => jobs.foreach(j => offer(j, all(b))))
    jobs.foreach(_.newProgress())
    note("warm rounds done")
    val ops = mutable.ArrayBuffer.empty[Op]
    val canaries = mutable.ArrayBuffer.empty[Double]
    val triggers = mutable.ArrayBuffer.empty[(String, StreamingQueryProgress)]
    var tracedWallMs = 0.0
    val minRounds = if (a.trace) 2 else 1
    val setupS = sinceJvmStart
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var round = WarmRounds
    while (round < all.size && !(round - WarmRounds >= minRounds && elapsed >= a.seconds)) {
      canaries += canary(spark, a.data)
      val rows = permuted(all, a.seed, round)
      jobs.zipWithIndex.foreach { case (j, index) =>
        val traced = tracer.isDefined && (round + index) % 2 == 1
        tracer.foreach { t => t.flush(); t.active = traced }
        val op = ops.size
        val span = tracer.filter(_ => traced).map(t => t.open(op, s"offer:${j.name}", -1))
        val t1 = System.nanoTime()
        val c1 = cpuMs
        val (ok, err) =
          try { offer(j, rows); (true, "") }
          catch { case e: Throwable => (false, errorText(e)) }
        val ms = (System.nanoTime() - t1) / 1e6
        ops += Op(j.name, round, ms, cpuMs - c1, 0.0, traced, ok, err)
        val progress = j.newProgress()
        for (t <- tracer; s <- span) {
          t.close(s, Map("batch" -> round, "ok" -> ok))
          progress.foreach { p =>
            triggers += ((j.name, p))
            val start = t.epochToMs(java.time.Instant.parse(p.timestamp).toEpochMilli)
            val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
            t.record(op, "trigger", s, start, start + d.getOrElse("triggerExecution", 0L),
              Map("batch_id" -> p.batchId, "rows" -> p.numInputRows) ++ d)
          }
          tracedWallMs += ms
        }
      }
      round += 1
    }
    val measureS = elapsed
    val rounds = round

    // outputs of the replayed prefix; a wrong output fails every offer of its job
    val checks = mutable.LinkedHashMap.empty[String, String]
    val expected = expectedHashes(a.expected)
    jobs.foreach { j =>
      val got = try j.output() catch { case e: Throwable => Seq(errorText(e)) }
      val bad =
        if (j.name == "hot") {
          val want = batchHotTop(spark, all.take(rounds).flatten)
          if (got.toSet == want.toSet && got.size == want.size) ""
          else s"top-5 differs from batch sliding counts (${got.size} vs ${want.size} rows)"
        } else {
          val want = expected(j.name).lift(rounds - 1)
          if (want.contains(md5(got))) "" else s"hash ${md5(got)} != recorded ${want.getOrElse("none")}"
        }
      checks(j.name) = bad
    }
    jobs.foreach(_.query.stop())
    val checked = ops.map(o => if (checks(o.kind).isEmpty) o else o.copy(ok = false, error = checks(o.kind)))

    val layers = tracer.map { t =>
      t.flush()
      t.active = false
      val tracedRounds = ops.count(_.traced).toDouble / Jobs.size
      val m = layerMetrics(t, roots.values, tracedRounds, tracedWallMs, cores)
      m ++= streamMetrics(triggers.toSeq, tracedRounds)
      m ++= Seq("jobs.build_s" -> 0.0, "jobs.action_s" -> 0.0, "jobs.build_spark_jobs" -> 0.0,
        "jobs.action_spark_jobs" -> 0.0) ++ BatchWorkload.memoStats
      val spans = nestJobsUnderTriggers(t.finish())
      m += "baseline.local1_rows_per_s" -> singleThreadBaseline(spark, a, all, math.min(rounds, 3))
      writeTrace(a, Map("spans" -> spans.map(spanMap),
        "counters" -> roots.map { case (j, o) => j -> t.counters.get(o).map(_.toMap) }))
      m
    }
    Map("workload" -> a.workload, "seed" -> a.seed, "cores" -> cores, "mix" -> Jobs,
      "setup_s" -> setupS, "measure_s" -> measureS, "rows_per_op" -> BatchRows,
      "rounds" -> rounds, "ops" -> checked.map(_.toMap), "checks" -> checks,
      "canary_s" -> canaries, "heap_peak_mb" -> heapPeakMb, "trace" -> layers)
  }

  /** Per-round trigger phases, state size, late drops and watermark lag. */
  private def streamMetrics(triggers: Seq[(String, StreamingQueryProgress)],
      rounds: Double): Seq[(String, Double)] = {
    val per = if (rounds > 0) 1.0 / rounds else 0.0
    def phase(k: String) = triggers.map { case (_, p) =>
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0) }.sum * per
    val ops = triggers.map(_._2.stateOperators.toSeq)
    // the four jobs keep state side by side, so peaks add up across jobs
    def peak(f: org.apache.spark.sql.streaming.StateOperatorProgress => Long) =
      triggers.groupBy(_._1).values.map(_.map(t => t._2.stateOperators.map(f).sum).max).sum.toDouble
    val lags = triggers.flatMap { case (_, p) =>
      val et = p.eventTime
      for (mx <- Option(et.get("max")); wm <- Option(et.get("watermark")))
        yield (java.time.Instant.parse(mx).toEpochMilli - java.time.Instant.parse(wm).toEpochMilli).toDouble
    }.sorted
    Seq(
      "streaming.triggers" -> triggers.size * per,
      "streaming.data_trigger_ratio" ->
        (if (triggers.isEmpty) 0.0 else triggers.count(_._2.numInputRows > 0).toDouble / triggers.size),
      "streaming.add_batch_ms" -> phase("addBatch"),
      "streaming.query_planning_ms" -> phase("queryPlanning"),
      "streaming.wal_commit_ms" -> phase("walCommit"),
      "streaming.commit_offsets_ms" -> phase("commitOffsets"),
      "streaming.state_rows_peak" -> (if (ops.isEmpty) 0.0 else peak(_.numRowsTotal)),
      "streaming.state_bytes_peak" -> (if (ops.isEmpty) 0.0 else peak(_.memoryUsedBytes)),
      "streaming.rows_dropped_by_watermark" ->
        ops.flatten.map(_.numRowsDroppedByWatermark).sum * per,
      "streaming.watermark_lag_ms" -> (if (lags.isEmpty) 0.0 else lags(lags.size / 2)))
  }

  /** Spark jobs of a stream carry their micro-batch id; hang each under
    * the trigger span of that batch.
    */
  private def nestJobsUnderTriggers(spans: Seq[Span]): Seq[Span] = {
    val byId = spans.map(s => s.id -> s).toMap
    // a trigger's parent is its offer span, a job's the stream job's root span
    def stream(s: Span) = byId.get(s.parent).map(_.name.split(":").last)
    val trigger = spans.filter(_.name == "trigger")
      .flatMap(t => stream(t).map(j => (j, t.attrs("batch_id")) -> t)).toMap
    spans.map { s =>
      val t = if (s.name != "job") None
        else stream(s).flatMap(j => s.attrs.get("batch_id").flatMap(b => trigger.get((j, b))))
      t.map(t => s.copy(parent = t.id, op = t.op)).getOrElse(s)
    }
  }

  /** The stream-processing baseline: the same replay on one core, reported
    * beside the N-core numbers and not gated.
    */
  private def singleThreadBaseline(spark: SparkSession, a: Args,
      all: Vector[Seq[Event]], rounds: Int): Double = {
    spark.stop()
    val one = session(1, a.work)
    val jobs = start(one, "local1", s"${a.work}/checkpoints/local1", _ => None)
    val t0 = System.nanoTime()
    (0 until rounds).foreach(b => jobs.foreach(j => offer(j, permuted(all, a.seed, b))))
    val s = (System.nanoTime() - t0) / 1e9
    jobs.foreach(_.query.stop())
    rounds * BatchRows * jobs.size / s
  }

  /** Replays every batch once and writes each checked job's output hash
    * after every round, the reference the timed replay is checked against.
    */
  def record(spark: SparkSession, a: Args): Map[String, Any] = {
    val all = batches(spark, a)
    val jobs = start(spark, "record", s"${a.work}/checkpoints/record", _ => None)
    val hashes = mutable.LinkedHashMap(Jobs.filter(_ != "hot").map(_ -> mutable.ArrayBuffer.empty[String]): _*)
    all.indices.foreach { b =>
      val rows = permuted(all, a.seed, b)
      jobs.foreach(j => offer(j, rows))
      jobs.filter(j => hashes.contains(j.name)).foreach(j => hashes(j.name) += md5(j.output()))
    }
    jobs.foreach(_.query.stop())
    java.nio.file.Files.writeString(java.nio.file.Paths.get(a.expected),
      hashes.map { case (j, hs) => s"""  "$j": [${hs.map("\"" + _ + "\"").mkString(", ")}]""" }
        .mkString("{\n", ",\n", "\n}\n"))
    Map("recorded" -> all.size)
  }
}
