package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.PathStream
import graft.streaming.PathStream.{PathEdge, PathEvent}

/** Streaming path analysis: watermark-ordered edge resolution must equal
  * the batch lead() edge set for any arrival order within the watermark.
  */
class PathStreamSpec extends SparkSpec {
  import spark.implicits._

  private def batchEdges(evs: Seq[PathEvent]): Set[(Long, String, String)] = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"key").orderBy($"tsMs", $"eventId")
    evs.toDF()
      .withColumn("toKind", lead($"kind", 1).over(w))
      .filter($"toKind".isNotNull)
      .select($"key", $"kind", $"toKind")
      .as[(Long, String, String)].collect().toSet
  }

  private def runStream(batches: Seq[Seq[PathEvent]],
      disorderMs: Long = 0L): Seq[PathEdge] = withRocksDb {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[PathEvent]
    val q = PathStream.edges(in.toDS(), disorderMs).toDF()
      .writeStream.format("memory").queryName("path_edges")
      .outputMode("append").start()
    try {
      batches.foreach { b => in.addData(b: _*); q.processAllAvailable() }
      // close every chain: advance the watermark far past all events
      in.addData(PathEvent(-1L, 0L, "flush", 9e12.toLong))
      q.processAllAvailable()
      in.addData(PathEvent(-1L, 1L, "flush", 9e12.toLong + 10))
      q.processAllAvailable()
      spark.table("path_edges").as[PathEdge].collect().toSeq
        .filter(_.key >= 0)
    } finally q.stop()
  }

  test("in-order stream reproduces the batch transition edges") {
    val evs = Seq(
      PathEvent(1, 1, "view", 1000), PathEvent(1, 2, "click", 2000),
      PathEvent(1, 3, "purchase", 3000),
      PathEvent(2, 4, "view", 1500), PathEvent(2, 5, "view", 2500))
    val out = runStream(Seq(evs))
    assert(out.map(e => (e.key, e.fromKind, e.toKind)).toSet ==
      batchEdges(evs))
    assert(out.size == 3) // 2 edges for user 1, 1 for user 2
  }

  test("out-of-order arrivals within the watermark resolve in event order") {
    // user 1's click arrives in a LATER batch than the purchase, but the
    // 10 s disorder budget keeps it ahead of the watermark — order must
    // come from event time, not arrival
    val b1 = Seq(PathEvent(1, 1, "view", 1000),
      PathEvent(1, 3, "purchase", 3000))
    val b2 = Seq(PathEvent(1, 2, "click", 2000))
    val out = runStream(Seq(b1, b2), disorderMs = 10000L)
    assert(out.sortBy(_.fromTs).map(e => (e.fromKind, e.toKind)) ==
      Seq(("view", "click"), ("click", "purchase")))
  }

  test("arrivals behind the watermark are dropped, edges stay consistent") {
    // with a 0 s budget the click IS late once the purchase advanced the
    // watermark — the resolved chain simply bridges past it (standard
    // late-row semantics, same as every stateful op here)
    val b1 = Seq(PathEvent(1, 1, "view", 1000),
      PathEvent(1, 3, "purchase", 3000))
    val b2 = Seq(PathEvent(1, 2, "click", 2000))
    val out = runStream(Seq(b1, b2))
    assert(out.sortBy(_.fromTs).map(e => (e.fromKind, e.toKind)) ==
      Seq(("view", "purchase")))
  }

  test("edges bridge across watermark-separated batches") {
    // resolution in two waves: the bridge carries the last closed event so
    // cross-wave pairs still emit exactly once
    val b1 = Seq(PathEvent(1, 1, "view", 1000), PathEvent(1, 2, "click", 2000))
    val b2 = Seq(PathEvent(1, 3, "purchase", 500000))
    val out = runStream(Seq(b1, b2))
    assert(out.sortBy(_.fromTs).map(e => (e.fromKind, e.toKind)) ==
      Seq(("view", "click"), ("click", "purchase")))
  }

  test("randomized stream/batch equivalence across shuffled batching") {
    val rnd = new scala.util.Random(42)
    val evs = (1 to 60).map { i =>
      PathEvent(key = 1 + rnd.nextInt(4), eventId = i.toLong,
        kind = Seq("view", "click", "purchase")(rnd.nextInt(3)),
        tsMs = 1000L + rnd.nextInt(50) * 100L)
    }
    // duplicate (key, ts, id) triples never occur (eventId unique); feed in
    // arrival order ≠ event order, one batch — watermark 0 s means only
    // the flush closes them, all at once
    val out = runStream(Seq(rnd.shuffle(evs)))
    val got = out.groupBy(e => (e.key, e.fromKind, e.toKind))
      .view.mapValues(_.size).toMap
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"key").orderBy($"tsMs", $"eventId")
    val want = evs.toDF()
      .withColumn("toKind", lead($"kind", 1).over(w))
      .filter($"toKind".isNotNull)
      .groupBy($"key", $"kind", $"toKind").count()
      .as[(Long, String, String, Long)].collect()
      .map(t => (t._1, t._2, t._3) -> t._4.toInt).toMap
    assert(got == want)
  }
}
