package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.streaming.StreamingCaps
import graft.streaming.StreamingCaps.DocArrival

/** In-flight per-(source, lang) admission cap: first N arrivals admit,
  * the rest tag rejected, counts survive across micro-batches.
  */
class StreamingCapsSpec extends SparkSpec {
  import spark.implicits._

  test("admits the first N per cell across micro-batches, rejects the rest") {
    withRocksDb {
      implicit val sqlCtx = spark.sqlContext
      val in = MemoryStream[DocArrival]
      val q = StreamingCaps.admitFirstN(in.toDS(), cap = 2)
        .writeStream.format("memory").queryName("stream_caps")
        .outputMode("update").start()
      try {
        // batch 1: two cells; srcA/en gets 2 (fills), srcB/en gets 1
        in.addData(
          DocArrival(1, "srcA", "en", "t1"), DocArrival(2, "srcA", "en", "t2"),
          DocArrival(3, "srcB", "en", "t3"))
        q.processAllAvailable()
        // batch 2: srcA/en is full (4 rejected), srcB/en admits one more
        // (5), then rejects (6); a new lang cell of srcA admits (7)
        in.addData(
          DocArrival(4, "srcA", "en", "t4"), DocArrival(5, "srcB", "en", "t5"),
          DocArrival(6, "srcB", "en", "t6"), DocArrival(7, "srcA", "de", "t7"))
        q.processAllAvailable()
        val got = spark.table("stream_caps")
          .as[(Long, String, String, Boolean)].collect()
          .map(r => r._1 -> r._4).toMap
        assert(got == Map(1L -> true, 2L -> true, 3L -> true,
          4L -> false, 5L -> true, 6L -> false, 7L -> true))
      } finally q.stop()
    }
  }

  test("randomized batching: admitted per cell = min(cap, arrivals), exactly once each") {
    withRocksDb {
      implicit val sqlCtx = spark.sqlContext
      val rnd = new scala.util.Random(20260813L)
      val arrivals = (1L to 120L).map { id =>
        DocArrival(id, s"src${rnd.nextInt(4)}", Seq("en", "de")(rnd.nextInt(2)), s"t$id")
      }
      val in = MemoryStream[DocArrival]
      val q = StreamingCaps.admitFirstN(in.toDS(), cap = 7)
        .writeStream.format("memory").queryName("stream_caps_rand")
        .outputMode("update").start()
      try {
        // random batch boundaries: the per-cell count must survive any split
        var rest = arrivals
        while (rest.nonEmpty) {
          val n = 1 + rnd.nextInt(40)
          in.addData(rest.take(n): _*); q.processAllAvailable()
          rest = rest.drop(n)
        }
        val out = spark.table("stream_caps_rand")
          .as[(Long, String, String, Boolean)].collect()
        assert(out.length == arrivals.length) // every arrival gated exactly once
        val admitted = out.filter(_._4).groupBy(r => (r._2, r._3))
          .view.mapValues(_.length).toMap
        val expected = arrivals.groupBy(a => (a.source, a.lang))
          .view.mapValues(g => math.min(7, g.length)).toMap
        assert(admitted == expected)
      } finally q.stop()
    }
  }
}
