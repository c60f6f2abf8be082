package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.streaming.{TopNMultiTimer, TopNState}

/** transformWithState (Spark 4 stateful API): two genuine timers per key
  * on the RocksDB state store.
  */
class TransformWithStateSpec extends SparkSpec {
  import spark.implicits._

  test("two-timer top-N: emit at windowEnd, clear at windowEnd+lateness") {
    implicit val sqlCtx = spark.sqlContext
    withRocksDb {
      val in = MemoryStream[TopNState.KeyedCount]
      val q = TopNMultiTimer.topN(in.toDS(), n = 2, latenessMs = 60000).toDF()
        .writeStream.format("memory").queryName("tws_topn")
        .outputMode("append").start()
      try {
        in.addData(
          TopNState.KeyedCount(100000, "/a", 5),
          TopNState.KeyedCount(100000, "/b", 3),
          TopNState.KeyedCount(100000, "/c", 1))
        q.processAllAvailable()
        // advance watermark past windowEnd+1 but inside the lateness budget
        in.addData(TopNState.KeyedCount(110000, "/x", 1))
        q.processAllAvailable()
        val first = spark.table("tws_topn").as[TopNState.RankedRow].collect()
          .filter(_.windowEnd == 100000)
        assert(first.sortBy(_.rank).map(r => (r.rank, r.key, r.cnt)).toSeq ==
          Seq((1, "/a", 5L), (2, "/b", 3L)))
        // advance far past windowEnd+lateness: cleanup timer clears state
        in.addData(TopNState.KeyedCount(9000000, "/y", 1))
        q.processAllAvailable()
        val all = spark.table("tws_topn").as[TopNState.RankedRow].collect()
          .filter(_.windowEnd == 100000)
        assert(all.length == first.length) // no duplicate emissions on cleanup
      } finally q.stop()
    }
  }
}
