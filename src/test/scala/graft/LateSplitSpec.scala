package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.streaming.LateSplit
import graft.streaming.LateSplit.{Hit, TaggedHit}

/** W6 row-level late capture: rows behind the Flink horizon
  * (maxTs − disorder − lateness) surface as tagged rows instead of
  * vanishing into a drop counter.
  */
class LateSplitSpec extends SparkSpec {
  import spark.implicits._

  test("rows behind watermark−lateness are tagged late, others pass through") {
    implicit val sqlCtx = spark.sqlContext
    withRocksDb {
      val in = MemoryStream[Hit]
      // disorder 5 s, lateness 60 s, slack 1000 s
      val q = LateSplit.split(in.toDS(),
          disorderMs = 5000, latenessMs = 60000, slackMs = 1000000).toDF()
        .writeStream.format("memory").queryName("late_split")
        .outputMode("append").start()
      try {
        // batch 1: watermark not yet advanced — everything on time
        in.addData(Hit("/a", 10000000L), Hit("/b", 10001000L))
        q.processAllAvailable()
        // watermark now 10001000 − (5000+60000+1000000) = 8936000;
        // Flink horizon = 10001000 − 5000 − 60000 = 9936000
        in.addData(
          Hit("/a", 9000000L), // behind the horizon → late side output
          Hit("/a", 9950000L)) // inside the lateness budget → on time
        q.processAllAvailable()
        val got = spark.table("late_split").as[TaggedHit].collect()
        val byTs = got.map(t => t.tsMs -> t.tag).toMap
        assert(byTs(10000000L) == "ontime" && byTs(10001000L) == "ontime")
        assert(byTs(9000000L) == "late")
        assert(byTs(9950000L) == "ontime")
        assert(got.length == 4) // nothing dropped: capture, not discard
      } finally q.stop()
    }
  }
}
