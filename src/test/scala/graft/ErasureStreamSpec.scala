package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.streaming.ErasureStream
import graft.streaming.ErasureStream.{In, Out}

/** Streaming right-to-be-forgotten: profile upserts until the tombstone,
  * one purge ack accounting for everything seen, then permanent silence —
  * late/replayed data for an erased user must never re-materialize state.
  */
class ErasureStreamSpec extends SparkSpec {
  import spark.implicits._

  test("erasure stream matches a reference model over randomized batches") {
    implicit val sqlCtx = spark.sqlContext
    withRocksDb {
      val rnd = new scala.util.Random(42)
      val in = MemoryStream[In]
      val q = ErasureStream.erasure(in.toDS()).toDF()
        .writeStream.format("memory").queryName("erasure_model")
        .outputMode("update").start()
      // reference model of the contract
      val prof = scala.collection.mutable.HashMap.empty[Long, (Long, Long, Long)]
      val dead = scala.collection.mutable.Set.empty[Long]
      var eid = 100L
      try {
        var seen = Seq.empty[Out]
        (1 to 6).foreach { _ =>
          val ops = (0 until (2 + rnd.nextInt(5))).map { _ =>
            val u = 1L + rnd.nextInt(5)
            if (rnd.nextDouble() < 0.2) In(u, "erase", 0L, 0L, 0L)
            else { eid += 1; In(u, "event", 1000L + rnd.nextInt(9000),
              eid, 10L + rnd.nextInt(500)) }
          }
          in.addData(ops: _*)
          q.processAllAvailable()
          // model: per user — events apply first, then an erase (if any)
          val expect = ops.groupBy(_.user_id).toSeq.flatMap { case (u, rows) =>
            if (dead(u)) None
            else {
              val evs = rows.filter(_.kind == "event")
              evs.foreach { e =>
                val (f, n, s) = prof.getOrElse(u, (Long.MaxValue, 0L, 0L))
                prof(u) = (math.min(f, e.us), n + 1, s + e.cents)
              }
              if (rows.exists(_.kind == "erase")) {
                val (f, n, s) = prof.remove(u).getOrElse((0L, 0L, 0L))
                dead += u
                Some(Out(u, "purge_ack", f, n, s))
              } else if (evs.nonEmpty) {
                val (f, n, s) = prof(u)
                Some(Out(u, "profile", f, n, s))
              } else None
            }
          }
          val now = spark.table("erasure_model").as[Out].collect().toSeq
          val batchOut = now.diff(seen)
          assert(batchOut.toSet == expect.toSet,
            s"batch mismatch:\ngot    $batchOut\nexpect $expect")
          seen = now
        }
        assert(dead.nonEmpty, "seed produced no erasures — re-seed the test")
      } finally q.stop()
    }
  }

  test("erasure rollup: deletion propagates to bucket aggregates as retracts") {
    implicit val sqlCtx = spark.sqlContext
    withRocksDb {
      val log = scala.collection.mutable.ArrayBuffer
        .empty[(Boolean, graft.streaming.ErasureRollup.BucketAgg)]
      val in = MemoryStream[In]
      val q = ErasureStream.erasure(in.toDS())
        .writeStream.outputMode("update")
        .foreachBatch(graft.streaming.ErasureRollup.handler(2L) {
          (add, row) => log.synchronized { log += ((add, row)) }
        })
        .start()
      import graft.streaming.ErasureRollup.BucketAgg
      try {
        // users 1,3 -> bucket 1; user 2 -> bucket 0
        in.addData(
          In(1L, "event", 1000L, 10L, 500L),
          In(1L, "event", 900L, 11L, 250L),
          In(2L, "event", 2000L, 20L, 100L))
        q.processAllAvailable()
        assert(log.toSet == Set(
          (true, BucketAgg(0L, 1L, 1L, 100L)),
          (true, BucketAgg(1L, 1L, 2L, 750L))))
        val mark1 = log.size

        // erase user 1 (bucket 1 empties: retract WITHOUT re-add — the
        // case a plain arriving-row diff can never produce); user 2 grows
        in.addData(In(1L, "erase", 0L, 0L, 0L),
          In(2L, "event", 2100L, 21L, 100L))
        q.processAllAvailable()
        assert(log.drop(mark1).toSet == Set(
          (false, BucketAgg(0L, 1L, 1L, 100L)),
          (true, BucketAgg(0L, 1L, 2L, 200L)),
          (false, BucketAgg(1L, 1L, 2L, 750L))))
        val mark2 = log.size

        // user 3 repopulates bucket 1; user 1's replay stays suppressed
        in.addData(In(3L, "event", 3000L, 30L, 40L),
          In(1L, "event", 950L, 12L, 999L))
        q.processAllAvailable()
        assert(log.drop(mark2).toSet == Set(
          (true, BucketAgg(1L, 1L, 1L, 40L))))

        // changelog replay lands exactly the survivors-only end state
        // (retract(old)+add(new) pairs overwrite by bucket key)
        val replayed = log.foldLeft(Map.empty[Long, BucketAgg]) {
          case (m, (true, r)) => m + (r.bucket -> r)
          case (m, (false, r)) if m.get(r.bucket).contains(r) => m - r.bucket
          case (m, _) => m
        }
        assert(replayed == Map(
          0L -> BucketAgg(0L, 1L, 2L, 200L),
          1L -> BucketAgg(1L, 1L, 1L, 40L)))
      } finally q.stop()
    }
  }

  test("erasure stream: upsert, ack-with-cascade, then permanent suppression") {
    implicit val sqlCtx = spark.sqlContext
    withRocksDb {
      val in = MemoryStream[In]
      val q = ErasureStream.erasure(in.toDS()).toDF()
        .writeStream.format("memory").queryName("erasure")
        .outputMode("update").start()
      def rows() = spark.table("erasure").as[Out].collect().toSeq
      try {
        // batch 1: two users accumulate
        in.addData(
          In(1L, "event", 1000L, 10L, 500L),
          In(1L, "event", 900L, 11L, 250L),
          In(2L, "event", 2000L, 20L, 100L))
        q.processAllAvailable()
        val b1 = rows()
        assert(b1.toSet == Set(
          Out(1L, "profile", 900L, 2L, 750L),
          Out(2L, "profile", 2000L, 1L, 100L)))

        // batch 2: same-batch event THEN erase for user 1 — the ack
        // accounts for all 3 events; user 2 keeps upserting
        in.addData(
          In(1L, "event", 1100L, 12L, 50L),
          In(1L, "erase", 0L, 0L, 0L),
          In(2L, "event", 2100L, 21L, 100L))
        q.processAllAvailable()
        val b2 = rows().diff(b1)
        assert(b2.toSet == Set(
          Out(1L, "purge_ack", 900L, 3L, 800L),
          Out(2L, "profile", 2000L, 2L, 200L)))

        // batch 3: replayed/late data for the erased user is suppressed
        // SILENTLY (no output kind exists for it); user 2 unaffected.
        // An erase for a never-seen user acks zero.
        in.addData(
          In(1L, "event", 800L, 13L, 999L), // earlier ts than anything — still dead
          In(2L, "event", 2200L, 22L, 100L),
          In(3L, "erase", 0L, 0L, 0L))
        q.processAllAvailable()
        val b3 = rows().diff(b1 ++ b2)
        assert(b3.toSet == Set(
          Out(2L, "profile", 2000L, 3L, 300L),
          Out(3L, "purge_ack", 0L, 0L, 0L)))
        assert(rows().count(r => r.user_id == 1L && r.kind == "profile") == 1)

        // batch 4: a MALFORMED kind must be dropped, never interpreted as
        // an erase — user 2's profile survives and keeps accumulating
        in.addData(
          In(2L, "garbage", 0L, 0L, 0L),
          In(2L, "event", 2300L, 23L, 100L))
        q.processAllAvailable()
        val b4 = rows().diff(b1 ++ b2 ++ b3)
        assert(b4.toSet == Set(Out(2L, "profile", 2000L, 4L, 400L)))
        assert(rows().count(r => r.user_id == 2L && r.kind == "purge_ack") == 0)
      } finally q.stop()
    }
  }
}
