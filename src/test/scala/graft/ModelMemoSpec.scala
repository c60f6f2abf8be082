package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, Executors}
import java.util.concurrent.atomic.AtomicInteger
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import graft.model.ModelMemo

/** The memo mechanics on private small-budget instances (the shared memo
  * serves the registry and is left alone): single-flight, re-entrancy,
  * failure retry, LRU eviction under the byte budget, the per-entry cap.
  */
class ModelMemoSpec extends SparkSpec {

  /** A source dir holding `t.parquet`: the memo fingerprints only the
    * file's bytes, so any content stands in for a table.
    */
  private def source(): String = {
    val dir = Files.createTempDirectory("modelmemo").toString
    Files.write(Paths.get(dir, "t.parquet"), Array[Byte](1, 2, 3))
    dir
  }

  private val KiB = 1024L

  test("eight concurrent first callers train once") {
    val memo = new ModelMemo(1024 * KiB, 256 * KiB)
    val dir = source()
    val trainings = new AtomicInteger
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(8)
    try {
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      val calls = (1 to 8).map(_ => Future {
        start.await()
        memo.value("m", dir, "t") {
          trainings.incrementAndGet()
          Thread.sleep(200)
          "model"
        }
      })
      start.countDown()
      assert(Await.result(Future.sequence(calls), 30.seconds).toSet ==
        Set("model"))
    } finally pool.shutdownNow()
    assert(trainings.get == 1)
    assert(memo.stats("m") == ModelMemo.Stats(hits = 7, misses = 1,
      declines = 0, evictions = 0))
  }

  test("a trainer that calls another key neither throws nor deadlocks") {
    val memo = new ModelMemo(1024 * KiB, 256 * KiB)
    val dir = source()
    val pool = Executors.newSingleThreadExecutor()
    try {
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      val outer = Future {
        memo.value("outer", dir, "t") {
          memo.value("inner", dir, "t")("in") + "+out"
        }
      }
      assert(Await.result(outer, 30.seconds) == "in+out")
    } finally pool.shutdownNow()
    assert(memo.value[String]("inner", dir, "t")(fail("inner retrained")) == "in")
  }

  test("a failed training is not cached: the next call retrains") {
    val memo = new ModelMemo(1024 * KiB, 256 * KiB)
    val dir = source()
    intercept[IllegalStateException] {
      memo.value[String]("m", dir, "t")(throw new IllegalStateException("boom"))
    }
    assert(memo.value("m", dir, "t")("ok") == "ok")
    assert(memo.value[String]("m", dir, "t")(fail("retrained after success")) == "ok")
    assert(memo.stats("m").misses == 2)
  }

  test("LRU eviction keeps the total within the budget") {
    val memo = new ModelMemo(100 * KiB, 40 * KiB)
    val dir = source()
    def blob(tag: String) = memo.value("blob", dir, "t", tag)(new Array[Byte](30 * 1024))
    val a = blob("a")
    blob("b"); blob("c")
    assert(memo.bytes <= memo.budgetBytes)
    assert(blob("a") eq a) // a is now the most recent; b is the oldest
    blob("d")
    assert(memo.bytes <= memo.budgetBytes)
    assert(memo.stats("blob").evictions == 1)
    assert(blob("a") eq a)
    val misses = memo.stats("blob").misses
    blob("b") // evicted: retrains
    assert(memo.stats("blob").misses == misses + 1)
    assert(memo.bytes <= memo.budgetBytes)
  }

  test("an entry over the cap is declined and served uncached") {
    val memo = new ModelMemo(100 * KiB, 12 * KiB)
    val dir = source()
    val trainings = new AtomicInteger
    def big = memo.value("big", dir, "t") {
      trainings.incrementAndGet(); new Array[Byte](16 * 1024)
    }
    assert(big.length == 16 * 1024)
    assert(big.length == 16 * 1024)
    assert(trainings.get == 2)
    assert(memo.bytes == 0)
    assert(memo.stats("big") == ModelMemo.Stats(hits = 0, misses = 1,
      declines = 2, evictions = 0))

    // frames: declined on count × defaultSize, before any collect
    val wide = memo.frame(spark, "wide", dir, "t")(spark.range(0, 2000).toDF("id"))
    assert(wide.count() == 2000)
    assert(memo.stats("wide").declines == 1 && memo.bytes == 0)
    // a small frame is kept and served back identical from the rows
    val small = memo.frame(spark, "small", dir, "t")(spark.range(0, 10).toDF("id"))
    val again = memo.frame(spark, "small", dir, "t")(fail("small retrained"))
    assert(again.collect().toSeq == small.collect().toSeq)
    assert(again.schema == small.schema)
    assert(memo.stats("small").hits == 1 && memo.bytes > 0)
  }
}
