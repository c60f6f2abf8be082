package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import graft.io.Tables

/** `Tables.load` memoizes the inferred parquet schema: an unchanged table
  * loads without a schema-inference job, a rewritten one is inferred afresh.
  */
class TablesSpec extends SparkSpec {

  /** Spark jobs that `body` starts, counted once the listener queue has
    * delivered a marker job posted after it.
    */
  private def jobsOf(body: => Unit): Int = {
    val marker = s"tables-jobs-${System.nanoTime()}"
    val seen = new AtomicInteger
    @volatile var drained = false
    val listener = new SparkListener {
      override def onJobStart(job: SparkListenerJobStart): Unit =
        if (Option(job.properties).exists(_.getProperty("spark.jobGroup.id") == marker))
          drained = true
        else seen.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobGroup(marker, marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!drained && System.nanoTime() < deadline) Thread.sleep(20)
      assert(drained, "listener never saw the marker job")
    } finally sc.removeSparkListener(listener)
    seen.get
  }

  test("a second unchanged load starts no job; a rewrite is seen") {
    val dir = Files.createTempDirectory("tables_spec").toString
    val path = s"$dir/t.parquet"
    spark.range(0, 5).toDF("a").write.parquet(path)
    assert(Tables.load(spark, dir, "t").columns.toSeq == Seq("a"))
    assert(jobsOf(Tables.load(spark, dir, "t")) == 0)
    spark.range(0, 5).toDF("a").withColumn("b", col("a") * 2)
      .write.mode("overwrite").parquet(path)
    val rewritten = Tables.load(spark, dir, "t")
    assert(rewritten.columns.toSeq == Seq("a", "b"))
    assert(rewritten.agg(sum(col("b"))).head().getLong(0) == 20L)
  }

  test("a missing table fails with Spark's own error") {
    val dir = Files.createTempDirectory("tables_spec").toString
    val e = intercept[org.apache.spark.sql.AnalysisException](
      Tables.load(spark, dir, "absent"))
    assert(e.getMessage.contains("PATH_NOT_FOUND"), e.getMessage)
  }
}
