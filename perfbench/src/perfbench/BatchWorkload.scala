package perfbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import PerfBench._

/** `uba_batch` and `eager_build`: repeated passes over a mix of registered
  * queries, the catalog cache cleared before each query.
  *
  * Set-up ends with two untimed passes: the first writes every query's
  * output for the DuckDB oracle compare and runs the timed action once, the
  * second runs the action again, so codegen, JIT and memo training are done
  * before timing starts. Timed passes then run
  * until `--seconds` have passed (at least one whole pass; two when traced,
  * so that every query runs once traced and once not).
  * The seed permutes the query order of every timed pass; outputs do not
  * depend on it. The set-up passes keep the mix order, so the JIT profile
  * they leave does not depend on the seed either (see [[StreamWorkload]]).
  */
object BatchWorkload {

  def run(spark: SparkSession, a: Args, mix: Seq[String], sf: String): Map[String, Any] = {
    val queries = graft.SparkEntry.queries
    val out = s"${a.work}/out"
    val rows = mutable.LinkedHashMap.empty[String, Long]
    val warmErrors = mutable.LinkedHashMap.empty[String, String]
    canary(spark, a.data)
    mix.foreach { n =>
      spark.catalog.clearCache()
      try {
        val df = queries(n)(spark, sf)
        df.write.mode("overwrite").parquet(s"$out/$n")
        rows(n) = df.count()
      } catch { case e: Throwable => warmErrors(n) = errorText(e) }
    }
    // the JIT is still compiling after one pass (the next pass ran 20-30%
    // faster), so a second untimed pass runs the timed action again
    mix.filterNot(warmErrors.contains).foreach { n =>
      spark.catalog.clearCache()
      queries(n)(spark, sf).count()
    }
    note("warm passes done")

    val tracer = if (a.trace) Some(new Tracer(spark)) else None
    tracer.foreach(spark.sparkContext.addSparkListener)
    val ops = mutable.ArrayBuffer.empty[Op]
    val canaries = mutable.ArrayBuffer.empty[Double]
    val owners = mutable.ArrayBuffer.empty[Int]
    var tracedWallMs = 0.0
    val minPasses = if (a.trace) 2 else 1
    val setupS = sinceJvmStart
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var pass = 0
    var done = false
    while (!done) {
      val order = new scala.util.Random(a.seed * 1000003L + pass).shuffle(mix)
      val it = order.iterator
      while (it.hasNext && !done) {
        val n = it.next()
        canaries += canary(spark, a.data)
        // each query runs traced in one pass and untraced in the next; the
        // flush keeps every run's listener events on its own side
        val traced = tracer.isDefined && (pass + mix.indexOf(n)) % 2 == 1
        tracer.foreach { t => t.flush(); t.active = traced }
        spark.catalog.clearCache()
        val op = ops.size
        val span = tracer.filter(_ => traced).map(_.open(op, s"query:$n", -1))
        def child(name: String): Int =
          span.map(p => tracer.get.open(op, name, p)).getOrElse(-1)
        def within[A](owner: Int)(body: => A): A =
          if (owner < 0) body else tracer.get.owning(owner)(body)
        val t1 = System.nanoTime()
        val c1 = cpuMs
        val record = try {
          val build = child("build")
          val df = within(build)(queries(n)(spark, sf))
          val t2 = System.nanoTime()
          span.foreach(_ => tracer.get.close(build))
          val action = child("action")
          val count = within(action)(df.count())
          val t3 = System.nanoTime()
          span.foreach(_ => tracer.get.close(action))
          if (span.isDefined) owners ++= Seq(build, action)
          val expected = rows.get(n)
          Op(n, pass, (t3 - t1) / 1e6, cpuMs - c1, (t2 - t1) / 1e6, traced, expected.contains(count),
            if (expected.contains(count)) "" else s"count $count, warm pass ${expected.getOrElse("failed")}")
        } catch {
          case e: Throwable =>
            Op(n, pass, (System.nanoTime() - t1) / 1e6, cpuMs - c1, 0.0, traced, false, errorText(e))
        }
        span.foreach(s => tracer.get.close(s, Map("ok" -> record.ok)))
        if (traced) tracedWallMs += record.ms
        ops += record
        if (pass >= minPasses && elapsed >= a.seconds) done = true
      }
      pass += 1
      if (pass >= minPasses && elapsed >= a.seconds) done = true
    }
    val measureS = elapsed

    val layers = tracer.map { t =>
      t.flush()
      t.active = false
      val traced = ops.filter(_.traced)
      val passes = traced.size.toDouble / mix.size
      def perPass(f: Op => Double) = traced.map(f).sum / passes
      val builds = owners.grouped(2).map(_.head).toSet
      val buildJobs = owners.filter(builds).flatMap(t.counters.get).map(_.jobs).sum
      val actionJobs = owners.filterNot(builds).flatMap(t.counters.get).map(_.jobs).sum
      val spans = t.finish()
      val perQuery = traced.groupBy(_.kind).map { case (k, os) => k -> os.size }
      val m = layerMetrics(t, owners, passes, tracedWallMs, cores)
      m ++= Seq(
        "jobs.build_s" -> perPass(_.buildMs) / 1e3,
        "jobs.action_s" -> perPass(o => o.ms - o.buildMs) / 1e3,
        "jobs.build_spark_jobs" -> buildJobs / passes,
        "jobs.action_spark_jobs" -> actionJobs / passes) ++ memoStats ++ streamingZeros
      writeTrace(a, Map("spans" -> spans.map(spanMap), "ops_per_query" -> perQuery,
        "counters" -> owners.flatMap(o => t.counters.get(o).map(c => o -> c.toMap)).toMap))
      m
    }
    Map("workload" -> a.workload, "seed" -> a.seed, "cores" -> cores, "mix" -> mix,
      "data_dir" -> sf, "out_dir" -> out, "setup_s" -> setupS, "measure_s" -> measureS,
      "ops" -> ops.map(_.toMap), "warm_rows" -> rows, "warm_errors" -> warmErrors,
      "oracle" -> mix.flatMap(n => graft.SparkEntry.oracleSql.get(n).map(n -> _)).toMap,
      "canary_s" -> canaries, "heap_peak_mb" -> heapPeakMb, "trace" -> layers)
  }

  /** The only memo counter the engine exposes today: the CF similarity lists. */
  def memoStats: Seq[(String, Double)] = {
    val Array(hits, misses) = graft.jobs.AnalyticsJobs.simMemoStats.split("/").map(_.toDouble)
    Seq("jobs.cf_memo_hits" -> hits, "jobs.cf_memo_misses" -> misses)
  }

  val streamingZeros: Seq[(String, Double)] = StreamWorkload.MetricNames.map(_ -> 0.0) ++
    Seq("baseline.local1_rows_per_s" -> 0.0)
}
