package graft.tools

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession

/** Per-query bench harness: `runMain graft.tools.BenchOne <query> [runs]`
  * times one registered query with the same session and cache-cleared
  * discipline as [[graft.Bench]] and prints each run plus the median — the
  * tool for chasing a single bench line without paying for the whole
  * registry. `SPARK_GRAFT_SF_DIR` / `SPARK_GRAFT_CPUS` as in Bench. Each
  * run line also counts the Spark jobs it started, its codegen compiles,
  * its [[graft.model.ModelMemo]] hits/misses, and lists the
  * [[graft.ops.Regime]] choices it made.
  */
object BenchOne {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: BenchOne <queryName> [runs]")
    val name = args(0)
    val runs = if (args.length > 1) args(1).toInt else 3
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val fn = graft.SparkEntry.queries.getOrElse(name,
      sys.error(s"unknown query '$name'; known: " +
        graft.SparkEntry.queries.keys.toSeq.sorted.mkString(", ")))
    val spark = Harness.session(Harness.cores, Harness.TimedPlanChars)
    Harness.warm(spark)
    val times = (1 to runs).map { i =>
      var n = 0L
      val before = counters(spark)
      val regimesBefore = graft.ops.Regime.stats
      val dt = Harness.timed(spark) { n = fn(spark, sfDir).count() }
      val Seq(jobs, compiles, hits, misses) =
        counters(spark).zip(before).map { case (a, b) => a - b }
      println(f"[benchone] run $i: $dt%.3f s ($n rows) jobs=${jobs - 1}" +
        s" compiles=$compiles memo_hit_miss=$hits/$misses" +
        s" regimes=${regimes(regimesBefore, graft.ops.Regime.stats)}")
      dt
    }
    println(f"[benchone] $name median: ${Harness.median(times)}%.3f s")
    spark.stop()
  }

  /** (jobs, codegen compiles, memo hits, memo misses) so far. Spark numbers
    * jobs in submission order, so a one-task marker job's id counts the
    * jobs before it (a pair of calls brackets its own marker too).
    */
  private def counters(spark: SparkSession): Seq[Long] = {
    val mark = spark.sparkContext.parallelize(Seq(0), 1).countAsync()
    mark.get()
    val memo = graft.model.ModelMemo.shared.stats.values
    Seq(mark.jobIds.head, CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      memo.map(_.hits).sum, memo.map(_.misses).sum)
  }

  /** The choices between two [[graft.ops.Regime.stats]] snapshots, by
    * site: `union_find:S,spread:L2` (S small, L large, a count past one),
    * `none` when the run chose nothing.
    */
  private def regimes(before: Map[String, graft.ops.Regime.Stats],
      after: Map[String, graft.ops.Regime.Stats]): String = {
    def tag(letter: String, n: Long) =
      if (n == 0) "" else if (n == 1) letter else s"$letter$n"
    val made = after.toSeq.sortBy(_._1).flatMap { case (site, a) =>
      val b = before.getOrElse(site, graft.ops.Regime.Stats(0, 0))
      val t = tag("S", a.small - b.small) + tag("L", a.large - b.large)
      if (t.isEmpty) None else Some(s"$site:$t")
    }
    if (made.isEmpty) "none" else made.mkString(",")
  }
}
