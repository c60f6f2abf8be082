package graft.tools

/** Per-query bench harness: `runMain graft.tools.BenchOne <query> [runs]`
  * times one registered query with the same session and cache-cleared
  * discipline as [[graft.Bench]] and prints each run plus the median — the
  * tool for chasing a single bench line without paying for the whole
  * registry. `SPARK_GRAFT_SF_DIR` / `SPARK_GRAFT_CPUS` as in Bench.
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
      val dt = Harness.timed(spark) { n = fn(spark, sfDir).count() }
      println(f"[benchone] run $i: $dt%.3f s ($n rows)")
      dt
    }
    println(f"[benchone] $name median: ${Harness.median(times)}%.3f s")
    spark.stop()
  }
}
