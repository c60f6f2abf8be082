package graft.tools

import org.apache.spark.sql.SparkSession

/** The one session and timing policy shared by every main (Bench, Verify,
  * BenchOne, PlanAudit, PlanSnap, Probe) and the test session, so a number
  * taken by one tool runs under the same conf as the others.
  */
object Harness {

  /** SCALE §8f: AQE listener events stringify the plan; un-checkpointed
    * iterative lineages hit multi-GB plan strings (measured 1.98 GB →
    * driver OOM inside explainString). The cap changes log text only.
    * Timed runs (Bench, BenchOne, Probe) use the tight cap.
    */
  val TimedPlanChars: Int = 16384

  /** Cap for sessions that read plan strings (Verify, PlanAudit, PlanSnap,
    * the specs). A 16 KB cap silently weakens every negative plan assert
    * (measured: it cut bloom_might_contain out of the prescreen pin), and
    * 1 MB truncates PlanAudit's longest executed plan (item_triangles,
    * 1.21 M chars at sf0.001). Kept near that: the SQL status listener
    * retains each execution's plan string up to this cap, and the §8f
    * lineages (1.5 G chars in GraphSpec's hits) always reach it.
    */
  val PlanChars: Int = 2 << 20

  /** `SPARK_GRAFT_CPUS`, else 4. */
  def cores: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  def session(cores: Int, planChars: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.maxPlanStringLength", planChars.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Untimed warm-up (codegen, JIT) so the first timed run isn't charged
    * for JVM startup.
    */
  def warm(spark: SparkSession): Unit =
    spark.range(1000000L).selectExpr("sum(id)").collect()

  /** Seconds spent in `body`, after clearing the catalog cache: cached
    * frames match by logical-plan equality, so without the clear a run
    * could silently reuse a previous query's (or its own prior run's)
    * cache — each measurement must stand alone.
    */
  def timed(spark: SparkSession)(body: => Any): Double = {
    spark.catalog.clearCache()
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  /** Upper median of a non-empty sample. */
  def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)

  /** JSON string literal: backslash, quote and ALL control chars (< 0x20)
    * escaped — one raw control char makes the whole line invalid JSON.
    */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
