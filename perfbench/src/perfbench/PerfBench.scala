package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** The repo benchmark's JVM side: runs one workload in one Spark JVM and
  * prints one `PERFBENCH {...}` line with every operation's latency, the
  * set-up time, the output checks made in the JVM and, when traced, the
  * per-layer counters. `perfbench/run.py` turns that line into the metrics.
  *
  * An operation is a closed-loop client call: one query run (`fn(spark, sf)`
  * plus `count()` on the returned frame) or one micro-batch offered to one
  * stream job (`addData` plus `processAllAvailable`). The next operation
  * starts only when the previous one returned.
  */
object PerfBench {

  /** One timed operation: wall ms, and the CPU ms all threads of the JVM
    * (client, Spark tasks, stream threads, JIT, GC) spent meanwhile.
    */
  final case class Op(kind: String, pass: Int, ms: Double, cpuMs: Double, buildMs: Double,
      traced: Boolean, ok: Boolean, error: String) {
    def toMap: Map[String, Any] = Map("kind" -> kind, "pass" -> pass, "ms" -> ms,
      "cpu_ms" -> cpuMs, "build_ms" -> buildMs, "traced" -> traced, "ok" -> ok, "error" -> error)
  }

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of the whole JVM process, in ms. */
  def cpuMs: Double = osBean.getProcessCpuTime / 1e6

  final case class Args(workload: String = "", seed: Long = 1, seconds: Double = 10,
      trace: Boolean = false, data: String = "", work: String = "",
      expected: String = "", train: Boolean = false, record: Boolean = false)

  /** The reference's batch jobs as registered queries. */
  val UbaBatch: Seq[String] = Seq("hot_items_topn", "hot_items_sql", "hot_pages_topn",
    "sliding_window_counts", "order_timeout", "order_cep", "interval_join",
    "tx_unmatched_pays", "tx_unmatched_receipts")

  /** Two queries whose construction runs eager checkpoints and many small
    * jobs, and `sorted_neighborhood`, whose action is a storm of small jobs.
    */
  val EagerBuild: Seq[String] = Seq("ngram_jaccard", "cross_modal_clusters",
    "sorted_neighborhood")

  def parse(argv: List[String], a: Args = Args()): Args = argv match {
    case Nil => a
    case "--workload" :: v :: t => parse(t, a.copy(workload = v))
    case "--seed" :: v :: t => parse(t, a.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, a.copy(seconds = v.toDouble))
    case "--trace" :: v :: t => parse(t, a.copy(trace = v == "1"))
    case "--data" :: v :: t => parse(t, a.copy(data = v))
    case "--work" :: v :: t => parse(t, a.copy(work = v))
    case "--expected" :: v :: t => parse(t, a.copy(expected = v))
    case "--train" :: t => parse(t, a.copy(train = true))
    case "--record" :: t => parse(t, a.copy(record = true))
    case x :: _ => throw new IllegalArgumentException(s"unknown argument $x")
  }

  def cores: Int = math.min(4, Runtime.getRuntime.availableProcessors)

  /** graft.Bench's session conf, with scratch space kept in the work dir. */
  def session(n: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$n]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.maxPlanStringLength", "16384")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Seconds since the JVM started: set-up ends at the first timed operation. */
  def sinceJvmStart: Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  def heapPeakMb: Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** Progress notes go to stderr, which run.py keeps in the run's jvm.log. */
  def note(what: String): Unit = System.err.println(f"perfbench: $what at $sinceJvmStart%.2f s")

  def errorText(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"

  /** graft.Bench's constant-work scan, the fastest of three; a slow box
    * shows here as well as in the operations, an engine change only in the
    * operations. No engine code runs in it.
    */
  def canary(spark: SparkSession, data: String): Double =
    (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      spark.read.parquet(s"$data/sf0.1/documents.parquet").count()
      (System.nanoTime() - t0) / 1e9
    }.min

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toList)
    val spark = session(cores, a.work)
    note("session ready")
    val result =
      if (a.train) { train(spark, a); Map.empty[String, Any] }
      else if (a.record) StreamWorkload.record(spark, a)
      else a.workload match {
        case "uba_batch" => BatchWorkload.run(spark, a, UbaBatch, s"${a.data}/sf0.1")
        case "eager_build" => BatchWorkload.run(spark, a, EagerBuild, s"${a.data}/sf0.01")
        case "uba_stream" => StreamWorkload.run(spark, a)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
    SparkSession.getActiveSession.foreach(_.stop())
    if (result.nonEmpty) println("PERFBENCH " + Json(result))
    System.out.flush()
    sys.exit(0)
  }

  /** Loads the Spark and engine classes the workloads share, for the
    * build's CDS archive; kept short because every build pays for it.
    */
  private def train(spark: SparkSession, a: Args): Unit = {
    val queries = graft.SparkEntry.queries
    UbaBatch.foreach(n => queries(n)(spark, s"${a.data}/sf0.01").count())
    canary(spark, a.data)
    StreamWorkload.train(spark, a)
  }

  def spanMap(s: Span): Map[String, Any] = Map("id" -> s.id, "op" -> s.op, "name" -> s.name,
    "parent" -> s.parent, "start_ms" -> s.startMs, "end_ms" -> s.endMs) ++ s.attrs

  /** The traced run's spans and per-owner counters, written at exit. */
  def writeTrace(a: Args, content: Map[String, Any]): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(a.work, "trace.json"),
      Json(content + ("workload" -> a.workload) + ("seed" -> a.seed)))

  /** Per-layer counters shared by the batch and stream workloads, per pass
    * of the mix over the traced passes; stream-only ones read 0 on batch
    * workloads and construction-only ones 0 on the stream workload.
    */
  def layerMetrics(t: Tracer, owners: Iterable[Int], passes: Double, wallMs: Double,
      n: Int): mutable.LinkedHashMap[String, Double] = {
    val c = new Counters
    owners.foreach(o => t.counters.get(o).foreach(c += _))
    val per = if (passes > 0) 1.0 / passes else 0.0
    mutable.LinkedHashMap(
      "spark.jobs" -> c.jobs * per,
      "spark.stages" -> c.stages * per,
      "spark.tasks" -> c.tasks * per,
      "spark.task_ms" -> c.taskMs * per,
      "spark.task_max_ms" -> c.taskMaxMs.toDouble,
      "spark.gc_ms" -> c.gcMs * per,
      "spark.busy_ratio" -> (if (wallMs > 0) c.taskMs / (wallMs * n) else 0.0),
      "plan.ms" -> c.planMs * per,
      "io.input_records" -> c.inputRecords * per,
      "io.input_bytes" -> c.inputBytes * per,
      "shuffle.write_bytes" -> c.shuffleWrite * per,
      "shuffle.read_bytes" -> c.shuffleRead * per,
      "shuffle.spill_bytes" -> c.spill * per,
      "ops.cache_peak_bytes" -> t.storagePeak.toDouble)
  }
}
