package perfbench

import java.util.concurrent.{CountDownLatch, TimeUnit}
import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One timed interval of the traced run. All spans of one operation share
  * `op`; `parent` is the span that caused this one (-1 for an operation).
  */
final case class Span(id: Int, op: Int, name: String, parent: Int,
    startMs: Double, endMs: Double, attrs: Map[String, Any])

/** Work counted against one owner: a build or action span of a query, or
  * one streaming job.
  */
final class Counters {
  var jobs, stages, tasks = 0L
  var taskMs, taskMaxMs, gcMs = 0L
  var inputRecords, inputBytes = 0L
  var shuffleWrite, shuffleRead, spill = 0L
  var planMs = 0.0

  def +=(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    taskMs += o.taskMs; taskMaxMs = math.max(taskMaxMs, o.taskMaxMs); gcMs += o.gcMs
    inputRecords += o.inputRecords; inputBytes += o.inputBytes
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead; spill += o.spill
    planMs += o.planMs
  }

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks, "task_ms" -> taskMs,
    "task_max_ms" -> taskMaxMs, "gc_ms" -> gcMs, "input_records" -> inputRecords,
    "input_bytes" -> inputBytes, "shuffle_write_bytes" -> shuffleWrite,
    "shuffle_read_bytes" -> shuffleRead, "spill_bytes" -> spill, "plan_ms" -> planMs)
}

/** Records spans in memory and counts Spark's work per owner span, from
  * outside the engine: the client thread opens spans around its calls, and
  * Spark's own listener events are attributed to them through a local
  * property ([[Tracer.SpanKey]]) that the client sets before each call.
  * Stream jobs inherit the property from the thread that started them.
  *
  * Listener events arrive asynchronously, so [[flush]] runs a marker job and
  * waits until its events have been delivered; the client calls it between
  * a traced and an untraced stretch, so neither is charged for the other.
  */
final class Tracer(spark: SparkSession) extends SparkListener {
  import Tracer._

  private val t0 = System.nanoTime()
  def nowMs: Double = (System.nanoTime() - t0) / 1e6
  private val epochAtT0 = System.currentTimeMillis() - nowMs
  def epochToMs(epochMs: Long): Double = epochMs - epochAtT0

  /** Traced stretches count; events of untraced ones are ignored. */
  @volatile var active = false

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val opOf = mutable.HashMap.empty[Int, Int] // span -> operation
  val counters = mutable.LinkedHashMap.empty[Int, Counters] // owner span -> work
  private val stageOwner = mutable.HashMap.empty[Int, (Int, Int)] // stage -> (owner, Spark job)
  private val execOwner = mutable.HashMap.empty[Long, Int] // SQL execution -> owner
  private val openJobs = mutable.HashMap.empty[Int, (Int, Double, Map[String, Any])]
  private val jobSpanIds = mutable.HashMap.empty[Int, Int] // Spark job -> its span
  private val stagesDone = mutable.ArrayBuffer.empty[(Span, Int)] // stage span, Spark job
  private val blocks = mutable.HashMap.empty[String, Long]
  private var storageNow = 0L
  var storagePeak = 0L
  private val flushJobs = mutable.HashSet.empty[Int]
  private var flushLatch: CountDownLatch = _

  private def add(s: Span): Int = synchronized {
    val id = spans.size
    spans += s.copy(id = id)
    opOf(id) = s.op
    id
  }

  def open(op: Int, name: String, parent: Int, startMs: Double = nowMs): Int =
    add(Span(-1, op, name, parent, startMs, Double.NaN, Map.empty))

  def close(id: Int, attrs: Map[String, Any] = Map.empty, endMs: Double = nowMs): Unit =
    synchronized(spans(id) = spans(id).copy(endMs = endMs, attrs = spans(id).attrs ++ attrs))

  /** A span whose interval is already known (stream triggers). */
  def record(op: Int, name: String, parent: Int, startMs: Double, endMs: Double,
      attrs: Map[String, Any]): Int =
    add(Span(-1, op, name, parent, startMs, endMs, attrs))

  /** Runs `body` with Spark jobs it starts attributed to span `owner`. */
  def owning[A](owner: Int)(body: => A): A = {
    val sc = spark.sparkContext
    sc.setLocalProperty(SpanKey, owner.toString)
    try body finally sc.setLocalProperty(SpanKey, null)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    if (props.exists(_.getProperty(FlushKey) != null)) flushJobs += e.jobId
    else if (active) props.flatMap(p => Option(p.getProperty(SpanKey))).map(_.toInt).foreach {
      owner =>
        counters.getOrElseUpdate(owner, new Counters).jobs += 1
        val attrs = Map[String, Any]("spark_job" -> e.jobId) ++
          Option(e.properties.getProperty(BatchIdKey)).map("batch_id" -> _.toLong)
        openJobs(e.jobId) = (owner, epochToMs(e.time), attrs)
        e.stageIds.foreach(s => stageOwner(s) = (owner, e.jobId))
        Option(e.properties.getProperty("spark.sql.execution.id"))
          .foreach(x => execOwner(x.toLong) = owner)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    if (flushJobs.remove(e.jobId)) flushLatch.countDown()
    else openJobs.remove(e.jobId).foreach { case (owner, start, attrs) =>
      jobSpanIds(e.jobId) =
        add(Span(-1, opOf(owner), "job", owner, start, epochToMs(e.time), attrs))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    stageOwner.get(info.stageId).foreach { case (owner, job) =>
      counters(owner).stages += 1
      val start = info.submissionTime.map(epochToMs).getOrElse(Double.NaN)
      val end = info.completionTime.map(epochToMs).getOrElse(Double.NaN)
      // the job's span is written when the job ends, after its stages
      stagesDone += ((Span(-1, opOf(owner), "stage", -1, start, end,
        Map("stage" -> info.stageId, "tasks" -> info.numTasks)), job))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) stageOwner.get(e.stageId).foreach { case (owner, _) =>
      val c = counters(owner)
      c.tasks += 1
      val ms = m.executorRunTime
      c.taskMs += ms; c.taskMaxMs = math.max(c.taskMaxMs, ms); c.gcMs += m.jvmGCTime
      c.inputRecords += m.inputMetrics.recordsRead
      c.inputBytes += m.inputMetrics.bytesRead
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    val key = info.blockId.name
    val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
    storageNow += size - blocks.getOrElse(key, 0L)
    if (size == 0L) blocks.remove(key) else blocks(key) = size
    if (active) storagePeak = math.max(storagePeak, storageNow)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case end: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd =>
      synchronized(execOwner.remove(end.executionId)).foreach { owner =>
        planningMs(end).foreach(ms => synchronized(counters(owner).planMs += ms))
      }
    case _ =>
  }

  /** Waits until every listener event posted so far has been delivered. */
  def flush(): Unit = {
    val latch = new CountDownLatch(1)
    synchronized { flushLatch = latch }
    val sc = spark.sparkContext
    sc.setLocalProperty(FlushKey, "1")
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(FlushKey, null)
    latch.await(30, TimeUnit.SECONDS)
  }

  /** All spans, each stage under the span of the job that ran it. */
  def finish(): Seq[Span] = synchronized {
    stagesDone.foreach { case (s, job) => add(s.copy(parent = jobSpanIds.getOrElse(job, -1))) }
    stagesDone.clear()
    spans.toList
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
  val FlushKey = "perfbench.flush"
  val BatchIdKey = "streaming.sql.batchId"

  /** Analysis, optimization and planning time of one SQL execution. The
    * execution's QueryExecution rides on the end event for in-process
    * listeners; it is not part of the public listener API, so it is read
    * reflectively and a missing accessor counts nothing.
    */
  private def planningMs(e: SparkListenerEvent): Option[Double] =
    try {
      val qe = e.getClass.getMethod("qe").invoke(e)
        .asInstanceOf[org.apache.spark.sql.execution.QueryExecution]
      Option(qe).map(_.tracker.phases.values.map(_.durationMs).sum.toDouble)
    } catch { case _: ReflectiveOperationException => None }
}
