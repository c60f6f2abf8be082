package graft

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.QueryPlan
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Every distributed fixpoint loop plans each round in constant size: the
  * largest executed plan of any query a loop runs over k ≥ 6 rounds (AQE
  * on, the distributed regime forced) is bounded by a constant that does
  * not depend on k. A plan's size counts every node its tree string walks:
  * children, inner children (a cached relation's plan), subqueries, and
  * both the final and the initial plan of an adaptive query.
  */
class FixpointPlanSpec extends SparkSpec {
  import spark.implicits._
  import graft.ops.{Dedup, Graph}

  /** Node count of `p`, counting at most `cap + 1` nodes. */
  private def nodes(p: QueryPlan[_], cap: Int): Int = {
    var n = 0
    val todo = scala.collection.mutable.Stack[QueryPlan[_]](p)
    while (todo.nonEmpty && n <= cap) {
      n += 1
      todo.pop() match {
        case a: AdaptiveSparkPlanExec =>
          todo.push(a.executedPlan)
          if (a.initialPlan ne a.executedPlan) todo.push(a.initialPlan)
        case q: QueryStageExec => todo.push(q.plan)
        case q =>
          (q.children ++ q.innerChildren ++ q.subqueries)
            .foreach(c => todo.push(c.asInstanceOf[QueryPlan[_]]))
      }
    }
    n
  }

  /** The largest executed plan (in nodes, up to `cap + 1`) of any query
    * that `body` runs.
    */
  private def largestPlan(cap: Int)(body: => DataFrame): Int = {
    val plans = new ConcurrentLinkedQueue[Int]()
    val marker = s"fixpoint-plan-${System.nanoTime()}"
    @volatile var drained = false
    val queries = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(nodes(qe.executedPlan, cap))
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val jobs = new SparkListener {
      override def onJobStart(job: SparkListenerJobStart): Unit =
        if (Option(job.properties).exists(_.getProperty("spark.jobGroup.id") == marker))
          drained = true
    }
    val sc = spark.sparkContext
    spark.listenerManager.register(queries)
    sc.addSparkListener(jobs)
    try {
      body.collect()
      // both listeners share one event queue, which delivers in posting
      // order: once the marker job's start arrives, every query of `body`
      // has been reported
      sc.setJobGroup(marker, marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!drained && System.nanoTime() < deadline) Thread.sleep(20)
      assert(drained, "listener never saw the marker job")
    } finally {
      sc.removeSparkListener(jobs)
      spark.listenerManager.unregister(queries)
    }
    plans.toArray.map(_.asInstanceOf[Int]).max
  }

  private def withAqe[A](body: => A): A = {
    val key = "spark.sql.adaptive.enabled"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "true")
    try body
    finally prev match {
      case Some(p) => spark.conf.set(key, p)
      case None => spark.conf.unset(key)
    }
  }

  // symmetric chain 0-1-…-n: every distributed loop below needs one round
  // per hop along it, so a chain longer than k keeps k rounds busy
  private def chain(n: Int) =
    (0L until n.toLong).flatMap(i => Seq((i, i + 1), (i + 1, i)))

  private val rounds = 6

  /** `bound` is about twice the size each loop's plans settle at (its
    * seed frames' cached plans included); a plan that grows with the
    * round count exceeds it within a few rounds.
    */
  private def check(loop: String, bound: Int)(body: => DataFrame): Unit = {
    val n = withAqe(largestPlan(bound)(body))
    assert(n <= bound, s"$loop: a plan reached more than $bound nodes")
  }

  test("pageRank plans each round in constant size") {
    check("pageRank", 5000)(Graph.pageRank(chain(12).toDF("src", "dst"),
      iters = rounds, singleTaskBytes = 0L))
  }

  test("hits plans each round in constant size") {
    val rnd = new scala.util.Random(17)
    val edges = Seq.fill(150)((rnd.nextInt(20).toLong, 100L + rnd.nextInt(15)))
    check("hits", 400)(Graph.hits(edges.toDF("src", "dst"), iters = rounds,
      singleTaskBytes = 0L))
  }

  test("labelPropagation plans each round in constant size") {
    check("labelPropagation", 2000)(Graph.labelPropagation(
      chain(12).toDF("src", "dst"), iters = rounds, singleTaskBytes = 0L))
  }

  test("coreness plans each round in constant size") {
    // a 16-node path converges in ~8 h-index rounds
    check("coreness", 600)(Graph.coreness(chain(15).toDF("src", "dst"),
      iters = 12, singleTaskBytes = 0L))
  }

  test("hopDistances plans each round in constant size") {
    check("hopDistances", 2500)(Graph.hopDistances(
      chain(12).toDF("src", "dst"), Seq(0L).toDF("seed"), maxHops = rounds,
      singleTaskBytes = 0L))
  }

  test("minPlusDistances plans each round in constant size") {
    val weighted = chain(12).map { case (s, d) => (s, d, 1L) }
    check("minPlusDistances", 1000)(Graph.minPlusDistances(
      weighted.toDF("src", "dst", "w"), Seq(0L).toDF("seed"), rounds,
      singleTaskBytes = 0L))
  }

  test("connectedComponents plans each round in constant size") {
    // min-label propagation walks the 12-hop chain one hop a round
    val pairs = (0L until 12L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    check("connectedComponents", 300)(Dedup.connectedComponents(
      (0L to 12L).toDF("doc_id"), pairs, singleTaskBytes = 0L))
  }
}
