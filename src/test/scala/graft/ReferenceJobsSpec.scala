package graft

import graft.jobs.ReferenceJobs
import graft.io.Sinks
import org.apache.spark.sql.functions._

/** The seven reference mains, driven on the reference's own bundled files
  * (read-only). hotItems has no bundled CSV (UserBehavior.csv absent from
  * the snapshot) — covered with a generated file in the same format.
  */
class ReferenceJobsSpec extends SparkSpec {
  import spark.implicits._

  private val res = "/root/reference/src/main/resources"

  private lazy val behaviorCsv: String = {
    // regenerate a UserBehavior.csv-shaped fixture (schema per FIXTURES.md)
    val dir = java.nio.file.Files.createTempDirectory("ub").toFile
    val f = new java.io.File(dir, "UserBehavior.csv")
    val w = new java.io.PrintWriter(f)
    val rnd = new scala.util.Random(42)
    (0 until 2000).foreach { i =>
      val user = 100000 + rnd.nextInt(500)
      val item = 1000 + rnd.nextInt(50)
      val cat = rnd.nextInt(100)
      val behavior = Seq("pv", "pv", "pv", "buy", "cart", "fav")(rnd.nextInt(6))
      val ts = 1511658000L + i * 10
      w.println(s"$user,$item,$cat,$behavior,$ts")
    }
    w.close()
    f.getAbsolutePath
  }

  test("hotItems: DataFrame and SQL paths agree on the same CSV") {
    val a = ReferenceJobs.hotItems(spark, behaviorCsv)
      .select($"window_end", $"itemId", $"cnt", $"rn")
    val b = ReferenceJobs.hotItemsSql(spark, behaviorCsv)
    assert(!spark.catalog.tableExists("graft_ref_user_behavior"),
      "hotItemsSql left its temp view in the session")
    assert(a.count() > 0)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
    assert(a.groupBy($"window_end").count().agg(max("count")).as[Long].head() <= 5)
  }

  test("hotPages parses apache.log and ranks GET pages without static assets") {
    val out = ReferenceJobs.hotPages(spark, s"$res/apache.log").cache()
    assert(out.count() > 0)
    assert(out.filter($"url".rlike("\\.(css|js|png|ico)$")).count() == 0)
    assert(out.filter($"rn" > 3).count() == 0)
    out.unpersist()
  }

  test("orderPayTimeout classifies the bundled OrderLog") {
    val out = ReferenceJobs.orderPayTimeout(spark, s"$res/OrderLog.csv")
    val byState = out.groupBy($"resultState").count()
      .as[(String, Long)].collect().toMap
    assert(byState("payed successfully") == 37)
    assert(byState("timeout") == 1)
    assert(byState("payed but not found created") == 1)
    assert(byState("payed but already timeout") == 1)
  }

  test("txPayMatch tagged outputs split into the reference's side outputs") {
    val out = ReferenceJobs.txPayMatch(
      spark, s"$res/OrderLog.csv", s"$res/ReceiptLog.csv")
    val split = Sinks.splitByTag(out, "tag",
      Seq("matched", "unmatched_pay", "unmatched_receipt"))
    assert(split("matched").count() == 37)
    assert(split("unmatched_pay").count() == 2)
    assert(split("unmatched_receipt").count() == 3)
  }

  test("txPayMatchByJoin matches only receipts within [-3s, +5s]") {
    val out = ReferenceJobs.txPayMatchByJoin(
      spark, s"$res/OrderLog.csv", s"$res/ReceiptLog.csv").cache()
    assert(out.count() > 0)
    val bad = out.filter(
      $"receipt_ts" < $"pay_ts" - expr("INTERVAL 3 SECONDS") ||
        $"receipt_ts" > $"pay_ts" + expr("INTERVAL 5 SECONDS"))
    assert(bad.count() == 0)
    // interval join is a subset of the unconditioned equi-join
    assert(out.count() <= 37)
    out.unpersist()
  }
}
