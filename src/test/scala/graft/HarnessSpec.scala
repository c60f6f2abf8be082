package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import graft.tools.Harness

class HarnessSpec extends SparkSpec {

  test("the shared test session runs under Harness's conf") {
    val conf = spark.conf
    assert(conf.get("spark.sql.shuffle.partitions") == "4")
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.ui.enabled") == "false")
    assert(conf.get("spark.sql.maxPlanStringLength") ==
      Harness.PlanChars.toString)
  }

  test("jsonString escapes quotes, backslashes and every control char") {
    val s = "a\"b\\c\td\u0001e\nf"
    val lit = Harness.jsonString(s)
    assert(!lit.exists(_ < ' '))
    assert(new ObjectMapper().readValue(lit, classOf[String]) == s)
  }

  test("Verify.dump writes only the named queries and keeps the session") {
    val out = Files.createTempDirectory("graft-verify").toString
    val names = Seq("hot_items_sql", "windowed_avg")
    Verify.dump(spark, sf("sf0.001"), out, names)
    val written = new java.io.File(out).list().toSet
    assert(written == names.toSet + "oracle_sql.json")
    val oracle = new ObjectMapper().readTree(
      Files.readString(Paths.get(s"$out/oracle_sql.json")))
    assert(oracle.fieldNames().asScala.toSet == names.toSet)
    assert(spark.read.parquet(s"$out/hot_items_sql").count() > 0)
    intercept[IllegalArgumentException] {
      Verify.dump(spark, sf("sf0.001"), out, Seq("no_such_query"))
    }
    assert(!spark.sparkContext.isStopped)
    assert(spark.range(3).count() == 3)
  }
}
