package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Write `.explain("formatted")` for named queries to files — the
  * round-16 plan-evidence capture (`plans/r16/<query>_<tag>.txt`).
  *
  * Usage: sbt "runMain graft.tools.PlanSnap <outDir> <tag> q1 [q2 ...]"
  * Runs on sf0.001 (plan SHAPE is SF-independent; fixtures stay cheap).
  */
object PlanSnap {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanSnap <outDir> <tag> <query>...")
    val outDir = Paths.get(args(0)); val tag = args(1)
    val names = args.drop(2).toSeq
    Files.createDirectories(outDir)
    val sfDir =
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = Harness.session(Harness.cores, Harness.PlanChars)
    // SPARK_GRAFT_PLAN_MODE=simple shows the *(n) WholeStageCodegen span
    // markers FormattedMode omits (the r17 codegen-coverage evidence).
    val mode = sys.env.getOrElse("SPARK_GRAFT_PLAN_MODE", "formatted") match {
      case "simple" => org.apache.spark.sql.execution.SimpleMode
      case _ => org.apache.spark.sql.execution.FormattedMode
    }
    names.foreach { name =>
      spark.catalog.clearCache()
      // a slim-handoff query's own plan is one ExistingRDD scan: read the
      // lineage its cut truncated, as PlanAudit does
      val df = graft.ops.Handoff.lineage(
        graft.SparkEntry.queries(name)(spark, sfDir))
      val txt = df.queryExecution.explainString(mode)
      Files.write(outDir.resolve(s"${name}_$tag.txt"),
        txt.getBytes(StandardCharsets.UTF_8))
      println(s"[plansnap] wrote ${name}_$tag.txt (${txt.length} chars)")
    }
    spark.stop()
  }
}
