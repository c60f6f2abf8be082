package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import graft.tools.Harness
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the DuckDB oracle compare
  * (`scripts/check_oracle.py`).
  *
  * Usage: sbt "runMain graft.Verify <sfDir> <outDir> [query...]" — with
  * query names, only those are dumped (the dev loop for one operator).
  */
object Verify {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Verify <sfDir> <outDir> [query...]")
    val names =
      if (args.length > 2) args.drop(2).toSeq else SparkEntry.queries.keys.toSeq
    val spark = Harness.session(Harness.cores, Harness.PlanChars)
    dump(spark, args(0), args(1), names)
    spark.stop()
  }

  /** Writes `names`' results under `outDir/<name>` and their oracle SQL to
    * `outDir/oracle_sql.json`. A failing query is logged, not fatal; the
    * session stays open.
    */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
      names: Seq[String]): Unit = {
    val queries = SparkEntry.queries
    val unknown = names.filterNot(queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      // per-query cached frames (signatures, buckets, gram sets) are only
      // needed within their own query — drop them so 40+ queries don't
      // accumulate dead storage blocks in one session
      spark.catalog.clearCache()
      try queries(name)(spark, sfDir).coalesce(1).write
        .mode("overwrite").parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    val wanted = names.toSet
    val json = SparkEntry.oracleSql.iterator.filter { case (k, _) => wanted(k) }
      .map { case (k, v) => s"${Harness.jsonString(k)}: ${Harness.jsonString(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }
}
