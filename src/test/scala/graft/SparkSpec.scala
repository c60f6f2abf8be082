package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.tools.Harness

/** Shared local session for all suites (one per suite via lazy val). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(name: String): String = s"/root/testdata/$name"
}

object SparkSpec {
  /** PlanChars, not Bench's 16 KB cap: plan-pinning specs string-match on
    * full executed plans (see [[Harness.PlanChars]]).
    */
  lazy val session: SparkSession = Harness.session(4, Harness.PlanChars)
}
