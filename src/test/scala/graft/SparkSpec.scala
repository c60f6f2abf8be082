package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.tools.Harness

/** Shared local session for all suites (one per suite via lazy val). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(name: String): String = s"/root/testdata/$name"

  /** Runs `body` on the RocksDB state store (transformWithState requires
    * it), restoring the session's previous provider afterwards.
    */
  def withRocksDb[A](body: => A): A = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body
    finally prev match {
      case Some(p) => spark.conf.set(key, p)
      case None    => spark.conf.unset(key)
    }
  }
}

object SparkSpec {
  /** PlanChars, not Bench's 16 KB cap: plan-pinning specs string-match on
    * full executed plans (see [[Harness.PlanChars]]).
    */
  lazy val session: SparkSession = Harness.session(4, Harness.PlanChars)
}
