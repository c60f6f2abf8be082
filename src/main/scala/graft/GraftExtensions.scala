package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.{CdcBoundaries, DotProduct, Int8QuantStats, L2Norm}

/** Session extension registering graft's native expressions with the SQL
  * function registry, so `SELECT dot_product(a, b)` works from pure SQL:
  *
  * {{{
  * SparkSession.builder()
  *   .config("spark.sql.extensions", "graft.GraftExtensions")
  * }}}
  *
  * (Scala callers can use graft.functions.VectorFunctions directly.)
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    e.injectPlannerStrategy(_ => graft.ops.PrefixScanStrategy)
    e.injectFunction((
      new FunctionIdentifier("dot_product"),
      new ExpressionInfo(classOf[DotProduct].getName, "dot_product"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "dot_product(arrA, arrB)")
        DotProduct(args.head, args(1))
      }))
    e.injectFunction((
      new FunctionIdentifier("l2_norm"),
      new ExpressionInfo(classOf[L2Norm].getName, "l2_norm"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "l2_norm(arr)")
        L2Norm(args.head)
      }))
    e.injectFunction((
      new FunctionIdentifier("int8_quant_stats"),
      new ExpressionInfo(classOf[Int8QuantStats].getName, "int8_quant_stats"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "int8_quant_stats(arr)")
        Int8QuantStats(args.head)
      }))
    e.injectFunction((
      new FunctionIdentifier("cdc_boundaries"),
      new ExpressionInfo(classOf[CdcBoundaries].getName, "cdc_boundaries"),
      (args: Seq[Expression]) => {
        require(args.length == 3,
          "cdc_boundaries(text, window, divisor) with literal ints")
        def intLit(e: Expression, what: String): Int = e match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"cdc_boundaries $what must be an integer literal, got $other")
        }
        CdcBoundaries(args.head, intLit(args(1), "window"),
          intLit(args(2), "divisor"))
      }))
  }
}
