package graft.ops

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Ascending, Attribute, AttributeReference, AttributeSeq, AttributeSet, BindReferences, BoundReference, Expression, GenericInternalRow, InterpretedOrdering, InterpretedUnsafeProjection, JoinedRow, Literal, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{Distribution, OrderedDistribution, Partitioning}
import org.apache.spark.sql.execution.{SortExec, SparkPlan, SparkStrategy, UnaryExecNode, WholeStageCodegenExec}
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types.LongType

/** The distributed prefix scan: every row gets the inclusive running sum
  * of a weight within its group, over a total order — the global rank and
  * the packing offset without a single-partition window.
  *
  * Logical node → planner strategy → exec, registered like
  * [[graft.plans.AsOf]]. The exec requires range distribution and
  * in-partition ordering on (group ++ order), so EnsureRequirements adds
  * one range exchange and one sort. Each group then occupies a contiguous
  * run of partitions, and only a partition's FIRST group can have rows in
  * earlier partitions. One small job, reading the exchange output below
  * the local sort, collects each partition's least and greatest group
  * with their weight totals ([[Prefix.Edge]], two keys per partition);
  * they fold into one carry-in offset per partition; one
  * forward pass per sorted partition emits every row. Work per task is
  * one local sort and two linear scans; the only global structure is the
  * partition-count-sized edge array.
  *
  * Order keys sort ascending (nulls first), and (group ++ order) must be a
  * total order — ties would make the sum depend on the partitioning.
  */
final case class PrefixScan(
    group: Seq[Expression],
    order: Seq[Expression],
    weight: Expression,
    out: Attribute,
    child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output :+ out
  override def producedAttributes: AttributeSet = AttributeSet(out)
  override protected def withNewChildInternal(newChild: LogicalPlan): PrefixScan =
    copy(child = newChild)
}

final case class PrefixScanExec(
    group: Seq[Expression],
    order: Seq[Expression],
    weight: Expression,
    out: Attribute,
    child: SparkPlan) extends UnaryExecNode {

  private def keys: Seq[SortOrder] = (group ++ order).map(SortOrder(_, Ascending))

  override def output: Seq[Attribute] = child.output :+ out
  override def producedAttributes: AttributeSet = AttributeSet(out)
  override def requiredChildDistribution: Seq[Distribution] =
    OrderedDistribution(keys) :: Nil
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(keys)
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering

  override protected def doExecute(): RDD[InternalRow] = {
    val in = child.output
    val g = group
    val w = BindReferences.bindReference(weight, AttributeSeq(in))
    val outAttrs = output
    // the boundary job needs only each partition's least and greatest
    // group, not its order, so it reads below the local sort
    val unsorted = child match {
      case WholeStageCodegenExec(SortExec(_, false, c, _)) => c
      case SortExec(_, false, c, _) => c
      case c => c
    }
    val edges = unsorted.execute().mapPartitions { it =>
      Iterator.single(Prefix.edge(it, Prefix.keyOf(g, in), w, Prefix.keyOrder(g)))
    }.collect()
    val carry = Prefix.carryIn(edges)
    child.execute().mapPartitionsWithIndex { (pid, it) =>
      val key = Prefix.keyOf(g, in)
      val project = UnsafeProjection.create(outAttrs, outAttrs)
      val joined = new JoinedRow
      val sumRow = new GenericInternalRow(1)
      var cur: UnsafeRow = null
      var acc = 0L
      it.map { row =>
        val k = key(row)
        if (cur == null) { cur = k.copy(); acc = carry(pid) }
        else if (k != cur) { cur = k.copy(); acc = 0L }
        acc += Prefix.weightOf(w, row)
        sumRow.setLong(0, acc)
        project(joined(row, sumRow))
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): PrefixScanExec =
    copy(child = newChild)
}

/** Planner rule: lower the logical PrefixScan to its exec. */
object PrefixScanStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case PrefixScan(g, o, w, out, child) =>
      PrefixScanExec(g, o, w, out, planLater(child)) :: Nil
    case _ => Nil
  }
}

object Prefix {

  /** A partition's least and greatest group (projected keys) with the
    * weight total of each inside the partition; `first == last` when the
    * whole partition is one group. Null for an empty partition.
    */
  final case class Edge(first: UnsafeRow, firstSum: Long,
      last: UnsafeRow, lastSum: Long)

  /** `df` plus `out`: the inclusive running sum of `weight` (a column
    * read as bigint, null as 0) within `group`, over `order` ascending.
    */
  def runningSum(df: DataFrame, group: Seq[String], order: Seq[String],
      weight: String, out: String): DataFrame = {
    val p = bridge.analyzedPlan(df)
    scan(df, p, group, order, attr(p, weight), out)
  }

  /** `df` plus `out`: the 1-based rank within `group` over `order`
    * ascending — [[runningSum]] with weight 1.
    */
  def rank(df: DataFrame, group: Seq[String], order: Seq[String],
      out: String): DataFrame =
    scan(df, bridge.analyzedPlan(df), group, order, Literal(1L), out)

  private def scan(df: DataFrame, p: LogicalPlan, group: Seq[String],
      order: Seq[String], weight: Expression, out: String): DataFrame = {
    val spark = df.sparkSession
    if (!spark.experimental.extraStrategies.contains(PrefixScanStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ PrefixScanStrategy
    require(order.nonEmpty, "a prefix scan needs an order")
    val sum = AttributeReference(out, LongType, nullable = false)()
    // the alias gives the analyzer a node it knows how to re-instance when
    // the result is self-joined
    bridge.ofRows(spark, Project(p.output :+ Alias(sum, out)(),
      PrefixScan(group.map(attr(p, _)), order.map(attr(p, _)), weight, sum, p)))
  }

  private def attr(p: LogicalPlan, name: String): Attribute =
    p.output.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(s"column $name not found"))

  /** The group key of a row, interpreted: one or two columns compared
    * once per row do not earn a generated class.
    */
  private[ops] def keyOf(g: Seq[Expression], in: Seq[Attribute]): UnsafeProjection =
    InterpretedUnsafeProjection.createProjection(
      g.map(BindReferences.bindReference(_, AttributeSeq(in))))

  private[ops] def weightOf(w: Expression, row: InternalRow): Long =
    w.eval(row) match {
      case null => 0L
      case v => v.asInstanceOf[Number].longValue()
    }

  /** Ascending order on the projected group key, as the range partitioner
    * and the local sort order the groups.
    */
  private[ops] def keyOrder(g: Seq[Expression]): Ordering[InternalRow] =
    new InterpretedOrdering(g.zipWithIndex.map { case (e, i) =>
      SortOrder(BoundReference(i, e.dataType, e.nullable), Ascending)
    })

  /** One pass over a partition in any order: its least and greatest group
    * with the weight total of each. A group seen before it becomes the
    * least (or greatest) cannot exist, since every row of that group would
    * have made it so.
    */
  private[ops] def edge(it: Iterator[InternalRow], key: UnsafeProjection,
      w: Expression, ord: Ordering[InternalRow]): Edge = {
    var lo: UnsafeRow = null; var loSum = 0L
    var hi: UnsafeRow = null; var hiSum = 0L
    it.foreach { row =>
      val k = key(row)
      val x = weightOf(w, row)
      if (lo == null) { lo = k.copy(); loSum = x; hi = lo; hiSum = x }
      else {
        val cl = ord.compare(k, lo)
        if (cl < 0) { lo = k.copy(); loSum = x } else if (cl == 0) loSum += x
        val ch = ord.compare(k, hi)
        if (ch > 0) { hi = k.copy(); hiSum = x } else if (ch == 0) hiSum += x
      }
    }
    if (lo == null) null else Edge(lo, loSum, hi, hiSum)
  }

  /** Per partition, the weight its first group carries in from earlier
    * partitions: the group open at the previous partition's end, if it is
    * the same group, with everything it summed so far.
    */
  private[ops] def carryIn(edges: Array[Edge]): Array[Long] = {
    var open: UnsafeRow = null
    var openSum = 0L
    edges.map { e =>
      if (e == null) 0L
      else {
        val c = if (open != null && open == e.first) openSum else 0L
        openSum = if (e.first == e.last) c + e.lastSum else e.lastSum
        open = e.last
        c
      }
    }
  }
}
