package graft.plans

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Window => LogicalWindow}
import org.apache.spark.sql.catalyst.plans.physical.{AllTuples, ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.types.{ByteType, DataType, Decimal, DecimalType, IntegerType, LongType, NumericType, ShortType}

/** Sliding RANGE-frame SUM in O(n) after the sort.
  *
  * For `sum(x) OVER (PARTITION BY p ORDER BY o RANGE BETWEEN w PRECEDING AND
  * CURRENT ROW)` Spark's `WindowExec` keeps the frame in a buffer and, every
  * time the frame moves, re-runs the aggregate over the whole buffer: O(n·w)
  * per partition group. [[GraftRangeFrameSumExec]] makes one two-pointer pass
  * instead: rows entering the frame are added to a running sum, rows leaving
  * it are subtracted, and the sum is emitted once per peer group.
  *
  * The strategy takes a logical `Window` only when EVERY expression is such a
  * sum of an exact input — decimal in any eval mode, integral in LEGACY mode
  * (wrap-around `long` add-then-subtract equals re-summing) — with one
  * ascending ORDER BY column of a numeric type. Anything else returns `Nil`
  * and plans as `WindowExec`:
  *  - floating-point sums, because add-then-subtract rounds differently
  *    from re-summing the frame;
  *  - integral sums under ANSI or TRY, because re-summing raises (or nulls)
  *    on an overflowing partial sum that depends on the frame's row order;
  *  - every other frame, function, direction or order type.
  *
  * Frame membership uses Spark's own bound ordering on `o + lower` (built the
  * way `WindowEvaluatorFactoryBase.createBoundOrdering` builds it), and the
  * pass mirrors `SlidingWindowFunctionFrame`'s drop/admit loop, so nulls,
  * NaN, ±Infinity and -0.0 land in the same frames as in stock Spark. The
  * result goes through `Sum.evaluateExpression` over an aggregation buffer
  * holding the exact frame sum, so the result type, the null for a frame
  * without non-null input and the ANSI decimal overflow error are Spark's.
  *
  * Registered session-wide by [[graft.GraftExtensions]]. No conf key: the
  * output is identical to `WindowExec`'s.
  */
object GraftRangeFrameSumStrategy extends SparkStrategy {

  /** A window expression this operator evaluates: `Alias(sum(x) OVER (...
    * RANGE BETWEEN lower AND CURRENT ROW))` with an exact `x`, a foldable
    * non-null `lower`, and an aggregation buffer of `sum` (and `isEmpty`),
    * the two slots the pass fills. */
  private[plans] object RangeSum {
    def unapply(e: NamedExpression): Option[(Sum, Expression)] = e match {
      case Alias(WindowExpression(
            AggregateExpression(s: Sum, Complete, false, None, _),
            WindowSpecDefinition(_, _, SpecifiedWindowFrame(RangeFrame, lower, CurrentRow))), _)
          if exactInput(s) && s.child.deterministic && lower.foldable &&
            lower.eval() != null && bufferIsSumAndIsEmpty(s) =>
        Some((s, lower))
      case _ => None
    }

    private def bufferIsSumAndIsEmpty(s: Sum): Boolean = {
      val names = s.aggBufferAttributes.map(_.name)
      names.contains("sum") && names.forall(n => n == "sum" || n == "isEmpty")
    }

    private def exactInput(s: Sum): Boolean = s.child.dataType match {
      case _: DecimalType => s.evalContext.evalMode != EvalMode.TRY
      case ByteType | ShortType | IntegerType | LongType =>
        s.evalContext.evalMode == EvalMode.LEGACY
      case _ => false
    }
  }

  /** `order + lower`: the frame's lower bound for a row, as Spark builds it
    * for an ascending numeric RANGE frame; None for other type pairs. */
  private[plans] def lowerBound(order: Expression, lower: Expression): Option[Expression] =
    (order.dataType, lower.dataType) match {
      case (d: DecimalType, _: DecimalType) => Some(DecimalAddNoOverflowCheck(order, lower, d))
      case (a: NumericType, b) if a == b    => Some(Add(order, lower))
      case _                                => None
    }

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case LogicalWindow(exprs, part, order @ Seq(SortOrder(o, Ascending, _, _)), child, _)
        if exprs.nonEmpty && o.deterministic && exprs.forall {
          case RangeSum(_, lower) => lowerBound(o, lower).isDefined
          case _                  => false
        } =>
      GraftRangeFrameSumExec(exprs, part, order, planLater(child)) :: Nil
    case _ => Nil
  }
}

/** Physical operator for [[GraftRangeFrameSumStrategy]]. It declares
  * `WindowExec`'s child distribution and ordering, so the planner inserts the
  * same Exchange and Sort, and passes the child's partitioning and ordering
  * through as `WindowExec` does. Memory per task: the current peer group
  * (full rows) plus, per sum, the frame's non-null inputs with their order
  * values. */
final case class GraftRangeFrameSumExec(
    windowExpression: Seq[NamedExpression],
    partitionSpec: Seq[Expression],
    orderSpec: Seq[SortOrder],
    child: SparkPlan)
  extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output ++ windowExpression.map(_.toAttribute)

  override def requiredChildDistribution: Seq[Distribution] =
    if (partitionSpec.isEmpty) AllTuples :: Nil else ClusteredDistribution(partitionSpec) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(partitionSpec.map(SortOrder(_, Ascending)) ++ orderSpec)

  override def outputOrdering: Seq[SortOrder] = child.outputOrdering

  override def outputPartitioning: Partitioning = child.outputPartitioning

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  override protected def withNewChildInternal(newChild: SparkPlan): GraftRangeFrameSumExec =
    copy(child = newChild)

  override protected def doExecute(): RDD[InternalRow] = {
    import GraftRangeFrameSumStrategy.{RangeSum, lowerBound}
    val childOutput = child.output
    val resultSchema = output
    val partSpec = partitionSpec
    val order = orderSpec
    val orderSo = order.head
    val orderExpr = orderSo.child
    // per sum: (entry = [order value, input cast to the sum type], bound =
    // [order + lower], Sum), built on the driver like WindowExec's factory
    val specs = windowExpression.map { case RangeSum(s, lower) =>
      (Seq(orderExpr, Cast(s.child, s.dataType)), lowerBound(orderExpr, lower).get, s)
    }
    val boundSortOrder =
      orderSo.copy(child = BoundReference(0, orderExpr.dataType, orderExpr.nullable))
    val numOutputRows = longMetric("numOutputRows")

    child.execute().mapPartitions { iter =>
      val boundOrdering = RowOrdering.create(Seq(boundSortOrder), Nil)
      val frames = specs.map { case (entry, bound, s) =>
        new GraftRangeFrameSumExec.Frame(
          MutableProjection.create(entry, childOutput),
          MutableProjection.create(Seq(bound), childOutput),
          boundOrdering, s)
      }.toArray
      new GraftRangeFrameSumExec.PeerGroupIterator(iter,
        UnsafeProjection.create(partSpec, childOutput),
        RowOrdering.create(order, childOutput),
        frames,
        UnsafeProjection.create(resultSchema.map(a => a: Expression), resultSchema),
        numOutputRows)
    }
  }
}

object GraftRangeFrameSumExec {

  /** One sum's sliding frame: its non-null inputs in arrival (= order) order,
    * and their exact running total. Rows with a null input never enter the
    * deque — they add nothing — and because the input is sorted on the
    * order value, the rows below the lower bound are always a prefix, so
    * dropping from the front removes exactly the rows
    * `SlidingWindowFunctionFrame` drops. */
  private[plans] final class Frame(
      entry: MutableProjection,
      bound: MutableProjection,
      boundOrdering: Ordering[InternalRow],
      sum: Sum) {
    private val frame = new java.util.ArrayDeque[InternalRow]
    private val resultType: DataType = sum.dataType
    private val decimal = resultType.isInstanceOf[DecimalType]
    private val (precision, scale) = resultType match {
      case d: DecimalType => (d.precision, d.scale)
      case _              => (0, 0)
    }
    private var decSum: Decimal = Decimal(0)
    private var longSum: Long = 0L

    // Spark's own evaluation over the (sum, isEmpty) aggregation buffer
    private val bufferAttrs = sum.aggBufferAttributes
    private val buffer = new GenericInternalRow(bufferAttrs.length)
    private val sumSlot = bufferAttrs.indexWhere(_.name == "sum")
    private val emptySlot = bufferAttrs.indexWhere(_.name == "isEmpty")
    private val evaluate = MutableProjection.create(Seq(sum.evaluateExpression), bufferAttrs)

    def reset(): Unit = {
      frame.clear()
      decSum = Decimal(0)
      longSum = 0L
    }

    /** Moves the frame to the peer group `peers` and returns the sum. */
    def slide(peers: ArrayBuffer[InternalRow]): Any = {
      val lo = bound(peers(0))
      while (!frame.isEmpty && boundOrdering.compare(frame.peekFirst(), lo) < 0) {
        val out = frame.pollFirst()
        if (decimal) decSum = decSum - out.getDecimal(1, precision, scale)
        else longSum -= out.getLong(1)
      }
      var i = 0
      while (i < peers.length) {
        val e = entry(peers(i))
        if (!e.isNullAt(1) && boundOrdering.compare(e, lo) >= 0) {
          frame.addLast(e.copy())
          if (decimal) decSum = decSum + e.getDecimal(1, precision, scale)
          else longSum += e.getLong(1)
        }
        i += 1
      }
      val empty = frame.isEmpty
      buffer.update(sumSlot, if (decimal) decSum else if (empty) null else longSum)
      if (emptySlot >= 0) buffer.setBoolean(emptySlot, empty)
      evaluate(buffer).get(0, resultType)
    }
  }

  /** Reads the sorted input one peer group (rows equal on the partition key
    * and the order value) at a time, slides every frame once per group, and
    * emits the group's rows with the sums appended. */
  private[plans] final class PeerGroupIterator(
      input: Iterator[InternalRow],
      grouping: UnsafeProjection,
      peerOrdering: Ordering[InternalRow],
      frames: Array[Frame],
      resultProj: UnsafeProjection,
      numOutputRows: SQLMetric)
    extends Iterator[InternalRow] {

    private val peers = ArrayBuffer.empty[InternalRow]
    private var peerIdx = 0
    private var group: UnsafeRow = null
    private var lookahead: InternalRow = fetch()
    private val sums = new GenericInternalRow(frames.length)
    private val joined = new JoinedRow

    private def fetch(): InternalRow = if (input.hasNext) input.next().copy() else null

    override def hasNext: Boolean = peerIdx < peers.length || lookahead != null

    override def next(): InternalRow = {
      if (peerIdx >= peers.length) loadPeerGroup()
      val row = peers(peerIdx)
      peerIdx += 1
      numOutputRows += 1
      resultProj(joined(row, sums))
    }

    private def loadPeerGroup(): Unit = {
      if (lookahead == null) throw new NoSuchElementException("next on empty iterator")
      peers.clear()
      peerIdx = 0
      val first = lookahead
      val key = grouping(first)
      if (group == null || key != group) {
        group = key.copy()
        frames.foreach(_.reset())
      }
      peers += first
      lookahead = fetch()
      while (lookahead != null && peerOrdering.compare(lookahead, first) == 0 &&
          grouping(lookahead) == group) {
        peers += lookahead
        lookahead = fetch()
      }
      var i = 0
      while (i < frames.length) {
        sums.update(i, frames(i).slide(peers))
        i += 1
      }
    }
  }
}
