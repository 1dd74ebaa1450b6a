package graft.plans

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeSet, Expression, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.UnaryNode
import org.apache.spark.sql.catalyst.plans.physical.{Distribution, OrderedDistribution, Partitioning}
import org.apache.spark.sql.execution.{SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}

/** The keyed window tier: seven operators — [[PartitionedRankExec]],
  * [[PartitionedShiftExec]], [[PartitionedLookaheadExec]],
  * [[PartitionedRunningAggExec]], [[PartitionedMovingAggExec]],
  * [[PartitionedRangeMovingAggExec]], [[PartitionedNthValueExec]] —
  * that compute `f(...) OVER (PARTITION BY k ORDER BY v)` without the
  * hash exchange that puts every row of one key in one task, and that
  * compute the UNPARTITIONED window `f(...) OVER (ORDER BY v)` as the
  * same operator with an EMPTY key (`partKeys = Nil`): one key, every
  * row in it.
  *
  * Every member declares `OrderedDistribution(k ++ v)`, so
  * EnsureRequirements plans ONE range exchange over the composite
  * order plus per-partition sorts: a hot key's rows spread over a
  * contiguous RUN of partitions, and — because range partitioning maps
  * one sort-key VALUE to exactly one partition — a `(k, v)` tie group
  * never straddles a partition boundary. Each operator is two passes
  * over that one shuffle: pass 1 collects a few values per partition
  * (the first/last key and bounded state of the partition's first and
  * last key runs), the driver stitches runs of the same key left to
  * right, and pass 2 streams the rows with the stitched boundary
  * state. Under an empty key every partition is one run of the one
  * key, so stitching telescopes over all partitions — the global
  * window, distributed.
  *
  * Members append columns without moving rows and pass partitioning
  * and ordering through, so a window of several families stacks them
  * on the one exchange.
  */
trait KeyedWindowNode extends UnaryNode {
  /** The columns this node appends to its child's output. */
  protected def generated: Seq[Attribute]
  override def output: Seq[Attribute] = child.output ++ generated
  /** generated here, not read from the child — without this
    * CheckAnalysis counts them as missing input attributes */
  override def producedAttributes: AttributeSet = AttributeSet(generated)
}

/** The physical contract every keyed window operator shares; see
  * [[KeyedWindowNode]]. */
trait KeyedWindowExec extends UnaryExecNode {
  def partKeys: Seq[Expression]
  def order: Seq[SortOrder]
  protected def generated: Seq[Attribute]

  override def output: Seq[Attribute] = child.output ++ generated
  override def producedAttributes: AttributeSet = AttributeSet(generated)

  /** Partition keys first (any deterministic direction works —
    * ascending), then the window order; the window order alone under
    * an empty key. */
  protected def compositeOrder: Seq[SortOrder] =
    partKeys.map(SortOrder(_, Ascending)) ++ order

  override def requiredChildDistribution: Seq[Distribution] =
    OrderedDistribution(compositeOrder) :: Nil
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(compositeOrder)
  override def outputOrdering: Seq[SortOrder] = compositeOrder
  /** Appending columns moves no rows: pass the child's (range)
    * partitioning through so a stacked sibling reuses it instead of
    * re-exchanging. */
  override def outputPartitioning: Partitioning = child.outputPartitioning

  override lazy val metrics: Map[String, SQLMetric] =
    Map("numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))
}

object KeyedWindow {

  val strategies: Seq[SparkStrategy] = Seq(PartitionedRankStrategy,
    PartitionedShiftStrategy, PartitionedLookaheadStrategy,
    PartitionedRunningAggStrategy, PartitionedMovingAggStrategy,
    PartitionedRangeMovingAggStrategy, PartitionedNthValueStrategy)

  /** Idempotent, race-safe registration of the tier's strategies —
    * concurrent first uses must not double-register or drop a racing
    * strategy. */
  def ensureStrategies(spark: SparkSession): Unit = KeyedWindow.synchronized {
    val missing = strategies.filterNot(spark.experimental.extraStrategies.contains)
    if (missing.nonEmpty)
      spark.experimental.extraStrategies = spark.experimental.extraStrategies ++ missing
  }

  /** The sorted stream `it` cut into its runs of rows equal on `keys`
    * (row copies), one run buffered at a time: the RANGE-frame and
    * cume_dist members need a tie group's END before emitting its
    * first row. Memory is bounded by the largest tie group — never by
    * a key, and never by the partition. */
  def tieGroups(it: Iterator[InternalRow], keys: Seq[Expression],
                input: Seq[Attribute]): Iterator[Array[InternalRow]] = {
    val proj = UnsafeProjection.create(keys, input)
    val ord = RowOrdering.createNaturalAscendingOrdering(keys.map(_.dataType))
    new Iterator[Array[InternalRow]] {
      // first row of the NEXT group, already pulled while looking for
      // the current group's end
      private var pending: InternalRow = null
      private var pendingKey: UnsafeRow = null
      override def hasNext: Boolean = pending != null || it.hasNext
      override def next(): Array[InternalRow] = {
        val rows = ArrayBuffer.empty[InternalRow]
        var key = pendingKey
        if (pending != null) { rows += pending; pending = null }
        else { val r = it.next(); key = proj(r).copy(); rows += r.copy() }
        var open = true
        while (open && it.hasNext) {
          val r = it.next()
          val k = proj(r)
          if (ord.compare(key, k) == 0) rows += r.copy()
          else { pending = r.copy(); pendingKey = k.copy(); open = false }
        }
        rows.toArray
      }
    }
  }
}
