package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, MutableProjection, SpecificInternalRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate

/** The [[DeclarativeAggregate]] buffer/projection plumbing shared by
  * the window operators ([[PartitionedRunningAgg]],
  * [[PartitionedMovingAgg]], [[PartitionedRangeMovingAgg]],
  * [[GlobalFrameAgg]]): each runs the functions'
  * OWN Catalyst initial/update/merge/evaluate expressions over a
  * [[SpecificInternalRow]] buffer, so type behavior (decimal widening,
  * ANSI overflow, null skipping) matches the built-in by construction.
  * One definition keeps the binding conventions — update reads
  * `aggBufferAttributes ++ input`, merge reads `aggBufferAttributes ++
  * inputAggBufferAttributes`, evaluate reads `aggBufferAttributes` —
  * in one place instead of three.
  */
private[plans] object AggPlumbing {

  /** A fresh buffer with the function's `initialValues` applied. */
  def newBuffer(f: DeclarativeAggregate): SpecificInternalRow = {
    val b = new SpecificInternalRow(f.aggBufferAttributes.map(_.dataType))
    initProj(f).target(b)(InternalRow.empty)
    b
  }

  /** The `initialValues` projection — target it at a buffer to reset
    * that buffer to the empty-frame state. */
  def initProj(f: DeclarativeAggregate): MutableProjection =
    MutableProjection.create(f.initialValues, Nil)

  /** The `updateExpressions` projection over (buffer ++ input row);
    * callers `.target(...)` it at their buffer. */
  def updateProj(f: DeclarativeAggregate, input: Seq[Attribute]): MutableProjection =
    MutableProjection.create(f.updateExpressions,
      f.aggBufferAttributes ++ input)

  /** The `mergeExpressions` projection over (buffer ++ partial). */
  def mergeProj(f: DeclarativeAggregate): MutableProjection =
    MutableProjection.create(f.mergeExpressions,
      f.aggBufferAttributes ++ f.inputAggBufferAttributes)

  /** The `evaluateExpression` projection over the buffer. */
  def evalProj(f: DeclarativeAggregate): MutableProjection =
    MutableProjection.create(Seq(f.evaluateExpression), f.aggBufferAttributes)

  /** Buffer-to-UnsafeRow projection (for shipping partials). */
  def toUnsafe(f: DeclarativeAggregate): UnsafeProjection =
    UnsafeProjection.create(f.aggBufferAttributes, f.aggBufferAttributes)
}
