package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression, GenericInternalRow, JoinedRow, RowOrdering, SortOrder, SpecificInternalRow, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}

/** Distributed EXACT RUNNING AGGREGATE, keyed or global: `agg(e) OVER
  * ([PARTITION BY k] ORDER BY v [ROWS|RANGE] UNBOUNDED PRECEDING ..
  * CURRENT ROW)` — the cumulative total, per user or over the whole
  * input (the empty key; see [[KeyedWindowNode]]) — without a funnel
  * task.
  *
  * A running value is the aggregate of a PREFIX of the key's rows, and
  * prefixes decompose by partition exactly like rank offsets do:
  *
  *  1. pass 1 aggregates each partition's LAST key run into the
  *     functions' own `DeclarativeAggregate` buffers — one buffer set
  *     plus two narrow key rows per partition to the driver;
  *  2. the driver stitches left-to-right: a partition whose first key
  *     continues its left neighbour's last key is seeded with the
  *     key's accumulated prefix buffer, merged with the functions' own
  *     `mergeExpressions` in partition order — which IS global order
  *     under the range exchange; every other key starts from
  *     `initialValues`;
  *  3. pass 2 streams: reset at key change, seed the partition's first
  *     key from the stitched prefix, update per row, emit
  *     `evaluateExpression`. RANGE frames (the SQL default) end at the
  *     current `(k, v)` tie group, which never straddles the exchange —
  *     one buffered group at a time.
  *
  * Correct for the order-insensitive allowlist (sum/min/max/count/avg,
  * moments, bit/bool) and ALSO for first_value/last_value (IGNORE NULLS
  * included): pass 1 updates in sort order and the prefix merge runs
  * in partition order, so First's keep-left / Last's keep-right merges
  * are exact. Type behavior (decimal widening, ANSI overflow, null
  * skipping) matches the built-in by construction — the operator only
  * runs the functions' own Catalyst expressions. One floating caveat:
  * the prefix seed merges per-partition partials, so a REAL-valued
  * double aggregate can differ from the single-task built-in in final
  * ulps (the reassociation every Spark partial aggregation performs);
  * integer, decimal, min/max, count, bit/bool and First/Last results
  * are bit-identical.
  *
  * Keyed windows route here only behind
  * `spark.graft.rewrite.partitionedRankWindows` or
  * [[graft.rules.RewriteGlobalRankWindows.forceSkew]].
  */
case class PartitionedRunningAggNode(partKeys: Seq[Expression],
                                     order: Seq[SortOrder],
                                     attrs: Seq[AttributeReference],
                                     funcs: Seq[DeclarativeAggregate],
                                     rowsFrames: Seq[Boolean],
                                     child: LogicalPlan) extends KeyedWindowNode {
  override protected def generated: Seq[Attribute] = attrs
  override protected def withNewChildInternal(newChild: LogicalPlan): PartitionedRunningAggNode =
    copy(child = newChild)
}

object PartitionedRunningAggStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case PartitionedRunningAggNode(partKeys, order, attrs, funcs, rows, child) =>
      PartitionedRunningAggExec(partKeys, order, attrs, funcs, rows,
        planLater(child)) :: Nil
    case _ => Nil
  }
}

case class PartitionedRunningAggExec(partKeys: Seq[Expression],
                                     order: Seq[SortOrder],
                                     attrs: Seq[AttributeReference],
                                     funcs: Seq[DeclarativeAggregate],
                                     rowsFrames: Seq[Boolean],
                                     child: SparkPlan) extends KeyedWindowExec {
  import PartitionedRunningAgg.RunEdge

  override protected def generated: Seq[Attribute] = attrs

  override protected def doExecute(): RDD[InternalRow] = {
    val rdd = child.execute()
    val childOutput = child.output
    val nFuncs = funcs.length
    val funcsArr = funcs.toArray
    val rowsArr = rowsFrames.toArray
    val anyRange = rowsArr.contains(false)
    val partExprs = partKeys
    val partTypes = partExprs.map(_.dataType)
    val ordExprs = order.map(_.child)
    val dataTypes = funcsArr.map(_.dataType)

    def newBuffers(): Array[SpecificInternalRow] =
      funcsArr.map(AggPlumbing.newBuffer)

    // pass 1: the LAST key run's buffers (+ first/last key, single flag)
    val edges: Array[RunEdge] =
      rdd.mapPartitionsWithIndex({ (pid, it) =>
        val keyProj = UnsafeProjection.create(partExprs, childOutput)
        val keyOrd = RowOrdering.createNaturalAscendingOrdering(partTypes)
        val upds = funcsArr.map(AggPlumbing.updateProj(_, childOutput))
        val inits = funcsArr.map(AggPlumbing.initProj)
        val joins = Array.fill(nFuncs)(new JoinedRow)
        val buffers = newBuffers()
        var j = 0
        while (j < nFuncs) { upds(j).target(buffers(j)); inits(j).target(buffers(j)); j += 1 }
        var firstKey: UnsafeRow = null
        var curKey: UnsafeRow = null
        var single = true
        it.foreach { row =>
          val k = keyProj(row)
          if (curKey == null) {
            firstKey = k.copy(); curKey = firstKey
          } else if (keyOrd.compare(curKey, k) != 0) {
            curKey = k.copy(); single = false
            var i = 0
            while (i < nFuncs) { inits(i)(InternalRow.empty); i += 1 }
          }
          var i = 0
          while (i < nFuncs) { upds(i)(joins(i)(buffers(i), row)); i += 1 }
        }
        val toUnsafes = funcsArr.map(AggPlumbing.toUnsafe)
        Iterator((pid, RunEdge(firstKey,
          if (curKey == null) null
          else if (curKey eq firstKey) firstKey else curKey,
          if (curKey == null) null
          else funcsArr.indices.map(j => toUnsafes(j)(buffers(j)).copy()).toArray,
          single)))
      }, preservesPartitioning = true).collect().sortBy(_._1).map(_._2)

    // driver stitching: prefix buffer set for each partition's FIRST
    // key (null = fresh start); merges run in partition order = global
    // order, so order-sensitive First/Last stay exact
    val nParts = edges.length
    val keyOrdDriver = RowOrdering.createNaturalAscendingOrdering(partTypes)
    val prefixes = new Array[Array[UnsafeRow]](nParts)
    locally {
      val accs = newBuffers()
      val inits = funcsArr.zipWithIndex.map { case (f, j) =>
        val p = AggPlumbing.initProj(f); p.target(accs(j)); p
      }
      val merges = funcsArr.zipWithIndex.map { case (f, j) =>
        val p = AggPlumbing.mergeProj(f); p.target(accs(j)); p
      }
      val joins = Array.fill(nFuncs)(new JoinedRow)
      val toUnsafes = funcsArr.map(AggPlumbing.toUnsafe)
      def snapshot(): Array[UnsafeRow] =
        funcsArr.indices.map(j => toUnsafes(j)(accs(j)).copy()).toArray
      def resetAccs(): Unit = {
        var j = 0
        while (j < nFuncs) { inits(j)(InternalRow.empty); j += 1 }
      }
      def mergeIn(bufs: Array[UnsafeRow]): Unit = {
        var j = 0
        while (j < nFuncs) { merges(j)(joins(j)(accs(j), bufs(j))); j += 1 }
      }
      var curKey: UnsafeRow = null
      var pid = 0
      while (pid < nParts) {
        val e = edges(pid)
        if (e.firstKey != null) {
          val continues = curKey != null &&
            keyOrdDriver.compare(curKey, e.firstKey) == 0
          prefixes(pid) = if (continues) snapshot() else null
          if (e.single && continues) mergeIn(e.lastRunBufs)
          else {
            curKey = e.lastKey
            resetAccs()
            mergeIn(e.lastRunBufs)
          }
        }
        pid += 1
      }
    }

    val out = output
    val numOutputRows = longMetric("numOutputRows")
    // prefixes ride a broadcast: one executor-side deserialization
    // instead of per-task closure payload (r13 self-review, same as
    // PartitionedRangeMovingAgg's boundary buffers)
    val bcPrefixes = sparkContext.broadcast(prefixes)
    // pass 2: reset at key change, seed the first key from the prefix
    rdd.mapPartitionsWithIndex({ (pid, it) =>
      val keyProj = UnsafeProjection.create(partExprs, childOutput)
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(partTypes)
      val proj = UnsafeProjection.create(out, out)
      val buffers = newBuffers()
      val inits = funcsArr.zipWithIndex.map { case (f, j) =>
        val p = AggPlumbing.initProj(f); p.target(buffers(j)); p
      }
      val upds = funcsArr.zipWithIndex.map { case (f, j) =>
        val p = AggPlumbing.updateProj(f, childOutput); p.target(buffers(j)); p
      }
      val merges = funcsArr.zipWithIndex.map { case (f, j) =>
        val p = AggPlumbing.mergeProj(f); p.target(buffers(j)); p
      }
      val joins = Array.fill(nFuncs)(new JoinedRow)
      val mergeJoins = Array.fill(nFuncs)(new JoinedRow)
      val evalRows = funcsArr.map(f => new SpecificInternalRow(Seq(f.dataType)))
      val evals = funcsArr.zipWithIndex.map { case (f, j) =>
        val p = AggPlumbing.evalProj(f); p.target(evalRows(j)); p
      }
      val aggRow = new GenericInternalRow(nFuncs)
      val joined = new JoinedRow
      val prefix = bcPrefixes.value(pid)
      var curKey: UnsafeRow = null
      var onFirstKey = false
      def startKey(k: UnsafeRow): Unit = {
        onFirstKey = curKey == null
        curKey = k.copy()
        var j = 0
        while (j < nFuncs) {
          inits(j)(InternalRow.empty)
          if (onFirstKey && prefix != null)
            merges(j)(mergeJoins(j)(buffers(j), prefix(j)))
          j += 1
        }
      }
      def updateWith(row: InternalRow): Unit = {
        var i = 0
        while (i < nFuncs) { upds(i)(joins(i)(buffers(i), row)); i += 1 }
      }
      def valueOf(j: Int): Any = {
        evals(j)(buffers(j))
        if (evalRows(j).isNullAt(0)) null else evalRows(j).get(0, dataTypes(j))
      }
      def emit(row: InternalRow): InternalRow = {
        numOutputRows += 1
        proj(joined(row, aggRow))
      }
      if (!anyRange) {
        // ROWS frames: pure streaming
        it.map { row =>
          val k = keyProj(row)
          if (curKey == null || keyOrd.compare(curKey, k) != 0) startKey(k)
          updateWith(row)
          var j = 0
          while (j < nFuncs) { aggRow.update(j, valueOf(j)); j += 1 }
          emit(row)
        }
      } else {
        // RANGE frames end at the (k, v) TIE GROUP's last row: buffer
        // one group (composite tie containment); ROWS-frame columns
        // take their per-row values while the group is folded in
        KeyedWindow.tieGroups(it, partExprs ++ ordExprs, childOutput).flatMap { group =>
          val rowVals = group.map { row =>
            val k = keyProj(row)
            if (curKey == null || keyOrd.compare(curKey, k) != 0) startKey(k)
            updateWith(row)
            Array.tabulate[Any](nFuncs)(j => if (rowsArr(j)) valueOf(j) else null)
          }
          // group consumed → the buffers hold the group-end state
          val rangeVals = Array.tabulate[Any](nFuncs)(j => if (rowsArr(j)) null else valueOf(j))
          group.iterator.zip(rowVals.iterator).map { case (row, vs) =>
            var j = 0
            while (j < nFuncs) {
              aggRow.update(j, if (rowsArr(j)) vs(j) else rangeVals(j))
              j += 1
            }
            emit(row)
          }
        }
      }
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(newChild: SparkPlan): PartitionedRunningAggExec =
    copy(child = newChild)
}

object PartitionedRunningAgg {

  /** Pass-1 edge payload: first/last key of the partition, the LAST
    * key run's aggregate buffers, single-key flag. Top-level so
    * task-result serialization doesn't drag the plan via `$outer`. */
  private[plans] case class RunEdge(firstKey: UnsafeRow,
                                    lastKey: UnsafeRow,
                                    lastRunBufs: Array[UnsafeRow],
                                    single: Boolean)
}
