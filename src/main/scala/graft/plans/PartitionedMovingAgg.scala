package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, AttributeSet, Expression, GenericInternalRow, JoinedRow, RowOrdering, SortOrder, SpecificInternalRow, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}

/** Distributed EXACT MOVING-FRAME aggregate, keyed or global: `agg(e)
  * OVER ([PARTITION BY k] ORDER BY v ROWS BETWEEN lo AND hi)` with
  * literal row offsets — the rolling average, per user or global (the
  * empty key; see [[KeyedWindowNode]]) — without a funnel task.
  *
  * A bounded ROWS frame reaches at most `maxBack` rows behind and
  * `maxFwd` ahead, so [[PartitionedShift]]'s boundary argument carries
  * on ROWS instead of values:
  *
  *  1. pass 1 collects, per partition, the first `maxFwd` frame-rows of
  *     its FIRST key run and the last `maxBack` of its LAST key run,
  *     projected down to the attributes the aggregates read and shared
  *     across functions, plus the two edge keys and the single-key
  *     flag;
  *  2. the driver chains boundaries KEY-MATCHED exactly as
  *     PartitionedShift does — a partition's prev-tail holds frame-rows
  *     of ITS first key only, its next-head of its last key only;
  *  3. pass 2 streams with a position ring of `maxBack + maxFwd + 1`
  *     projected rows, each SEGMENT-tagged by its key run: every
  *     output value rebuffers its frame through the function's own
  *     `initialValues`/`updateExpressions`/`evaluateExpression`, in
  *     frame order — the per-row rebuffering WindowExec's sliding frame
  *     performs for non-invertible aggregates — admitting an in-ring
  *     position only from the emitting row's segment, a below-zero
  *     position only from the first segment's prev-tail, a past-end
  *     position only from the last segment's next-head. A frame emptied
  *     by key or global edges evaluates the initial buffer — null sum,
  *     zero count — as the built-in's frames clip.
  *
  * Frames are per-function: one node carries any mix of trailing,
  * centered, pure-past and pure-future frames. First/Last (IGNORE
  * NULLS included) are admitted: rebuffering runs strictly in frame
  * order. Memory is bounded by the frame extents (capped by the
  * rewrite rule) and `numPartitions * (maxBack + maxFwd)` narrow driver
  * rows — never by the data. UNBOUNDED PRECEDING frames are
  * [[PartitionedRunningAgg]]'s; RANGE moving frames
  * [[PartitionedRangeMovingAgg]]'s.
  *
  * Tie caveat as [[PartitionedShift]]'s: bounded ROWS frames under a
  * non-total order are tie-order-dependent. Keyed windows route here
  * only behind `spark.graft.rewrite.partitionedRankWindows` or
  * [[graft.rules.RewriteGlobalRankWindows.forceSkew]].
  */
case class PartitionedMovingAggNode(partKeys: Seq[Expression],
                                    order: Seq[SortOrder],
                                    attrs: Seq[AttributeReference],
                                    funcs: Seq[DeclarativeAggregate],
                                    lowers: Seq[Int],
                                    uppers: Seq[Int],
                                    child: LogicalPlan) extends KeyedWindowNode {
  override protected def generated: Seq[Attribute] = attrs
  override protected def withNewChildInternal(newChild: LogicalPlan): PartitionedMovingAggNode =
    copy(child = newChild)
}

object PartitionedMovingAggStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case PartitionedMovingAggNode(partKeys, order, attrs, funcs, lowers, uppers, child) =>
      PartitionedMovingAggExec(partKeys, order, attrs, funcs, lowers, uppers,
        planLater(child)) :: Nil
    case _ => Nil
  }
}

case class PartitionedMovingAggExec(partKeys: Seq[Expression],
                                    order: Seq[SortOrder],
                                    attrs: Seq[AttributeReference],
                                    funcs: Seq[DeclarativeAggregate],
                                    lowers: Seq[Int],
                                    uppers: Seq[Int],
                                    child: SparkPlan) extends KeyedWindowExec {
  import PartitionedMovingAgg.MovEdge

  override protected def generated: Seq[Attribute] = attrs

  override protected def doExecute(): RDD[InternalRow] = {
    val rdd = child.execute()
    val childOutput = child.output
    val nFuncs = funcs.length
    val funcsArr = funcs.toArray
    val lowersArr = lowers.toArray
    val uppersArr = uppers.toArray
    val dataTypes = funcsArr.map(_.dataType)
    val maxBack = lowersArr.collect { case lo if lo < 0 => -lo }
      .maxOption.getOrElse(0)
    val maxFwd = uppersArr.collect { case hi if hi > 0 => hi }
      .maxOption.getOrElse(0)
    val partExprs = partKeys
    val partTypes = partExprs.map(_.dataType)
    // frame rows travel projected down to what the aggregates read
    val neededSet = AttributeSet(funcsArr.toSeq.flatMap(_.references))
    val neededAttrs: Seq[Attribute] = childOutput.filter(neededSet.contains)

    // pass 1: first-run head rows + last-run tail rows, edge keys
    val edges: Array[MovEdge] =
      rdd.mapPartitionsWithIndex({ (pid, it) =>
        val keyProj = UnsafeProjection.create(partExprs, childOutput)
        val keyOrd = RowOrdering.createNaturalAscendingOrdering(partTypes)
        val needProj = UnsafeProjection.create(neededAttrs, childOutput)
        val head = scala.collection.mutable.ArrayBuffer.empty[UnsafeRow]
        val tail = new java.util.ArrayDeque[UnsafeRow]()
        var firstKey: UnsafeRow = null
        var curKey: UnsafeRow = null
        var single = true
        it.foreach { row =>
          val k = keyProj(row)
          if (curKey == null) {
            firstKey = k.copy(); curKey = firstKey
          } else if (keyOrd.compare(curKey, k) != 0) {
            curKey = k.copy(); single = false
            tail.clear()
          }
          if (maxFwd > 0 && single && head.length < maxFwd)
            head += needProj(row).copy()
          if (maxBack > 0) {
            if (tail.size == maxBack) tail.pollFirst()
            tail.addLast(needProj(row).copy())
          }
        }
        Iterator((pid, MovEdge(firstKey,
          if (curKey == null) null
          else if (curKey eq firstKey) firstKey else curKey,
          head.toArray,
          tail.toArray(new Array[UnsafeRow](tail.size)),
          single)))
      }, preservesPartitioning = true).collect().sortBy(_._1).map(_._2)

    // driver: KEY-MATCHED boundary chains (the PartitionedShift
    // argument carried on shared frame rows). prevTail(pid): the last
    // maxBack frame-rows of pid's FIRST key from earlier partitions;
    // nextHead(pid): the first maxFwd frame-rows of pid's LAST key
    // from later partitions.
    val nParts = edges.length
    val keyOrdDriver = RowOrdering.createNaturalAscendingOrdering(partTypes)
    val prevTails: Array[Array[UnsafeRow]] = {
      val out = new Array[Array[UnsafeRow]](nParts)
      val deque = new java.util.ArrayDeque[UnsafeRow]()
      var runKey: UnsafeRow = null
      var pid = 0
      while (pid < nParts) {
        val e = edges(pid)
        if (e.firstKey == null) out(pid) = Array.empty
        else {
          val continues = runKey != null &&
            keyOrdDriver.compare(runKey, e.firstKey) == 0
          out(pid) =
            if (continues) deque.toArray(new Array[UnsafeRow](deque.size))
            else Array.empty[UnsafeRow]
          if (e.single && continues) {
            e.tail.foreach { v =>
              if (maxBack > 0) {
                if (deque.size == maxBack) deque.pollFirst()
                deque.addLast(v)
              }
            }
          } else {
            runKey = e.lastKey
            deque.clear()
            e.tail.foreach(deque.addLast)
          }
        }
        pid += 1
      }
      out
    }
    val nextHeads: Array[Array[UnsafeRow]] = {
      val out = new Array[Array[UnsafeRow]](nParts)
      var acc = List.empty[UnsafeRow]
      var runKey: UnsafeRow = null
      var pid = nParts - 1
      while (pid >= 0) {
        val e = edges(pid)
        if (e.lastKey == null) out(pid) = Array.empty
        else {
          val continues = runKey != null &&
            keyOrdDriver.compare(runKey, e.lastKey) == 0
          out(pid) =
            if (continues) acc.take(maxFwd).toArray
            else Array.empty[UnsafeRow]
          if (e.single && continues) {
            acc = (e.head.toList ++ acc).take(maxFwd)
            runKey = e.firstKey
          } else {
            runKey = e.firstKey
            acc = e.head.toList.take(maxFwd)
          }
        }
        pid -= 1
      }
      out
    }
    val bcPrev = sparkContext.broadcast(prevTails)
    val bcNext = sparkContext.broadcast(nextHeads)

    val out = output
    val numOutputRows = longMetric("numOutputRows")
    // pass 2: segment-tagged frame ring + bounded original-row
    // read-ahead; each output value rebuffers its key-gated frame
    rdd.mapPartitionsWithIndex({ (pid, it) =>
      val keyProj = UnsafeProjection.create(partExprs, childOutput)
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(partTypes)
      val outProj = UnsafeProjection.create(out, out)
      val needProj = UnsafeProjection.create(neededAttrs, childOutput)
      val buffers = funcsArr.map { f =>
        new SpecificInternalRow(f.aggBufferAttributes.map(_.dataType))
      }
      val inits = funcsArr.zipWithIndex.map { case (f, j) =>
        val p = AggPlumbing.initProj(f)
        p.target(buffers(j)); p
      }
      val upds = funcsArr.zipWithIndex.map { case (f, j) =>
        val p = AggPlumbing.updateProj(f, neededAttrs)
        p.target(buffers(j)); p
      }
      val evalRows = funcsArr.map(f => new SpecificInternalRow(Seq(f.dataType)))
      val evals = funcsArr.zipWithIndex.map { case (f, j) =>
        val p = AggPlumbing.evalProj(f)
        p.target(evalRows(j)); p
      }
      val joins = Array.fill(nFuncs)(new JoinedRow)
      val aggRow = new GenericInternalRow(nFuncs)
      val joined = new JoinedRow

      val pt = bcPrev.value(pid)
      val nh = bcNext.value(pid)
      val rowCap = maxFwd + 1
      val valCap = maxBack + maxFwd + 1
      val rowRing = new Array[InternalRow](rowCap)
      val valRing = new Array[UnsafeRow](valCap)
      val segRing = new Array[Long](valCap)
      var readIdx = 0L
      var emitIdx = 0L
      var readDone = false
      var curSeg = -1L
      var lastSeg = -1L
      var readKey: UnsafeRow = null
      def readOne(): Unit = {
        if (it.hasNext) {
          val r = it.next()
          val k = keyProj(r)
          if (readKey == null || keyOrd.compare(readKey, k) != 0) {
            readKey = k.copy(); curSeg += 1L
          }
          rowRing((readIdx % rowCap).toInt) = r.copy()
          valRing((readIdx % valCap).toInt) = needProj(r).copy()
          segRing((readIdx % valCap).toInt) = curSeg
          readIdx += 1L
        } else { readDone = true; lastSeg = curSeg }
      }
      def ensureRead(): Unit =
        while (!readDone && readIdx <= emitIdx + maxFwd) readOne()

      def valueOf(j: Int): Any = {
        evals(j)(buffers(j))
        if (evalRows(j).isNullAt(0)) null else evalRows(j).get(0, dataTypes(j))
      }
      def computeAggs(): Unit = {
        val mySeg = segRing((emitIdx % valCap).toInt)
        var j = 0
        while (j < nFuncs) {
          inits(j)(InternalRow.empty) // reset to the empty-frame state
          // frame positions in ascending order — the order First/Last
          // and IGNORE NULLS require
          var p = emitIdx + lowersArr(j)
          val hiP = emitIdx + uppersArr(j)
          while (p <= hiP) {
            val frameRow: UnsafeRow =
              if (p >= 0L && p < readIdx) {
                // in-partition: same key segment required
                val slot = (p % valCap).toInt
                if (segRing(slot) == mySeg) valRing(slot) else null
              } else if (p < 0L) {
                // before the partition: only the FIRST segment reaches
                // into the key-matched prev tail
                if (mySeg == 0L) {
                  val idx = pt.length + p
                  if (idx >= 0L) pt(idx.toInt) else null
                } else null
              } else {
                // past the partition (ensureRead pulled to
                // emitIdx+maxFwd >= p, so p >= readIdx implies
                // readDone): only the LAST segment reaches into the
                // key-matched next head
                if (readDone && mySeg == lastSeg) {
                  val idx = p - readIdx
                  if (idx < nh.length) nh(idx.toInt) else null
                } else null
              }
            if (frameRow != null) upds(j)(joins(j)(buffers(j), frameRow))
            p += 1L
          }
          aggRow.update(j, valueOf(j))
          j += 1
        }
      }

      new Iterator[InternalRow] {
        override def hasNext: Boolean = { ensureRead(); emitIdx < readIdx }
        override def next(): InternalRow = {
          ensureRead()
          val row = rowRing((emitIdx % rowCap).toInt)
          computeAggs()
          emitIdx += 1L
          numOutputRows += 1
          outProj(joined(row, aggRow))
        }
      }
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(newChild: SparkPlan): PartitionedMovingAggExec =
    copy(child = newChild)
}

object PartitionedMovingAgg {

  /** Pass-1 edge payload: first-run head rows, last-run tail rows,
    * edge keys, single-key flag. Top-level so task-result
    * serialization doesn't drag the plan via `$outer`. */
  private[plans] case class MovEdge(firstKey: UnsafeRow,
                                    lastKey: UnsafeRow,
                                    head: Array[UnsafeRow],
                                    tail: Array[UnsafeRow],
                                    single: Boolean)
}
