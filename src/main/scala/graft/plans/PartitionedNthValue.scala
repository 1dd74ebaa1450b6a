package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression, GenericInternalRow, JoinedRow, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}

/** Distributed EXACT start-anchored `nth_value`, keyed or global:
  * `nth_value(e, k [IGNORE NULLS]) OVER ([PARTITION BY g] ORDER BY v
  * ...)` under a running (`UNBOUNDED PRECEDING .. CURRENT ROW`, ROWS or
  * RANGE) or whole-partition frame, without a funnel task (the global
  * window is the empty group key; see [[KeyedWindowNode]]).
  *
  * Every admitted frame starts at the KEY's first row, so the k-th
  * frame row is one PER-KEY constant — the key's k-th (non-null) row
  * in order — and each row's result is that constant gated on its
  * frame reaching k rows:
  *
  *  1. pass 1 collects, per partition, the first min(k, available)
  *     (non-null) values plus row / non-null counts of its FIRST and
  *     LAST group runs (edge group keys, single flag) — O(k) values
  *     per column per partition;
  *  2. the driver assembles each maximal same-group RUN: the run's
  *     complete first-k heads (concatenation in partition order,
  *     capped at k), its total row / non-null counts, and each member
  *     partition's PRIOR-ROWS offsets — so every partition knows, for
  *     its two edge groups, the resolved constant, the run totals, and
  *     where its own portion starts;
  *  3. pass 2 streams the rows: a row shows the constant when its
  *     running (non-null) position — offset by the run's prior rows —
  *     reaches k (ROWS), when its TIE GROUP's end position does (RANGE
  *     — one buffered group at a time), or when the run total does
  *     (whole frame). Only an INTERIOR group (one that starts and ends
  *     inside the partition) needs a second read: a group-gated LEAD
  *     over the same partition pre-scans it into O(k) heads and two
  *     counters. When every partition is one group run — always so
  *     under the empty key — pass 2 reads once.
  *
  * Tie caveat as row_number's: under a non-total order the k-th row of
  * a tie-heavy prefix is tie-order-dependent, here and in the built-in
  * alike; RANGE gating is deterministic whenever the built-in is.
  * Keyed windows route here only behind
  * `spark.graft.rewrite.partitionedRankWindows` or
  * [[graft.rules.RewriteGlobalRankWindows.forceSkew]].
  */
case class PartitionedNthValueNode(partKeys: Seq[Expression],
                                   order: Seq[SortOrder],
                                   attrs: Seq[AttributeReference],
                                   inputs: Seq[Expression],
                                   offsets: Seq[Int],
                                   ignoreNullsFlags: Seq[Boolean],
                                   // 0 = running ROWS, 1 = running
                                   // RANGE, 2 = whole frame
                                   frameKinds: Seq[Int],
                                   child: LogicalPlan) extends KeyedWindowNode {
  override protected def generated: Seq[Attribute] = attrs
  override protected def withNewChildInternal(newChild: LogicalPlan): PartitionedNthValueNode =
    copy(child = newChild)
}

object PartitionedNthValueStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case PartitionedNthValueNode(partKeys, order, attrs, inputs, offsets, ign, kinds, child) =>
      PartitionedNthValueExec(partKeys, order, attrs, inputs, offsets, ign,
        kinds, planLater(child)) :: Nil
    case _ => Nil
  }
}

case class PartitionedNthValueExec(partKeys: Seq[Expression],
                                   order: Seq[SortOrder],
                                   attrs: Seq[AttributeReference],
                                   inputs: Seq[Expression],
                                   offsets: Seq[Int],
                                   ignoreNullsFlags: Seq[Boolean],
                                   frameKinds: Seq[Int],
                                   child: SparkPlan) extends KeyedWindowExec {
  import PartitionedNthValue.{NthEdge, RunInfo}

  override protected def generated: Seq[Attribute] = attrs

  override protected def doExecute(): RDD[InternalRow] = {
    val rdd = child.execute()
    val childOutput = child.output
    val nCols = inputs.length
    val inputsArr = inputs.toArray
    val ksArr = offsets.toArray
    val ignArr = ignoreNullsFlags.toArray
    val kindArr = frameKinds.toArray
    val anyRange = kindArr.contains(1)
    val dataTypes = inputsArr.map(_.dataType)
    val partExprs = partKeys
    val partTypes = partExprs.map(_.dataType)
    val ordExprs = order.map(_.child)

    // pass 1: first/last group-run heads + counts, edge groups
    val edges: Array[NthEdge] =
      rdd.mapPartitionsWithIndex({ (pid, it) =>
        val groupProj = UnsafeProjection.create(partExprs, childOutput)
        val groupOrd = RowOrdering.createNaturalAscendingOrdering(partTypes)
        val valProjs = inputsArr.map(e =>
          UnsafeProjection.create(Seq(e), childOutput))
        var firstGroup: UnsafeRow = null
        var curGroup: UnsafeRow = null
        var single = true
        var firstHeads: Array[Array[UnsafeRow]] = null
        var firstRows = 0L
        var firstNn: Array[Long] = null
        val heads = Array.fill(nCols)(
          scala.collection.mutable.ArrayBuffer.empty[UnsafeRow])
        var rows = 0L
        val nn = new Array[Long](nCols)
        def snapshotFirst(): Unit = {
          firstHeads = heads.map(_.toArray)
          firstRows = rows
          firstNn = nn.clone()
        }
        def resetRun(): Unit = {
          var j = 0
          while (j < nCols) { heads(j).clear(); nn(j) = 0L; j += 1 }
          rows = 0L
        }
        it.foreach { row =>
          val g = groupProj(row)
          if (curGroup == null) {
            firstGroup = g.copy(); curGroup = firstGroup
          } else if (groupOrd.compare(curGroup, g) != 0) {
            if (single) snapshotFirst()
            curGroup = g.copy(); single = false
            resetRun()
          }
          rows += 1L
          var j = 0
          while (j < nCols) {
            if (ignArr(j) || heads(j).length < ksArr(j)) {
              val v = valProjs(j)(row)
              val isNull = v.isNullAt(0)
              if (!isNull) nn(j) += 1L
              if (heads(j).length < ksArr(j) && (!ignArr(j) || !isNull))
                heads(j) += v.copy()
            }
            j += 1
          }
        }
        if (single && curGroup != null) snapshotFirst()
        Iterator((pid, NthEdge(firstGroup,
          if (curGroup == null) null
          else if (curGroup eq firstGroup) firstGroup else curGroup,
          single,
          if (firstHeads == null) Array.fill(nCols)(Array.empty[UnsafeRow])
          else firstHeads,
          firstRows, if (firstNn == null) new Array[Long](nCols) else firstNn,
          heads.map(_.toArray), rows, nn.clone())))
      }, preservesPartitioning = true).collect().sortBy(_._1).map(_._2)

    // driver: assemble maximal same-group RUNS; resolve each
    // partition's edge-group run structs (constant heads, totals,
    // prior-rows offsets)
    val nParts = edges.length
    val groupOrdDriver = RowOrdering.createNaturalAscendingOrdering(partTypes)
    final class RunAcc {
      val heads: Array[scala.collection.mutable.ArrayBuffer[UnsafeRow]] =
        Array.fill(nCols)(scala.collection.mutable.ArrayBuffer.empty[UnsafeRow])
      var rows = 0L
      val nn = new Array[Long](nCols)
      def extend(h: Array[Array[UnsafeRow]], r: Long, n: Array[Long]): Unit = {
        var j = 0
        while (j < nCols) {
          var i = 0
          while (heads(j).length < ksArr(j) && i < h(j).length) {
            heads(j) += h(j)(i); i += 1
          }
          nn(j) += n(j)
          j += 1
        }
        rows += r
      }
    }
    val runs = scala.collection.mutable.ArrayBuffer.empty[RunAcc]
    val firstRunId = new Array[Int](nParts)
    val firstRowOff = new Array[Long](nParts)
    val firstNnOff = Array.ofDim[Long](nParts, nCols)
    val lastRunId = new Array[Int](nParts)
    val lastRowOff = new Array[Long](nParts)
    val lastNnOff = Array.ofDim[Long](nParts, nCols)
    locally {
      var curRun = -1
      var curGroup: UnsafeRow = null
      var pid = 0
      while (pid < nParts) {
        val e = edges(pid)
        if (e.firstGroup == null) {
          firstRunId(pid) = -1; lastRunId(pid) = -1 // empty partition
        } else {
          val continues = curGroup != null && curRun >= 0 &&
            groupOrdDriver.compare(curGroup, e.firstGroup) == 0
          if (!continues) { runs += new RunAcc; curRun = runs.length - 1 }
          firstRunId(pid) = curRun
          firstRowOff(pid) = runs(curRun).rows
          var j = 0
          while (j < nCols) { firstNnOff(pid)(j) = runs(curRun).nn(j); j += 1 }
          runs(curRun).extend(e.firstHeads, e.firstRows, e.firstNn)
          if (e.single) {
            lastRunId(pid) = firstRunId(pid)
            lastRowOff(pid) = firstRowOff(pid)
            j = 0
            while (j < nCols) { lastNnOff(pid)(j) = firstNnOff(pid)(j); j += 1 }
          } else {
            // a multi-group partition's LAST group starts locally
            runs += new RunAcc; curRun = runs.length - 1
            lastRunId(pid) = curRun
            lastRowOff(pid) = 0L
            runs(curRun).extend(e.lastHeads, e.lastRows, e.lastNn)
          }
          curGroup = e.lastGroup
        }
        pid += 1
      }
    }
    // resolve each run's per-column constant (the run's k-th (non-null)
    // value, or null when the run never reaches k)
    def constOf(r: RunAcc, j: Int): UnsafeRow = {
      val have = if (ignArr(j)) r.nn(j) else r.rows
      if (have < ksArr(j)) null else r.heads(j)(ksArr(j) - 1)
    }
    val firstInfo: Array[RunInfo] = Array.tabulate(nParts) { pid =>
      if (firstRunId(pid) < 0) null
      else {
        val r = runs(firstRunId(pid))
        RunInfo(Array.tabulate(nCols)(j => constOf(r, j)), r.rows,
          r.nn.clone(), firstRowOff(pid), firstNnOff(pid))
      }
    }
    val lastInfo: Array[RunInfo] = Array.tabulate(nParts) { pid =>
      if (lastRunId(pid) < 0) null
      else {
        val r = runs(lastRunId(pid))
        RunInfo(Array.tabulate(nCols)(j => constOf(r, j)), r.rows,
          r.nn.clone(), lastRowOff(pid), lastNnOff(pid))
      }
    }
    val bcFirst = sparkContext.broadcast(firstInfo)
    val bcLast = sparkContext.broadcast(lastInfo)

    val out = output
    val numOutputRows = longMetric("numOutputRows")
    // pass 2: the group-gated lead (a second read of the partition)
    // pre-scans interior segments into O(k) heads + counters; the lag
    // streams with gates
    val nthPartition: (Int, Iterator[InternalRow], Iterator[InternalRow]) => Iterator[InternalRow] =
        (pid, leadIt0, lagIt) => {
      val groupProjLead = UnsafeProjection.create(partExprs, childOutput)
      val groupProjLag = UnsafeProjection.create(partExprs, childOutput)
      val groupOrd = RowOrdering.createNaturalAscendingOrdering(partTypes)
      val valProjsLead = inputsArr.map(e =>
        UnsafeProjection.create(Seq(e), childOutput))
      val valProjsLag = inputsArr.map(e =>
        UnsafeProjection.create(Seq(e), childOutput))
      val outProj = UnsafeProjection.create(out, out)
      val aggRow = new GenericInternalRow(nCols)
      val joined = new JoinedRow
      val leadIt = leadIt0.buffered
      var leadDone = false
      var segIdx = -1L // lag's segment ordinal

      // lead scan of ONE segment (called with the lag parked at its
      // first row, lead parked at the same boundary): heads + totals
      val segHeads = Array.fill(nCols)(
        scala.collection.mutable.ArrayBuffer.empty[UnsafeRow])
      var segRows = 0L
      val segNn = new Array[Long](nCols)
      def scanSegment(lagGroup: UnsafeRow): Boolean = { // returns isLast
        var j = 0
        while (j < nCols) { segHeads(j).clear(); segNn(j) = 0L; j += 1 }
        segRows = 0L
        var go = !leadDone
        while (go) {
          if (leadIt.hasNext) {
            if (groupOrd.compare(groupProjLead(leadIt.head), lagGroup) == 0) {
              val row = leadIt.next()
              segRows += 1L
              var i = 0
              while (i < nCols) {
                if (ignArr(i) || segHeads(i).length < ksArr(i)) {
                  val v = valProjsLead(i)(row)
                  val isNull = v.isNullAt(0)
                  if (!isNull) segNn(i) += 1L
                  if (segHeads(i).length < ksArr(i) && (!ignArr(i) || !isNull))
                    segHeads(i) += v.copy()
                }
                i += 1
              }
            } else go = false
          } else { leadDone = true; go = false }
        }
        leadDone
      }

      // the lag's per-segment state
      var constVal: Array[Any] = null
      var totRows = 0L
      var totNn: Array[Long] = null
      var pos = 0L
      var nnRun: Array[Long] = null
      var lagGroup: UnsafeRow = null
      def startSegment(g: UnsafeRow): Unit = {
        lagGroup = g.copy()
        segIdx += 1L
        val isLast = scanSegment(lagGroup)
        val info: RunInfo =
          if (segIdx == 0L) bcFirst.value(pid)
          else if (isLast) bcLast.value(pid)
          else null
        if (info != null) {
          constVal = Array.tabulate(nCols) { j =>
            val c = info.consts(j)
            if (c == null || c.isNullAt(0)) null else c.get(0, dataTypes(j))
          }
          totRows = info.totRows
          totNn = info.totNn
          pos = info.rowOff
          nnRun = info.nnOff.clone()
        } else {
          constVal = Array.tabulate(nCols) { j =>
            val have = if (ignArr(j)) segNn(j) else segRows
            if (have < ksArr(j)) null
            else {
              val c = segHeads(j)(ksArr(j) - 1)
              if (c.isNullAt(0)) null else c.get(0, dataTypes(j))
            }
          }
          totRows = segRows
          totNn = segNn.clone()
          pos = 0L
          nnRun = new Array[Long](nCols)
        }
      }
      def advance(row: InternalRow): Unit = {
        pos += 1L
        var j = 0
        while (j < nCols) {
          if (ignArr(j) && !valProjsLag(j)(row).isNullAt(0)) nnRun(j) += 1L
          j += 1
        }
      }
      def valueAt(j: Int): Any = {
        val reach = kindArr(j) match {
          case 2 => if (ignArr(j)) totNn(j) else totRows
          case _ => if (ignArr(j)) nnRun(j) else pos
        }
        if (reach >= ksArr(j)) constVal(j) else null
      }
      def emit(row: InternalRow): InternalRow = {
        numOutputRows += 1
        outProj(joined(row, aggRow))
      }
      def checkSegment(row: InternalRow): Unit = {
        val g = groupProjLag(row)
        if (lagGroup == null || groupOrd.compare(lagGroup, g) != 0)
          startSegment(g)
      }

      if (!anyRange) {
        lagIt.map { row =>
          checkSegment(row)
          advance(row)
          var j = 0
          while (j < nCols) { aggRow.update(j, valueAt(j)); j += 1 }
          emit(row)
        }
      } else {
        // RANGE columns gate on the TIE GROUP's end position: buffer
        // one (g, v) group (composite tie containment), per-row values
        // for the other kinds taken while the group is advanced over
        KeyedWindow.tieGroups(lagIt, partExprs ++ ordExprs, childOutput).flatMap { group =>
          val rowVals = group.map { row =>
            checkSegment(row)
            advance(row)
            Array.tabulate[Any](nCols)(j => if (kindArr(j) != 1) valueAt(j) else null)
          }
          // tie group consumed → pos/nnRun hold the group-end state
          val groupVals = Array.tabulate[Any](nCols)(j => if (kindArr(j) == 1) valueAt(j) else null)
          group.iterator.zip(rowVals.iterator).map { case (row, vs) =>
            var j = 0
            while (j < nCols) {
              aggRow.update(j, if (kindArr(j) == 1) groupVals(j) else vs(j))
              j += 1
            }
            emit(row)
          }
        }
      }
    }
    // every partition one group run (always so under the empty key):
    // each partition's only segment takes the driver's run view, so
    // nothing needs the lead — no second read
    if (edges.forall(e => e.firstGroup == null || e.single))
      rdd.mapPartitionsWithIndex((pid, it) => nthPartition(pid, Iterator.empty, it),
        preservesPartitioning = true)
    else rdd.zipPartitions(rdd, preservesPartitioning = true) { (lead, lag) =>
      nthPartition(org.apache.spark.TaskContext.getPartitionId(), lead, lag)
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): PartitionedNthValueExec =
    copy(child = newChild)
}

object PartitionedNthValue {

  /** Pass-1 edge payload: edge group keys, single flag, the FIRST and
    * LAST group runs' k-capped heads + row / non-null counts.
    * Top-level so task-result serialization doesn't drag the plan via
    * `$outer`. */
  private[plans] case class NthEdge(firstGroup: UnsafeRow,
                                    lastGroup: UnsafeRow,
                                    single: Boolean,
                                    firstHeads: Array[Array[UnsafeRow]],
                                    firstRows: Long,
                                    firstNn: Array[Long],
                                    lastHeads: Array[Array[UnsafeRow]],
                                    lastRows: Long,
                                    lastNn: Array[Long])

  /** One edge group's resolved run view for a partition: the run's
    * per-column constants and totals, plus this partition's prior-rows
    * offsets within the run. */
  private[plans] case class RunInfo(consts: Array[UnsafeRow],
                                    totRows: Long,
                                    totNn: Array[Long],
                                    rowOff: Long,
                                    nnOff: Array[Long])
}
