package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression, GenericInternalRow, JoinedRow, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}

/** Distributed `lead(e, k) IGNORE NULLS OVER ([PARTITION BY g] ORDER
  * BY v)`, keyed or global (the global window is the empty group key;
  * see [[KeyedWindowNode]]). The k-th NON-NULL value ahead of a row can
  * be arbitrarily many ROWS ahead (a null run has no bound), so
  * [[PartitionedShift]]'s fixed-capacity position ring cannot hold the
  * gap — but the VALUE state is bounded by construction: a row needs
  * exactly the next k non-null values, never the rows between.
  *
  *  1. pass 1 collects, per partition, the first k non-null values of
  *     its FIRST group run (plus the edge group keys and the
  *     single-group flag; under the empty key it stops reading at the
  *     k-th non-null);
  *  2. the driver chains them GROUP-MATCHED into each partition's
  *     lookahead tail — the first k non-nulls of its LAST group from
  *     later partitions, telescoped through single-group partitions of
  *     the same run; a group ending at a partition boundary
  *     contributes nothing across it;
  *  3. pass 2 zips the stream with its base: the LEAD iterator pushes
  *     (position, value) pairs for non-nulls into an O(k) deque but is
  *     GATED to the lag's current group — it PARKS at every group
  *     boundary until the lag arrives, so a group that ends
  *     mid-partition starves the deque and its last rows fall to the
  *     default (evaluated against the current row) exactly as the
  *     built-in's per-partition frames do; only when the partition
  *     itself is exhausted (possible only while consuming the lag's
  *     group) does the chained tail finish the job. Group change on
  *     the lag side clears the deque.
  *
  * ONE COLUMN per node, on purpose: the deque bound holds because the
  * lead stops the moment THIS column has k values ahead; two columns
  * sharing one lead desynchronize (the starved one drives the lead
  * arbitrarily far). The LEAD side reads the BASE below any same-spec
  * lookahead siblings, so N stacked columns cost N + 1 base reads, not
  * 2^N — the stack test only skips siblings with the SAME partition
  * and order spec (a different spec means an exchange sits between,
  * and zipping across an exchange would misalign the two reads).
  *
  * Tie caveat, stated sharply because pass 2 reads the shuffle twice
  * in the same task: under a non-total order the two reads may
  * interleave equal-key rows differently, and the positional alignment
  * between lead and lag then refers to two linearizations. Pass a
  * TOTAL order for deterministic — and exactly built-in-equal —
  * results, the contract of row_number/lead/lag everywhere else.
  *
  * Keyed windows route here only behind
  * `spark.graft.rewrite.partitionedRankWindows` or
  * [[graft.rules.RewriteGlobalRankWindows.forceSkew]].
  */
case class PartitionedLookaheadNode(partKeys: Seq[Expression],
                                    order: Seq[SortOrder],
                                    attr: AttributeReference,
                                    input: Expression,
                                    offset: Int,
                                    default: Expression,
                                    child: LogicalPlan) extends KeyedWindowNode {
  require(offset >= 1, s"lookahead offset must be >= 1, got $offset")
  override protected def generated: Seq[Attribute] = Seq(attr)
  override protected def withNewChildInternal(newChild: LogicalPlan): PartitionedLookaheadNode =
    copy(child = newChild)
}

object PartitionedLookaheadStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case PartitionedLookaheadNode(partKeys, order, attr, input, offset, default, child) =>
      PartitionedLookaheadExec(partKeys, order, attr, input, offset, default,
        planLater(child)) :: Nil
    case _ => Nil
  }
}

case class PartitionedLookaheadExec(partKeys: Seq[Expression],
                                    order: Seq[SortOrder],
                                    attr: AttributeReference,
                                    input: Expression,
                                    offset: Int,
                                    default: Expression,
                                    child: SparkPlan) extends KeyedWindowExec {
  import PartitionedLookahead.LookEdge

  override protected def generated: Seq[Attribute] = Seq(attr)

  override protected def doExecute(): RDD[InternalRow] = {
    val rdd = child.execute()
    val childOutput = child.output
    val inputExpr = input
    val defaultExpr = default
    val k = offset
    val dt = input.dataType
    val partExprs = partKeys
    val partTypes = partExprs.map(_.dataType)
    // the LEAD side (and pass 1) read the BASE below same-spec stacked
    // siblings: their input expressions only reference base columns
    // (one Window's expressions never read each other), and zipping
    // each node against its direct child would double reads per level
    val base = PartitionedLookahead.baseBelow(this).asInstanceOf[
      PartitionedLookaheadExec].child
    val baseRdd = if (base eq child) rdd else base.execute()
    val baseOutput = base.output

    // pass 1: the first k NON-NULL values of the FIRST group run, plus
    // the edge groups and the single-group flag
    val edges: Array[LookEdge] =
      baseRdd.mapPartitionsWithIndex({ (pid, it) =>
        val groupProj = UnsafeProjection.create(partExprs, baseOutput)
        val groupOrd = RowOrdering.createNaturalAscendingOrdering(partTypes)
        val proj = UnsafeProjection.create(Seq(inputExpr), baseOutput)
        val acc = scala.collection.mutable.ArrayBuffer.empty[UnsafeRow]
        var firstGroup: UnsafeRow = null
        var curGroup: UnsafeRow = null
        var single = true
        // under the empty key the one run's first k non-nulls are all
        // pass 1 needs: stop reading there
        while (it.hasNext && !(partExprs.isEmpty && acc.length >= k)) {
          val row = it.next()
          val g = groupProj(row)
          if (curGroup == null) {
            firstGroup = g.copy(); curGroup = firstGroup
          } else if (groupOrd.compare(curGroup, g) != 0) {
            curGroup = g.copy(); single = false
          }
          if (single && acc.length < k) {
            val r = proj(row)
            if (!r.isNullAt(0)) acc += r.copy()
          }
        }
        Iterator((pid, LookEdge(firstGroup,
          if (curGroup == null) null
          else if (curGroup eq firstGroup) firstGroup else curGroup,
          acc.toArray, single)))
      }, preservesPartitioning = true).collect().sortBy(_._1).map(_._2)

    // driver: GROUP-MATCHED telescoped lookahead tails for each
    // partition's LAST group
    val nParts = edges.length
    val groupOrdDriver = RowOrdering.createNaturalAscendingOrdering(partTypes)
    val tails: Array[Array[UnsafeRow]] = {
      val out = new Array[Array[UnsafeRow]](nParts)
      var acc = List.empty[UnsafeRow]
      var runGroup: UnsafeRow = null
      var pid = nParts - 1
      while (pid >= 0) {
        val e = edges(pid)
        if (e.lastGroup == null) out(pid) = Array.empty
        else {
          val continues = runGroup != null &&
            groupOrdDriver.compare(runGroup, e.lastGroup) == 0
          out(pid) = if (continues) acc.take(k).toArray
                     else Array.empty[UnsafeRow]
          if (e.single && continues) {
            acc = (e.head.toList ++ acc).take(k)
            runGroup = e.firstGroup
          } else {
            runGroup = e.firstGroup
            acc = e.head.toList.take(k)
          }
        }
        pid -= 1
      }
      out
    }
    val bcTails = sparkContext.broadcast(tails)

    val out = output
    val numOutputRows = longMetric("numOutputRows")
    // pass 2: zip the (lag) stream with the base — the lead pushes
    // (pos, value) for the LAG'S GROUP only, parking at group
    // boundaries
    rdd.zipPartitions(baseRdd, preservesPartitioning = true) { (lagIt, leadIt0) =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      val groupProjLead = UnsafeProjection.create(partExprs, baseOutput)
      val groupProjLag = UnsafeProjection.create(partExprs, childOutput)
      val groupOrd = RowOrdering.createNaturalAscendingOrdering(partTypes)
      val leadProj = UnsafeProjection.create(Seq(inputExpr), baseOutput)
      val defaultProj = UnsafeProjection.create(Seq(defaultExpr), childOutput)
      val outProj = UnsafeProjection.create(out, out)
      val joined = new JoinedRow
      val valRow = new GenericInternalRow(1)
      val tail = bcTails.value(pid)
      val leadIt = leadIt0.buffered

      final class Entry(val pos: Long, val value: UnsafeRow)
      val deque = new java.util.ArrayDeque[Entry]()
      var tailIdx = 0
      var leadPos = -1L
      var leadDone = false
      def advanceLead(lagGroup: UnsafeRow, lagPos: Long): Unit = {
        var go = !leadDone
        while (go && deque.size < k) {
          if (leadIt.hasNext) {
            if (groupOrd.compare(groupProjLead(leadIt.head), lagGroup) == 0) {
              val row = leadIt.next()
              leadPos += 1L
              if (leadPos > lagPos) { // values at or before lag never lead
                val r = leadProj(row)
                if (!r.isNullAt(0)) deque.addLast(new Entry(leadPos, r.copy()))
              }
            } else go = false // parked at the group boundary
          } else { leadDone = true; go = false }
        }
        // the chained tail finishes only an END-OF-PARTITION group (the
        // lead can exhaust the stream only while inside the lag's group)
        if (leadDone) {
          while (deque.size < k && tailIdx < tail.length) {
            deque.addLast(new Entry(Long.MaxValue, tail(tailIdx)))
            tailIdx += 1
          }
        }
      }

      var lagGroup: UnsafeRow = null
      var lagPos = -1L
      lagIt.map { row =>
        lagPos += 1L
        val g = groupProjLag(row)
        if (lagGroup == null || groupOrd.compare(lagGroup, g) != 0) {
          lagGroup = g.copy()
          deque.clear() // frames never cross groups
        }
        // retire entries no longer strictly ahead of this row
        while (!deque.isEmpty && deque.peekFirst().pos <= lagPos)
          deque.pollFirst()
        advanceLead(lagGroup, lagPos)
        if (deque.size >= k) {
          val it2 = deque.iterator()
          var i = 1
          var e = it2.next()
          while (i < k) { e = it2.next(); i += 1 }
          valRow.update(0, e.value.get(0, dt))
        } else {
          val d = defaultProj(row)
          valRow.update(0, if (d.isNullAt(0)) null else d.get(0, dt))
        }
        numOutputRows += 1
        outProj(joined(row, valRow))
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): PartitionedLookaheadExec =
    copy(child = newChild)
}

object PartitionedLookahead {

  /** Pass-1 edge payload: edge group keys, the first group run's first
    * k non-null values, single-group flag. Top-level so task-result
    * serialization doesn't drag the plan via `$outer`. */
  private[plans] case class LookEdge(firstGroup: UnsafeRow,
                                     lastGroup: UnsafeRow,
                                     head: Array[UnsafeRow],
                                     single: Boolean)

  /** The deepest [[PartitionedLookaheadExec]] of a SAME-SPEC stack
    * containing `p` — its child is the shared lead-side base. Spec
    * equality (partition keys and order) is required: a different spec
    * means EnsureRequirements put an exchange between the nodes, and
    * zipping across it would misalign the two reads. */
  private[plans] def baseBelow(p: SparkPlan): SparkPlan = p match {
    case g: PartitionedLookaheadExec => g.child match {
      case c: PartitionedLookaheadExec
          if c.partKeys == g.partKeys && c.order == g.order =>
        baseBelow(c)
      case _ => g
    }
    case other => other
  }
}
