package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression, GenericInternalRow, JoinedRow, MutableProjection, RowOrdering, SortOrder, SpecificInternalRow, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}
import org.apache.spark.sql.types.{ByteType, DataType, DateType, IntegerType, LongType, ShortType}

/** Distributed EXACT RANGE-frame moving aggregate, keyed or global:
  * `agg(e) OVER ([PARTITION BY g] ORDER BY v RANGE BETWEEN x PRECEDING
  * AND y FOLLOWING)` on a single dense-domain order key — "the last 7
  * days' total, per user" — without the single-partition funnel of an
  * unpartitioned WindowExec or a hot group in one task (see
  * [[KeyedWindowNode]] for the shared composite `(g, v)` range
  * sub-split; the global window is the empty group key).
  *
  * A RANGE frame is value-bounded, not row-bounded, so the ROWS
  * siblings' argument (ship the boundary ROWS) does not apply — a
  * value window can hold arbitrarily many rows. The argument that
  * carries is on VALUES:
  *
  *  - a row's frame depends only on its `(g, v)`: the rows of group
  *    `g` with value in `[v + lo, v + hi]` — at most `hi - lo + 1`
  *    DISTINCT values of ONE group on an integral key;
  *  - range partitioning maps each `(g, v)` pair to exactly one
  *    partition (tie containment), so per-(g, v) buffers built inside
  *    a partition are COMPLETE — no cross-partition merge per value;
  *  - so pass 1 ships per-VALUE aggregate BUFFERS near each partition
  *    edge — a million rows of one user on one hot day ship as ONE
  *    sum/count buffer — group-matched at the boundaries: a
  *    partition's prev-buffers belong to ITS first group only
  *    (telescoped through single-group partitions of the same run,
  *    pruned to `backExtent` of its first value), its next-buffers to
  *    its last group only (within `fwdExtent` of its last value).
  *
  * Pass 2 zips the sorted stream with itself
  * (`rdd.zipPartitions(rdd)`): a LEAD iterator builds complete
  * per-value buffers into [[SlidingFrames]] — gated to the LAG's
  * current group, so it parks at every group boundary until the lag
  * arrives — and the LAG emits rows, merging the buffers inside each
  * function's own `[v + lo_j, v + hi_j]` with its Catalyst
  * `mergeExpressions`. Group change on the lag side clears the frames
  * (frames never cross groups); the FIRST group seeds from the chained
  * prev-buffers, the LAST group (and only it — the lead can exhaust
  * the partition only while consuming the lag's group) appends the
  * chained next-buffers. Memory is `O((backExtent + fwdExtent) *
  * nFuncs)` buffers plus the two iterators, never a buffered row
  * range; the price is reading the shuffle output twice per task.
  *
  * NULL order values sit at each group's HEAD (nulls-first orders) or
  * TAIL (nulls-last); the `(g, null)` tie group is partition-contained
  * and its RANGE frame is ITSELF (null bounds compare equal to null
  * keys only), so null rows fold into one per-group null buffer by the
  * lead and are computed once per group, never entering the boundary
  * lists. NULL group keys form one ordinary group.
  *
  * Keys ([[rangeKey]]): integral and DATE keys (the dense domain);
  * TIMESTAMP keys as epoch micros with micros-exact interval bounds
  * (the buffer bound is then the DISTINCT timestamps inside the extent
  * — pre-bucket the axis to the frame's grain — and the rule caps the
  * extent at `maxShiftOffset` DAYS); compact DECIMAL keys (p <= 18) on
  * their unscaled lattice. A DESCENDING key reads through the bitwise
  * NOT reversal ([[longReader]]). DOUBLE keys, wide decimals,
  * month-bearing bounds, half-unbounded frames and over-cap extents
  * keep WindowExec.
  *
  * Only order-INSENSITIVE aggregates ([[graft.rules
  * .RewriteGlobalRankWindows]]'s `allowedAgg`): per-value buffers make
  * tie order irrelevant — unlike the ROWS siblings there is NO
  * total-order caveat, even though the two zipped scans may interleave
  * ties differently. First/Last stay out by construction.
  *
  * Keyed windows route here only behind
  * `spark.graft.rewrite.partitionedRankWindows` or
  * [[graft.rules.RewriteGlobalRankWindows.forceSkew]].
  */
case class PartitionedRangeMovingAggNode(partKeys: Seq[Expression],
                                         order: Seq[SortOrder],
                                         attrs: Seq[AttributeReference],
                                         funcs: Seq[DeclarativeAggregate],
                                         lowers: Seq[Long],
                                         uppers: Seq[Long],
                                         descending: Boolean,
                                         child: LogicalPlan) extends KeyedWindowNode {
  override protected def generated: Seq[Attribute] = attrs
  override protected def withNewChildInternal(newChild: LogicalPlan): PartitionedRangeMovingAggNode =
    copy(child = newChild)
}

object PartitionedRangeMovingAggStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case PartitionedRangeMovingAggNode(partKeys, order, attrs, funcs, lowers, uppers, desc, child) =>
      PartitionedRangeMovingAggExec(partKeys, order, attrs, funcs, lowers,
        uppers, desc, planLater(child)) :: Nil
    case _ => Nil
  }
}

case class PartitionedRangeMovingAggExec(partKeys: Seq[Expression],
                                         order: Seq[SortOrder],
                                         attrs: Seq[AttributeReference],
                                         funcs: Seq[DeclarativeAggregate],
                                         lowers: Seq[Long],
                                         uppers: Seq[Long],
                                         descending: Boolean,
                                         child: SparkPlan) extends KeyedWindowExec {
  import PartitionedRangeMovingAgg.{KeyBufs, addSat}
  import PartitionedRangeMovingAgg.GroupMeta

  override protected def generated: Seq[Attribute] = attrs

  override protected def doExecute(): RDD[InternalRow] = {
    val rdd = child.execute()
    val childOutput = child.output
    val nFuncs = funcs.length
    val funcsArr = funcs.toArray
    val lowersArr = lowers.toArray
    val uppersArr = uppers.toArray
    val dataTypes = funcsArr.map(_.dataType)
    val backExtent = lowersArr.collect { case lo if lo < 0 => -lo }
      .maxOption.getOrElse(0L)
    val fwdExtent = uppersArr.collect { case hi if hi > 0 => hi }
      .maxOption.getOrElse(0L)
    val partExprs = partKeys
    val partTypes = partExprs.map(_.dataType)
    val keyExpr = order.head.child
    val keyType = keyExpr.dataType

    def newBuffers(): Array[SpecificInternalRow] =
      funcsArr.map(AggPlumbing.newBuffer)
    def updateProjs(): Array[MutableProjection] =
      funcsArr.map(AggPlumbing.updateProj(_, childOutput))

    // pass 1: one sorted stream — per-(group, value) buffers snapshot
    // into the FIRST group's head list (values within fwdExtent of its
    // first value) and the LAST group's pruned tail deque (within
    // backExtent of the running last value, cleared at group change)
    val metas: Array[GroupMeta] =
      rdd.mapPartitionsWithIndex({ (pid, it) =>
        val groupProj = UnsafeProjection.create(partExprs, childOutput)
        val groupOrd = RowOrdering.createNaturalAscendingOrdering(partTypes)
        val keyProj = UnsafeProjection.create(Seq(keyExpr), childOutput)
        val keyOf = PartitionedRangeMovingAgg.longReader(keyType, descending)
        val upds = updateProjs()
        val joins = Array.fill(nFuncs)(new JoinedRow)
        val toUnsafes = funcsArr.map(AggPlumbing.toUnsafe)
        val curBufs = newBuffers()
        val inits = funcsArr.zipWithIndex.map { case (f, j) =>
          val p = AggPlumbing.initProj(f); p.target(curBufs(j)); p
        }
        locally {
          var j = 0
          while (j < nFuncs) { upds(j).target(curBufs(j)); j += 1 }
        }
        var firstGroup: UnsafeRow = null
        var curGroup: UnsafeRow = null
        var single = true
        var firstV: Option[Long] = None // FIRST group's first non-null v
        var lastV: Option[Long] = None  // running: CURRENT group's last v
        val head = scala.collection.mutable.ArrayBuffer.empty[KeyBufs]
        val tail = new java.util.ArrayDeque[KeyBufs]()
        var curKey = 0L
        var haveCur = false
        def closeKey(inFirstGroup: Boolean): Unit = if (haveCur) {
          val kb = new KeyBufs(curKey,
            funcsArr.indices.map(j => toUnsafes(j)(curBufs(j)).copy()).toArray)
          if (inFirstGroup) firstV match {
            case Some(fv) if kb.key <= addSat(fv, fwdExtent) => head += kb
            case _ => ()
          }
          tail.addLast(kb)
          while (!tail.isEmpty &&
            tail.peekFirst().key < addSat(curKey, -backExtent)) tail.pollFirst()
          haveCur = false
        }
        it.foreach { row =>
          val g = groupProj(row)
          if (curGroup == null) {
            firstGroup = g.copy(); curGroup = firstGroup
          } else if (groupOrd.compare(curGroup, g) != 0) {
            closeKey(single)
            curGroup = g.copy(); single = false
            tail.clear()
            lastV = None
            haveCur = false
          }
          val kr = keyProj(row)
          if (!kr.isNullAt(0)) { // (g, null) tie groups never cross partitions
            val k = keyOf(kr)
            if (!haveCur || k != curKey) {
              closeKey(single)
              curKey = k
              if (single && firstV.isEmpty) firstV = Some(k)
              lastV = Some(k)
              var j = 0
              while (j < nFuncs) { inits(j)(InternalRow.empty); j += 1 }
              haveCur = true
            }
            var j = 0
            while (j < nFuncs) { upds(j)(joins(j)(curBufs(j), row)); j += 1 }
          }
        }
        closeKey(single)
        lastV.foreach { lv =>
          while (!tail.isEmpty &&
            tail.peekFirst().key < addSat(lv, -backExtent)) tail.pollFirst()
        }
        Iterator((pid, GroupMeta(firstGroup,
          if (curGroup == null) null
          else if (curGroup eq firstGroup) firstGroup else curGroup,
          single, firstV, lastV, head.toArray,
          tail.toArray(new Array[KeyBufs](tail.size())))))
      }, preservesPartitioning = true).collect().sortBy(_._1).map(_._2)

    // driver: GROUP-MATCHED boundary chains (the PartitionedShift
    // idiom carried on per-value buffer lists; values are unique per
    // group across partitions, so assembly is append + prune — no
    // buffer merging)
    val nParts = metas.length
    val groupOrdDriver = RowOrdering.createNaturalAscendingOrdering(partTypes)
    val prevBufs: Array[Array[KeyBufs]] = {
      val out = new Array[Array[KeyBufs]](nParts)
      val acc = new java.util.ArrayDeque[KeyBufs]()
      var runGroup: UnsafeRow = null
      var pid = 0
      while (pid < nParts) {
        val e = metas(pid)
        if (e.firstGroup == null) out(pid) = Array.empty
        else {
          val continues = runGroup != null &&
            groupOrdDriver.compare(runGroup, e.firstGroup) == 0
          out(pid) =
            if (continues) e.firstV match {
              case Some(fv) =>
                val lo = addSat(fv, -backExtent)
                acc.toArray(new Array[KeyBufs](acc.size())).filter(_.key >= lo)
              // a continuing all-null-v (or keyless) first group needs
              // no value buffers: null frames are partition-local
              case None => Array.empty[KeyBufs]
            }
            else Array.empty[KeyBufs]
          if (e.single && continues) {
            e.tail.foreach(acc.addLast)
            e.lastV.foreach { lv =>
              val lo = addSat(lv, -backExtent)
              while (!acc.isEmpty && acc.peekFirst().key < lo) acc.pollFirst()
            }
          } else {
            runGroup = e.lastGroup
            acc.clear()
            e.tail.foreach(acc.addLast)
          }
        }
        pid += 1
      }
      out
    }
    val nextBufs: Array[Array[KeyBufs]] = {
      val out = new Array[Array[KeyBufs]](nParts)
      var acc = List.empty[KeyBufs] // ascending
      var runGroup: UnsafeRow = null
      var pid = nParts - 1
      while (pid >= 0) {
        val e = metas(pid)
        if (e.lastGroup == null) out(pid) = Array.empty
        else {
          val continues = runGroup != null &&
            groupOrdDriver.compare(runGroup, e.lastGroup) == 0
          out(pid) =
            if (continues) e.lastV match {
              case Some(lv) =>
                val hi = addSat(lv, fwdExtent)
                acc.filter(_.key <= hi).toArray
              case None => Array.empty[KeyBufs]
            }
            else Array.empty[KeyBufs]
          if (e.single && continues) {
            acc = e.head.toList ++ acc
            e.firstV.foreach { fv =>
              val hi = addSat(fv, fwdExtent)
              acc = acc.filter(_.key <= hi)
            }
            runGroup = e.firstGroup
          } else {
            runGroup = e.firstGroup
            acc = e.head.toList
          }
        }
        pid -= 1
      }
      out
    }
    val bcPrev = sparkContext.broadcast(prevBufs)
    val bcNext = sparkContext.broadcast(nextBufs)

    val out = output
    val numOutputRows = longMetric("numOutputRows")
    // pass 2: zip the sorted stream with itself — the LEAD builds
    // complete per-value buffers gated to the LAG's current group
    rdd.zipPartitions(rdd, preservesPartitioning = true) { (leadIt0, lagIt) =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      val groupProjLead = UnsafeProjection.create(partExprs, childOutput)
      val groupProjLag = UnsafeProjection.create(partExprs, childOutput)
      val groupOrd = RowOrdering.createNaturalAscendingOrdering(partTypes)
      val keyProjLead = UnsafeProjection.create(Seq(keyExpr), childOutput)
      val keyProjLag = UnsafeProjection.create(Seq(keyExpr), childOutput)
      val keyOf = PartitionedRangeMovingAgg.longReader(keyType, descending)
      val outProj = UnsafeProjection.create(out, out)
      val upds = updateProjs()
      val toUnsafes = funcsArr.map(AggPlumbing.toUnsafe)
      val joins = Array.fill(nFuncs)(new JoinedRow)

      // per-function two-stack sliding windows over the lag's group
      // only (amortized-O(1) per key per function — ADVICE r13)
      val frames = new SlidingFrames(funcsArr, lowersArr, uppersArr)
      val nexts = bcNext.value(pid)
      var nextIdx = 0

      // per-lag-group null-value block buffers (reset at group change)
      val nullBufs = newBuffers()
      val nullInits = funcsArr.zipWithIndex.map { case (f, j) =>
        val p = AggPlumbing.initProj(f); p.target(nullBufs(j)); p
      }

      // lead state — parks at every group boundary until the lag's
      // group arrives (feed calls are gated on the lag's group key)
      val curBufs = newBuffers()
      val leadInits = funcsArr.zipWithIndex.map { case (f, j) =>
        val p = AggPlumbing.initProj(f); p.target(curBufs(j)); p
      }
      var curKey = 0L
      var haveCur = false
      var leadDone = false
      val leadIt = leadIt0.buffered
      def closeCur(): Unit = if (haveCur) {
        frames.append(new KeyBufs(curKey,
          funcsArr.indices.map(j => toUnsafes(j)(curBufs(j)).copy()).toArray))
        haveCur = false
      }
      def consumeLead(): Unit = {
        val row = leadIt.next()
        val kr = keyProjLead(row)
        if (kr.isNullAt(0)) {
          var j = 0
          while (j < nFuncs) {
            upds(j).target(nullBufs(j))
            upds(j)(joins(j)(nullBufs(j), row))
            j += 1
          }
        } else {
          val k = keyOf(kr)
          if (!haveCur || k != curKey) {
            closeCur()
            curKey = k
            var j = 0
            while (j < nFuncs) {
              leadInits(j)(InternalRow.empty)
              upds(j).target(curBufs(j))
              j += 1
            }
            haveCur = true
          }
          var j = 0
          while (j < nFuncs) { upds(j)(joins(j)(curBufs(j), row)); j += 1 }
        }
      }
      def peekInLagGroup(lagGroup: UnsafeRow): Boolean =
        groupOrd.compare(groupProjLead(leadIt.head), lagGroup) == 0
      /** Advance the lead until every value <= target of the LAG's
        * group is complete and in the window; park at the group
        * boundary. Appends the chained next-buffers once the partition
        * is exhausted (possible only while consuming the last group =
        * the lag's). */
      def feedLead(lagGroup: UnsafeRow, target: Long): Unit = {
        var go = !leadDone
        while (go) {
          if (leadIt.hasNext) {
            if (peekInLagGroup(lagGroup)) {
              val kr = keyProjLead(leadIt.head)
              if (kr.isNullAt(0) || keyOf(kr) <= target) consumeLead()
              else go = false
            } else go = false // parked at the group boundary
          } else { leadDone = true; go = false }
        }
        // the current value's buffer is complete when the lead moved
        // past it (group end, partition end, or a later value)
        if (haveCur && curKey <= target &&
          (leadDone || !peekInLagGroup(lagGroup) || {
            val kr = keyProjLead(leadIt.head)
            !kr.isNullAt(0) && keyOf(kr) > target
          })) closeCur()
        while (nextIdx < nexts.length && leadDone &&
          nexts(nextIdx).key <= target) {
          frames.append(nexts(nextIdx)); nextIdx += 1
        }
      }
      /** Consume the lag group's leading null block only. */
      def feedLeadNulls(lagGroup: UnsafeRow): Unit = {
        var go = !leadDone
        while (go) {
          if (leadIt.hasNext) {
            if (peekInLagGroup(lagGroup) &&
              keyProjLead(leadIt.head).isNullAt(0)) consumeLead()
            else go = false
          } else { leadDone = true; go = false }
        }
      }

      // frame evaluation plumbing
      val frameBufs = funcsArr.map { f =>
        new SpecificInternalRow(f.aggBufferAttributes.map(_.dataType))
      }
      val inits = funcsArr.zipWithIndex.map { case (f, j) =>
        val p = AggPlumbing.initProj(f); p.target(frameBufs(j)); p
      }
      val merges = funcsArr.zipWithIndex.map { case (f, j) =>
        val p = AggPlumbing.mergeProj(f); p.target(frameBufs(j)); p
      }
      val mergeJoins = Array.fill(nFuncs)(new JoinedRow)
      val evalRows = funcsArr.map(f => new SpecificInternalRow(Seq(f.dataType)))
      val evals = funcsArr.zipWithIndex.map { case (f, j) =>
        val p = AggPlumbing.evalProj(f); p.target(evalRows(j)); p
      }
      val aggRow = new GenericInternalRow(nFuncs)
      val joined = new JoinedRow
      def valueOf(j: Int): Any = {
        evals(j)(frameBufs(j))
        if (evalRows(j).isNullAt(0)) null else evalRows(j).get(0, dataTypes(j))
      }
      def computeFor(v: Long): Unit = {
        frames.computeInto(v, frameBufs, inits, merges, mergeJoins)
        var j = 0
        while (j < nFuncs) { aggRow.update(j, valueOf(j)); j += 1 }
      }
      def computeNull(): Unit = {
        var j = 0
        while (j < nFuncs) {
          evals(j)(nullBufs(j))
          aggRow.update(j,
            if (evalRows(j).isNullAt(0)) null else evalRows(j).get(0, dataTypes(j)))
          j += 1
        }
      }

      var lagGroup: UnsafeRow = null
      var firstSeg = true
      var haveMemo = false
      var memoKey = 0L
      var nullDone = false
      lagIt.map { row =>
        val g = groupProjLag(row)
        if (lagGroup == null || groupOrd.compare(lagGroup, g) != 0) {
          firstSeg = lagGroup == null
          lagGroup = g.copy()
          frames.clear()
          if (firstSeg) bcPrev.value(pid).foreach(frames.append)
          var j = 0
          while (j < nFuncs) { nullInits(j)(InternalRow.empty); j += 1 }
          haveMemo = false; nullDone = false
        }
        val kr = keyProjLag(row)
        if (kr.isNullAt(0)) {
          if (!nullDone) { feedLeadNulls(lagGroup); computeNull(); nullDone = true }
        } else {
          val v = keyOf(kr)
          if (!haveMemo || v != memoKey) {
            feedLead(lagGroup, addSat(v, fwdExtent))
            computeFor(v)
            // prune AFTER computing: only then has every function
            // consumed all keys <= v + hi_j, which covers everything
            // below the widest lookback
            frames.dropBelowKey(addSat(v, -backExtent))
            memoKey = v; haveMemo = true
          }
        }
        numOutputRows += 1
        outProj(joined(row, aggRow))
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): PartitionedRangeMovingAggExec =
    copy(child = newChild)
}

object PartitionedRangeMovingAgg {

  /** One complete per-key buffer set: the key plus one partial buffer
    * per function (complete because a key lives in exactly one range
    * partition). */
  final class KeyBufs(val key: Long, val bufs: Array[UnsafeRow])
    extends Serializable

  /** Per-partition pass-1 payload: edge group keys, single-group flag,
    * the FIRST group's first non-null value and head buffers, the LAST
    * group's last non-null value and tail buffers. Top-level so
    * task-result serialization doesn't drag the plan via `$outer`. */
  private[plans] case class GroupMeta(firstGroup: UnsafeRow,
                                      lastGroup: UnsafeRow,
                                      single: Boolean,
                                      firstV: Option[Long],
                                      lastV: Option[Long],
                                      head: Array[KeyBufs],
                                      tail: Array[KeyBufs])

  /** Integral order-key types this tier serves — the "dense domain"
    * precondition (DateType is day-integral). */
  def integralKey(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | DateType => true
    case _ => false
  }

  /** Timestamp order-key types (r14, VERDICT r13 task 1): both store
    * epoch MICROS as a Long, so `ts + interval` with a day/hour-pure
    * (micros-exact) bound is plain long arithmetic on the key domain —
    * the per-key-buffer argument carries unchanged. The domain is NOT
    * dense the way a day axis is (adjacent keys can be a single micro
    * apart), so boundary state is bounded by the DISTINCT timestamps
    * inside the extent at each partition edge, not by the extent
    * value; the scale guidance is to pre-bucket the axis to the
    * frame's natural grain first (the q_rangemov_ts pattern), and the
    * matcher caps the extent at `maxShiftOffset` DAYS of micros. */
  def timeKey(dt: DataType): Boolean = dt match {
    case org.apache.spark.sql.types.TimestampType |
         org.apache.spark.sql.types.TimestampNTZType => true
    case _ => false
  }

  /** Compact DECIMAL order keys (r14, the second widening): a
    * Decimal(p <= 18, s) is an unscaled Long on a fixed 10^-s lattice,
    * so a same-scale decimal frame bound is an exact unscaled-long
    * extent and the whole per-key-buffer argument carries — the
    * pigeonhole bound is `hi - lo + 1` UNSCALED steps (a money axis at
    * scale 2 holds at most 100·x + 1 distinct keys per x-currency
    * extent). Wide decimals (p > 18, int128 unscaled) stay on
    * WindowExec — same refusal boundary as GlobalExactPercentile's
    * phase split. */
  def decimalKey(dt: DataType): Boolean = dt match {
    case d: org.apache.spark.sql.types.DecimalType => d.precision <= 18
    case _ => false
  }

  /** Order-key admission for the RANGE tiers: dense integral domains
    * plus the r14 timestamp and compact-decimal widenings. */
  def rangeKey(dt: DataType): Boolean =
    integralKey(dt) || timeKey(dt) || decimalKey(dt)

  /** Read the single-column key row as Long for the given type. A
    * DESCENDING order reads the bitwise NOT (`~v = -1 - v`): a
    * monotone REVERSAL with no overflow (two's complement), under
    * which the descending stream ascends and the frame bounds carry
    * over UNCHANGED — for `ORDER BY v DESC RANGE BETWEEN x PRECEDING
    * AND y FOLLOWING`, v in [v0 - y, v0 + x] iff ~v in
    * [~v0 - x, ~v0 + y], exactly the parsed [lo, hi]. */
  private[plans] def longReader(dt: DataType,
                                descending: Boolean = false): InternalRow => Long = {
    val raw: InternalRow => Long = dt match {
      case LongType => r => r.getLong(0)
      // timestamps read their epoch-micros physical long (r14)
      case org.apache.spark.sql.types.TimestampType |
           org.apache.spark.sql.types.TimestampNTZType => r => r.getLong(0)
      // compact decimals read their unscaled long (r14) — same scale
      // everywhere, so unscaled order == decimal order
      case d: org.apache.spark.sql.types.DecimalType if d.precision <= 18 =>
        r => r.getDecimal(0, d.precision, d.scale).toUnscaledLong
      case IntegerType | DateType => r => r.getInt(0).toLong
      case ShortType => r => r.getShort(0).toLong
      case ByteType => r => r.getByte(0).toLong
      case other => throw new IllegalArgumentException(
        s"PartitionedRangeMovingAgg: non-integral order key type $other")
    }
    if (descending) r => ~raw(r) else raw
  }

  /** Saturating add: `v + extent` must not wrap at the Long edges (the
    * window comparisons treat the result as an inclusive bound). */
  private[plans] def addSat(a: Long, b: Long): Long = {
    val r = a + b
    if (((a ^ r) & (b ^ r)) < 0L) { if (b > 0L) Long.MaxValue else Long.MinValue }
    else r
  }
}
