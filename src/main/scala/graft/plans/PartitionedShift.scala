package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftSqlBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, Descending, Expression, GenericInternalRow, JoinedRow, Literal, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}

/** Distributed EXACT `lead`/`lag`, keyed or global: `lead/lag(e, k)
  * OVER ([PARTITION BY g] ORDER BY v)` — the per-user event delta, or
  * the global day-over-day delta under the empty key — without the
  * single-partition WindowExec funnel or a hot key in one task (see
  * [[KeyedWindowNode]] for the shared composite range sub-split).
  *
  * A row's source is at most `k` rows away, so the only values a
  * partition can need from outside itself sit next to its edges —
  * BOUNDED boundary state instead of a funnel:
  *
  *  1. pass 1 collects, per partition, the first `maxFwd` values of
  *     its FIRST key run and the last `maxBack` values of its LAST key
  *     run (narrow single-column copies) plus the two keys and the
  *     single-key flag — at most `numPartitions * k` values per column
  *     on the driver, independent of data volume;
  *  2. the driver chains boundaries KEY-MATCHED: a partition's
  *     prev-tail holds values of ITS first key only (telescoped
  *     through single-key partitions of the same run — under the empty
  *     key, through every partition), its next-head values of its last
  *     key only; a key that ends at a boundary contributes nothing
  *     across it, so out-of-key offsets fall to the default exactly as
  *     the built-in's per-partition frames do;
  *  3. pass 2 streams with a value ring and a bounded row read-ahead of
  *     `maxFwd`, SEGMENT-tagged: each buffered value carries its
  *     key-segment id, an offset resolves in-ring only when source and
  *     current row share the segment, below-zero sources consult the
  *     prev-tail (first segment only), past-end sources the next-head
  *     (last segment only). Defaults are evaluated against the CURRENT
  *     row, WindowExec's own offset-frame semantics.
  *
  * `lag(e, k) IGNORE NULLS` is the k-th most recent NON-NULL value
  * strictly before the row — still k values of state: its tails hold
  * the last k non-null values, chained key-matched like the plain
  * tails, and pass 2 keeps a per-SEGMENT k-capacity non-null ring
  * (reset at key change, seeded from the chained tail for the first
  * segment only). The LEAD mirror can need unbounded lookahead and is
  * [[PartitionedLookahead]]'s. Offsets are capped by the rewrite rule
  * (`spark.graft.rewrite.maxShiftOffset`) because boundary state scales
  * linearly with them.
  *
  * Tie caveat, stronger than the built-in's: the two passes re-read
  * the shuffle independently, so under a NON-total order a
  * boundary-crossing value may reflect a different permutation of a
  * tie group than the in-partition values do — pass a total order for
  * deterministic, exact output.
  *
  * Parallel-seq layout (attrs(i) carries inputs(i) shifted by
  * offsets(i) with defaults(i)) rather than a Seq of bundles: QueryPlan
  * collects `expressions` only from TOP-LEVEL Expression/Seq[Expression]
  * constructor fields, so nesting the inputs inside a carrier case
  * class would hide them from `references` — and ColumnPruning would
  * prune the shifted columns out of the child. Keyed windows route
  * here only behind `spark.graft.rewrite.partitionedRankWindows` or
  * [[graft.rules.RewriteGlobalRankWindows.forceSkew]].
  */
case class PartitionedShiftNode(partKeys: Seq[Expression],
                                order: Seq[SortOrder],
                                attrs: Seq[AttributeReference],
                                inputs: Seq[Expression],
                                offsets: Seq[Int],
                                defaults: Seq[Expression],
                                ignoreNullsFlags: Seq[Boolean],
                                child: LogicalPlan) extends KeyedWindowNode {
  override protected def generated: Seq[Attribute] = attrs
  override protected def withNewChildInternal(newChild: LogicalPlan): PartitionedShiftNode =
    copy(child = newChild)
}

object PartitionedShiftStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case PartitionedShiftNode(partKeys, order, attrs, inputs, offsets, defaults, ign, child) =>
      PartitionedShiftExec(partKeys, order, attrs, inputs, offsets, defaults,
        ign, planLater(child)) :: Nil
    case _ => Nil
  }
}

case class PartitionedShiftExec(partKeys: Seq[Expression],
                                order: Seq[SortOrder],
                                attrs: Seq[AttributeReference],
                                inputs: Seq[Expression],
                                offsets: Seq[Int],
                                defaults: Seq[Expression],
                                ignoreNullsFlags: Seq[Boolean],
                                child: SparkPlan) extends KeyedWindowExec {
  import PartitionedShift.ShiftEdge

  override protected def generated: Seq[Attribute] = attrs

  override protected def doExecute(): RDD[InternalRow] = {
    val rdd = child.execute()
    val childOutput = child.output
    val nShifts = inputs.length
    val inputsArr = inputs.toArray
    val offsetsArr = offsets.toArray
    val defaultsArr = defaults.toArray
    // IGNORE NULLS columns (lag-only by construction): tails and the
    // per-segment ring hold NON-NULL
    // values only — the state stays k values, just k non-null ones
    val ign = (if (ignoreNullsFlags.isEmpty) Seq.fill(nShifts)(false)
               else ignoreNullsFlags).toArray
    val dataTypes = inputsArr.map(_.dataType)
    val nullDefault = defaultsArr.map(d => d.foldable && d.eval() == null)
    val maxBack = offsetsArr.collect { case o if o < 0 => -o }
      .maxOption.getOrElse(0)
    val maxFwd = offsetsArr.collect { case o if o > 0 => o }
      .maxOption.getOrElse(0)
    val partExprs = partKeys
    val partTypes = partExprs.map(_.dataType)

    // pass 1: first-run heads (first maxFwd values) + last-run tails
    // (last maxBack values) per column, plus the edge keys
    val edges: Array[ShiftEdge] =
      rdd.mapPartitionsWithIndex({ (pid, it) =>
        val keyProj = UnsafeProjection.create(partExprs, childOutput)
        val keyOrd = RowOrdering.createNaturalAscendingOrdering(partTypes)
        val projs = inputsArr.map(e =>
          UnsafeProjection.create(Seq(e), childOutput))
        val heads = Array.fill(nShifts)(
          scala.collection.mutable.ArrayBuffer.empty[UnsafeRow])
        val tails = Array.fill(nShifts)(new java.util.ArrayDeque[UnsafeRow]())
        var firstKey: UnsafeRow = null
        var curKey: UnsafeRow = null
        var single = true
        it.foreach { row =>
          val k = keyProj(row)
          if (curKey == null) {
            firstKey = k.copy(); curKey = firstKey
          } else if (keyOrd.compare(curKey, k) != 0) {
            curKey = k.copy(); single = false
            var j = 0
            while (j < nShifts) { tails(j).clear(); j += 1 }
          }
          var j = 0
          while (j < nShifts) {
            val o = offsetsArr(j)
            if (o > 0 && single && heads(j).length < o)
              heads(j) += projs(j)(row).copy()
            if (o < 0) {
              val v = projs(j)(row)
              if (!ign(j) || !v.isNullAt(0)) {
                val t = tails(j)
                if (t.size == -o) t.pollFirst()
                t.addLast(v.copy())
              }
            }
            j += 1
          }
        }
        Iterator((pid, ShiftEdge(firstKey,
          if (curKey == null) null
          else if (curKey eq firstKey) firstKey else curKey,
          heads.map(_.toArray),
          tails.map(t => t.toArray(new Array[UnsafeRow](t.size))),
          single)))
      }, preservesPartitioning = true).collect().sortBy(_._1).map(_._2)

    // driver: KEY-MATCHED boundary chains. prevTail(pid)(j): the last
    // maxBack_j values of pid's FIRST key from earlier partitions;
    // nextHead(pid)(j): the first maxFwd_j values of pid's LAST key
    // from later partitions. Telescoped through single-key partitions
    // of the same run; a key ending at a boundary contributes nothing
    // across it.
    val nParts = edges.length
    val keyOrdDriver = RowOrdering.createNaturalAscendingOrdering(partTypes)
    val prevTails: Array[Array[Array[UnsafeRow]]] = {
      val out = new Array[Array[Array[UnsafeRow]]](nParts)
      val deques = Array.fill(nShifts)(new java.util.ArrayDeque[UnsafeRow]())
      var runKey: UnsafeRow = null
      var pid = 0
      while (pid < nParts) {
        val e = edges(pid)
        if (e.firstKey == null) out(pid) = Array.fill(nShifts)(Array.empty)
        else {
          val continues = runKey != null &&
            keyOrdDriver.compare(runKey, e.firstKey) == 0
          out(pid) =
            if (continues)
              deques.map(d => d.toArray(new Array[UnsafeRow](d.size)))
            else Array.fill(nShifts)(Array.empty[UnsafeRow])
          if (e.single && continues) {
            // the run keeps going: append this partition's tail values
            var j = 0
            while (j < nShifts) {
              val cap = math.max(0, -offsetsArr(j))
              e.tails(j).foreach { v =>
                if (cap > 0) {
                  if (deques(j).size == cap) deques(j).pollFirst()
                  deques(j).addLast(v)
                }
              }
              j += 1
            }
          } else {
            // a new run starts at this partition's LAST key
            runKey = e.lastKey
            var j = 0
            while (j < nShifts) {
              deques(j).clear()
              e.tails(j).foreach(deques(j).addLast)
              j += 1
            }
          }
        }
        pid += 1
      }
      out
    }
    val nextHeads: Array[Array[Array[UnsafeRow]]] = {
      val out = new Array[Array[Array[UnsafeRow]]](nParts)
      var acc = Array.fill(nShifts)(List.empty[UnsafeRow])
      var runKey: UnsafeRow = null
      var pid = nParts - 1
      while (pid >= 0) {
        val e = edges(pid)
        if (e.lastKey == null) out(pid) = Array.fill(nShifts)(Array.empty)
        else {
          val continues = runKey != null &&
            keyOrdDriver.compare(runKey, e.lastKey) == 0
          out(pid) =
            if (continues)
              Array.tabulate(nShifts)(j =>
                acc(j).take(math.max(0, offsetsArr(j))).toArray)
            else Array.fill(nShifts)(Array.empty[UnsafeRow])
          if (e.single && continues) {
            // prepend this partition's head values to the run
            acc = Array.tabulate(nShifts) { j =>
              val cap = math.max(0, offsetsArr(j))
              (e.heads(j).toList ++ acc(j)).take(cap)
            }
            runKey = e.firstKey
          } else {
            runKey = e.firstKey
            acc = Array.tabulate(nShifts) { j =>
              e.heads(j).toList.take(math.max(0, offsetsArr(j)))
            }
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
    // pass 2: a value ring + bounded read-ahead, with each
    // buffered value tagged by its key SEGMENT — offsets resolve
    // in-ring only within the segment
    rdd.mapPartitionsWithIndex({ (pid, it) =>
      val keyProj = UnsafeProjection.create(partExprs, childOutput)
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(partTypes)
      val proj = UnsafeProjection.create(out, out)
      val inputProjs = inputsArr.map(e =>
        UnsafeProjection.create(Seq(e), childOutput))
      val defaultProjs = defaultsArr.zipWithIndex.map { case (d, j) =>
        if (nullDefault(j)) null else UnsafeProjection.create(Seq(d), childOutput)
      }
      val joined = new JoinedRow
      val shiftRow = new GenericInternalRow(nShifts)
      val pt = bcPrev.value(pid)
      val nh = bcNext.value(pid)
      val rowCap = maxFwd + 1
      val valCap = maxBack + maxFwd + 1
      val rowRing = new Array[InternalRow](rowCap)
      val valRing = new Array[Array[UnsafeRow]](valCap)
      val segRing = new Array[Long](valCap)
      var readIdx = 0L
      var emitIdx = 0L
      var readDone = false
      var curSeg = -1L
      var lastSeg = -1L // the segment id at the final read position
      var readKey: UnsafeRow = null
      def readOne(): Unit = {
        if (it.hasNext) {
          val r = it.next()
          val k = keyProj(r)
          if (readKey == null || keyOrd.compare(readKey, k) != 0) {
            readKey = k.copy(); curSeg += 1L
          }
          rowRing((readIdx % rowCap).toInt) = r.copy()
          val vs = new Array[UnsafeRow](nShifts)
          var j = 0
          while (j < nShifts) { vs(j) = inputProjs(j)(r).copy(); j += 1 }
          valRing((readIdx % valCap).toInt) = vs
          segRing((readIdx % valCap).toInt) = curSeg
          readIdx += 1L
        } else { readDone = true; lastSeg = curSeg }
      }
      def ensureRead(): Unit =
        while (!readDone && readIdx <= emitIdx + maxFwd) readOne()
      def valueOf(row1: UnsafeRow, j: Int): Any =
        if (row1.isNullAt(0)) null else row1.get(0, dataTypes(j))
      def defaultOf(row: InternalRow, j: Int): Any =
        if (nullDefault(j)) null
        else {
          val d = defaultProjs(j)(row)
          if (d.isNullAt(0)) null else d.get(0, dataTypes(j))
        }
      // IGNORE NULLS lag columns: a k-capacity ring of the last k
      // NON-NULL values strictly before the current row WITHIN ITS KEY
      // SEGMENT — the key boundary is one more
      // reset point. Reset at every emit-segment change; the FIRST
      // segment seeds from the key-matched chained tail (<= k
      // non-nulls of this key before this partition, globally); the
      // k-th most recent is the slot about to be overwritten once the
      // count reaches k.
      val nnRing = new Array[Array[UnsafeRow]](nShifts)
      val nnPos = new Array[Int](nShifts)
      val nnCount = new Array[Long](nShifts)
      var nnSeg = -1L
      def resetNnRings(seg: Long): Unit = {
        var j = 0
        while (j < nShifts) {
          if (ign(j)) {
            val kk = -offsetsArr(j)
            if (nnRing(j) == null) nnRing(j) = new Array[UnsafeRow](kk)
            nnPos(j) = 0; nnCount(j) = 0L
            if (seg == 0L) pt(j).foreach { v =>
              nnRing(j)(nnPos(j)) = v
              nnPos(j) = (nnPos(j) + 1) % kk
              nnCount(j) += 1L
            }
          }
          j += 1
        }
        nnSeg = seg
      }
      def fill(row: InternalRow): InternalRow = {
        val mySeg = segRing((emitIdx % valCap).toInt)
        if (mySeg != nnSeg) resetNnRings(mySeg)
        var j = 0
        while (j < nShifts) {
          val src = emitIdx + offsetsArr(j)
          val v: Any =
            if (ign(j)) {
              // the k-th most recent in-segment non-null strictly
              // before this row
              val kk = -offsetsArr(j)
              if (nnCount(j) >= kk) valueOf(nnRing(j)(nnPos(j)), j)
              else defaultOf(row, j)
            } else
            if (src >= 0L && src < readIdx) {
              // in-partition: same key segment required
              val slot = (src % valCap).toInt
              if (segRing(slot) == mySeg) valueOf(valRing(slot)(j), j)
              else defaultOf(row, j)
            } else if (src < 0L) {
              // before the partition: only the FIRST segment reaches
              // into the key-matched prev tail
              if (mySeg == 0L) {
                val t = pt(j)
                val idx = t.length + src
                if (idx >= 0L) valueOf(t(idx.toInt), j)
                else defaultOf(row, j)
              } else defaultOf(row, j)
            } else {
              // past the partition (reading exhausted — ensureRead
              // pulled to emitIdx+maxFwd >= src): only the LAST
              // segment reaches into the key-matched next head
              if (readDone && mySeg == lastSeg) {
                val h = nh(j)
                val idx = src - readIdx
                if (idx < h.length) valueOf(h(idx.toInt), j)
                else defaultOf(row, j)
              } else defaultOf(row, j)
            }
          shiftRow.update(j, v)
          j += 1
        }
        // the current row's value becomes visible to LATER rows only:
        // push into the non-null rings after every column was computed
        j = 0
        while (j < nShifts) {
          if (ign(j)) {
            val cur = valRing((emitIdx % valCap).toInt)(j)
            if (!cur.isNullAt(0)) {
              nnRing(j)(nnPos(j)) = cur
              nnPos(j) = (nnPos(j) + 1) % nnRing(j).length
              nnCount(j) += 1L
            }
          }
          j += 1
        }
        emitIdx += 1L
        numOutputRows += 1
        proj(joined(row, shiftRow))
      }
      new Iterator[InternalRow] {
        override def hasNext: Boolean = { ensureRead(); emitIdx < readIdx }
        override def next(): InternalRow = {
          ensureRead()
          fill(rowRing((emitIdx % rowCap).toInt))
        }
      }
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(newChild: SparkPlan): PartitionedShiftExec =
    copy(child = newChild)
}

object PartitionedShift {

  /** Pass-1 edge payload: first-run heads, last-run tails, edge keys,
    * single-key flag. Top-level so task-result serialization doesn't
    * drag the plan via `$outer`. */
  private[plans] case class ShiftEdge(firstKey: UnsafeRow,
                                      lastKey: UnsafeRow,
                                      heads: Array[Array[UnsafeRow]],
                                      tails: Array[Array[UnsafeRow]],
                                      single: Boolean)

  /** One requested shift for the column-name API: `offset > 0` looks
    * ahead (lead), `< 0` behind (lag); out-of-range rows get null. */
  case class Shift(name: String, input: String, offset: Int)

  /** Append global lead/lag columns ordered by `keys` — the empty-key
    * [[PartitionedShiftNode]]: range-partitioned with bounded boundary
    * state, no single-partition WindowExec anywhere in the plan. */
  def globalShift(df: DataFrame, shifts: Seq[Shift], keys: Seq[GlobalRank.Key]): DataFrame = {
    require(keys.nonEmpty, "globalShift needs at least one sort key")
    require(shifts.nonEmpty, "globalShift needs at least one shift column")
    val spark = df.sparkSession
    KeyedWindow.ensureStrategies(spark)
    val analyzed = df.queryExecution.analyzed
    val order = keys.map(k => SortOrder(GlobalRank.resolve(analyzed, k.col),
      if (k.desc) Descending else Ascending))
    val dup = shifts.groupBy(_.name).collect { case (n, cs) if cs.size > 1 => n }
    require(dup.isEmpty, s"duplicate shift column name(s): ${dup.mkString(", ")}")
    shifts.foreach { s =>
      require(!analyzed.output.exists(_.name == s.name),
        s"shift column '${s.name}' already exists in the input")
    }
    val inputs = shifts.map(s => GlobalRank.resolve(analyzed, s.input))
    GraftSqlBridge.ofRows(spark, PartitionedShiftNode(Nil, order,
      shifts.zip(inputs).map { case (s, in) =>
        AttributeReference(s.name, in.dataType, nullable = true)() },
      inputs, shifts.map(_.offset),
      inputs.map(in => Literal.create(null, in.dataType)),
      shifts.map(_ => false), analyzed))
  }
}
