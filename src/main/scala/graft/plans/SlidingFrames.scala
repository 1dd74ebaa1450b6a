package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{JoinedRow, MutableProjection, SpecificInternalRow, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate

import graft.plans.PartitionedRangeMovingAgg.KeyBufs

/** Amortized-O(1) sliding RANGE-frame evaluation over per-key partial
  * buffers (r14, ADVICE r13) — replaces the per-key full-deque rescan
  * in [[PartitionedRangeMovingAgg]]'s
  * pass 2, which merged `O((backExtent + fwdExtent) * nFuncs)` buffers
  * PER DISTINCT KEY even when per-function frames were much narrower —
  * quadratic-ish in dense key regions near the `maxShiftOffset` cap
  * (and on raw-micros timestamp axes, where every row is its own key).
  *
  * Structure: one shared ascending RING of complete per-key buffer
  * sets (fed by the callers' zipped lead — boundary seeds and
  * partition keys alike), plus one TWO-STACK sliding aggregate per
  * function (the classic inverse-free sliding-window-aggregation
  * scheme; see e.g. the SWAG/two-stack folklore construction):
  *
  *  - the BACK side holds a running merge of buffers appended since
  *    the last flip (one `mergeExpressions` application per append);
  *  - the FRONT side is a stack of cumulative-merge SNAPSHOTS built by
  *    a flip (newest→oldest, so the top covers the whole front segment
  *    and popping evicts exactly the oldest key's contribution);
  *  - a frame value is `merge(frontTop, backAcc)` into the caller's
  *    frame buffer — at most two merges per function per distinct key.
  *
  * Every per-key buffer is merged O(1) times amortized per function
  * (once into the back accumulator, once during its flip), because
  * frames are MONOTONE in the key: `[v + lo_j, v + hi_j]` only moves
  * right as `v` ascends, so each buffer enters and leaves each
  * function's window exactly once. Only order-INSENSITIVE aggregates
  * ride these operators (the rewrite rule's `allowedAgg`), so the
  * merge orders the two stacks impose are immaterial.
  *
  * NOT thread-safe; one instance per task per operator, reset via
  * [[clear]] at group boundaries (the partitioned operator) and pruned
  * via [[dropBelowKey]] once keys fall out of every function's reach.
  */
private[plans] final class SlidingFrames(funcs: Array[DeclarativeAggregate],
                                         lowers: Array[Long],
                                         uppers: Array[Long]) {
  import PartitionedRangeMovingAgg.addSat

  private val nFuncs = funcs.length

  // ---- shared ascending ring of KeyBufs with absolute indices ----
  private var ring = new Array[KeyBufs](16)
  private var ringBase = 0L // absolute index of ring(ringOff)
  private var ringOff = 0
  private var ringLen = 0
  private def ringEnd: Long = ringBase + ringLen
  private def ringAt(abs: Long): KeyBufs =
    ring(((ringOff + (abs - ringBase)) % ring.length).toInt)

  /** Append the next (strictly larger-keyed) complete per-key buffer
    * set. Caller feeds boundary seeds and partition keys alike, in
    * ascending key order. */
  def append(kb: KeyBufs): Unit = {
    if (ringLen == ring.length) {
      val bigger = new Array[KeyBufs](ring.length * 2)
      var i = 0
      while (i < ringLen) {
        bigger(i) = ring((ringOff + i) % ring.length); i += 1
      }
      ring = bigger; ringOff = 0
    }
    ring((ringOff + ringLen) % ring.length) = kb
    ringLen += 1
  }

  /** Drop ring entries with key < bound — safe once `bound` is the
    * widest lookback (`v - backExtent`): every function's unconsumed
    * entries sit at keys > v + hi_j >= v - backExtent (hi_j >= lo_j >=
    * -backExtent), so nothing a cursor still needs is dropped. */
  def dropBelowKey(bound: Long): Unit = {
    while (ringLen > 0 && ring(ringOff).key < bound) {
      ring(ringOff) = null
      ringOff = (ringOff + 1) % ring.length
      ringBase += 1L
      ringLen -= 1
    }
  }

  // ---- per-function two-stack windows ----
  // back side: raw refs (for the flip) + a running merged accumulator
  private val backKeys = Array.fill(nFuncs)(new java.util.ArrayDeque[java.lang.Long]())
  private val backBufs = Array.fill(nFuncs)(new java.util.ArrayDeque[UnsafeRow]())
  private val backAccs = funcs.map(AggPlumbing.newBuffer)
  private val backHas = new Array[Boolean](nFuncs)
  // front side: (key, cumulative-merge snapshot) stacks; top = oldest
  private val frontKeys = Array.fill(nFuncs)(new java.util.ArrayDeque[java.lang.Long]())
  private val frontAccs = Array.fill(nFuncs)(new java.util.ArrayDeque[UnsafeRow]())
  // per-function ring cursor: next absolute index not yet consumed
  private val nextAbs = new Array[Long](nFuncs)

  // projections: init/merge targeted at the back accumulator, a scratch
  // accumulator for flips, and snapshot converters
  private val backInits = funcs.zipWithIndex.map { case (f, j) =>
    val p = AggPlumbing.initProj(f); p.target(backAccs(j)); p
  }
  private val backMerges = funcs.zipWithIndex.map { case (f, j) =>
    val p = AggPlumbing.mergeProj(f); p.target(backAccs(j)); p
  }
  private val flipAccs = funcs.map { f =>
    new SpecificInternalRow(f.aggBufferAttributes.map(_.dataType))
  }
  private val flipInits = funcs.zipWithIndex.map { case (f, j) =>
    val p = AggPlumbing.initProj(f); p.target(flipAccs(j)); p
  }
  private val flipMerges = funcs.zipWithIndex.map { case (f, j) =>
    val p = AggPlumbing.mergeProj(f); p.target(flipAccs(j)); p
  }
  private val toUnsafes = funcs.map(AggPlumbing.toUnsafe)
  private val joins = Array.fill(nFuncs)(new JoinedRow)

  /** Full reset (group boundary in the partitioned operator): empties
    * the ring and every per-function window. */
  def clear(): Unit = {
    java.util.Arrays.fill(ring.asInstanceOf[Array[AnyRef]], null)
    ringOff = 0; ringLen = 0
    // cursors restart at the (unchanged) absolute end so the next
    // appends are consumed from scratch
    var j = 0
    while (j < nFuncs) {
      backKeys(j).clear(); backBufs(j).clear()
      backInits(j)(InternalRow.empty); backHas(j) = false
      frontKeys(j).clear(); frontAccs(j).clear()
      nextAbs(j) = ringEnd
      j += 1
    }
  }

  private def flip(j: Int): Unit = {
    // rebuild the front from the back, newest→oldest, snapshotting the
    // cumulative merge at each step so popping the top (the oldest)
    // exposes the merge of everything younger
    flipInits(j)(InternalRow.empty)
    var has = false
    val keyIt = backKeys(j).descendingIterator()
    val bufIt = backBufs(j).descendingIterator()
    while (bufIt.hasNext) {
      flipMerges(j)(joins(j)(flipAccs(j), bufIt.next()))
      has = true
      frontKeys(j).addLast(keyIt.next())
      frontAccs(j).addLast(toUnsafes(j)(flipAccs(j)).copy())
    }
    backKeys(j).clear(); backBufs(j).clear()
    backInits(j)(InternalRow.empty); backHas(j) = false
    if (!has) () // nothing to flip: caller guarantees non-empty window
  }

  /** Advance function j's window to `[lo, hi]` (monotone in successive
    * calls) and merge its value into `frameBuf` (already initialized by
    * the caller) via the caller's merge projection. */
  private def adv(j: Int, lo: Long, hi: Long,
                  callerMerge: MutableProjection, callerJoin: JoinedRow,
                  frameBuf: SpecificInternalRow): Unit = {
    // 1. consume new ring entries with key <= hi
    while (nextAbs(j) < ringEnd && ringAt(nextAbs(j)).key <= hi) {
      val kb = ringAt(nextAbs(j))
      backMerges(j)(joins(j)(backAccs(j), kb.bufs(j)))
      backHas(j) = true
      backKeys(j).addLast(kb.key)
      backBufs(j).addLast(kb.bufs(j))
      nextAbs(j) += 1L
    }
    // 2. evict keys below lo (oldest-first: front top, else flip)
    var go = true
    while (go) {
      val oldest: java.lang.Long =
        if (!frontKeys(j).isEmpty) frontKeys(j).peekLast()
        else backKeys(j).peekFirst()
      if (oldest == null || oldest >= lo) go = false
      else {
        if (frontKeys(j).isEmpty) flip(j)
        frontKeys(j).pollLast(); frontAccs(j).pollLast()
      }
    }
    // 3. value = merge(frontTop, backAcc) into the caller's frame buffer
    if (!frontAccs(j).isEmpty)
      callerMerge(callerJoin(frameBuf, frontAccs(j).peekLast()))
    if (backHas(j))
      callerMerge(callerJoin(frameBuf, backAccs(j)))
  }

  /** Evaluate every function's frame for key `v` into the caller's
    * frame buffers (caller init-resets each buffer first — identical
    * contract to the old full-rescan computeFor loop body). */
  def computeInto(v: Long,
                  frameBufs: Array[SpecificInternalRow],
                  inits: Array[MutableProjection],
                  merges: Array[MutableProjection],
                  mergeJoins: Array[JoinedRow]): Unit = {
    var j = 0
    while (j < nFuncs) {
      inits(j)(InternalRow.empty)
      adv(j, addSat(v, lowers(j)), addSat(v, uppers(j)),
        merges(j), mergeJoins(j), frameBufs(j))
      j += 1
    }
  }
}
