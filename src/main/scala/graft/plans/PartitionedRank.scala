package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, Descending, Expression, GenericInternalRow, JoinedRow, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{SortExec, SparkPlan, SparkStrategy, WholeStageCodegenExec}
import org.apache.spark.sql.types.{DataType, DoubleType, LongType}

/** Distributed EXACT rank windows, keyed or global: the FULL rank
  * family `row_number()/rank()/dense_rank()/percent_rank()/cume_dist()/
  * ntile(b) OVER ([PARTITION BY k] ORDER BY v)` in two passes over one
  * composite range shuffle (see [[KeyedWindowNode]]) — never the
  * single-partition funnel of an unpartitioned `WindowExec`, never a
  * hot key in one task.
  *
  *  1. pass 1 collects per partition: its first/last key, the row
  *     counts of the FIRST and LAST key runs, the last run's tie-group
  *     count, and the single-key flag — five scalars and two narrow
  *     key rows per partition, independent of data volume and of the
  *     key histogram. The driver stitches runs left to right: a
  *     partition whose first key continues its left neighbour's last
  *     key starts that key at the accumulated (rows, groups) offset,
  *     and — when a total-dependent mode is present — every
  *     boundary-straddling key's full row total telescopes from the
  *     same stats;
  *  2. pass 2 streams local per-key position/tie arithmetic plus the
  *     stitched offsets. `percent_rank`/`cume_dist`/`ntile` also need
  *     each key's TOTAL row count before its first row is emitted: the
  *     partition's first/last key take it from the driver, and only an
  *     INTERIOR key (one that starts and ends inside the partition)
  *     is counted by zipping the sorted stream with itself — a
  *     key-lead iterator, O(1) state. `cume_dist` needs each tie
  *     group's END position, so it buffers one tie group at a time.
  *
  * Tie semantics are sound without cross-partition negotiation: a tie
  * group never straddles the range exchange, so a group's first row —
  * the row whose position IS the group's `rank` — is always local, and
  * per-partition group counts telescope into `dense_rank` offsets the
  * same way row counts telescope into `row_number` offsets.
  * row_number/ntile under a non-total order are tie-order-dependent,
  * as in the built-in; rank/dense_rank/percent_rank/cume_dist are
  * tie-exact.
  *
  * The empty key (the unpartitioned window) keeps the cheap shape the
  * argument allows: with no dense_rank column, pass 1 is a pure
  * row-COUNT job that reads the exchange output BELOW the per-partition
  * `SortExec` ([[PartitionedRank.preSortSource]] — counts are
  * sort-invariant) and leaves the last partition uncounted unless a
  * mode needs the total; and since every partition then holds one key
  * run, pass 2 never zips. One counting job is the floor — this is
  * `RDD.zipWithIndex`'s own structure, and `MapOutputStatistics`
  * reports bytes, not rows.
  *
  * Trade-off vs WindowExec on a keyed window: on a FLAT key histogram
  * the built-in's hash exchange is cheaper than a range exchange plus
  * a count job, so the rewrite routes keyed windows here only under
  * `spark.graft.rewrite.partitionedRankWindows` or
  * [[graft.rules.RewriteGlobalRankWindows.forceSkew]].
  *
  * Reference point: the reference engine numbers its crawl-edge
  * uploads by accumulation order (`web_spider_oo.py:125-128`, restated
  * by `q_edges_actual`); the empty-key form is the declarative,
  * partition-parallel form of that global numbering, generalized to
  * any sort order and the full rank family.
  */
case class PartitionedRankNode(partKeys: Seq[Expression],
                               order: Seq[SortOrder],
                               ranks: Seq[GlobalRank.RankCol],
                               child: LogicalPlan) extends KeyedWindowNode {
  override protected def generated: Seq[Attribute] = ranks.map(_.attr)
  override protected def withNewChildInternal(newChild: LogicalPlan): PartitionedRankNode =
    copy(child = newChild)
}

object PartitionedRankStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case PartitionedRankNode(partKeys, order, ranks, child) =>
      PartitionedRankExec(partKeys, order, ranks, planLater(child)) :: Nil
    case _ => Nil
  }
}

case class PartitionedRankExec(partKeys: Seq[Expression],
                               order: Seq[SortOrder],
                               ranks: Seq[GlobalRank.RankCol],
                               child: SparkPlan) extends KeyedWindowExec {
  import GlobalRank.RankMode
  import PartitionedRank.EdgeStats

  override protected def generated: Seq[Attribute] = ranks.map(_.attr)

  override protected def doExecute(): RDD[InternalRow] = {
    val rdd = child.execute()
    val childOutput = child.output
    val modes = ranks.map(_.mode).toArray
    val needTies = modes.exists {
      case RankMode.Rank | RankMode.DenseRank |
           RankMode.PercentRank | RankMode.CumeDist => true
      case _ => false
    }
    val needTotals = modes.exists {
      case RankMode.PercentRank | RankMode.CumeDist | RankMode.NTile(_) => true
      case _ => false
    }
    val needCume = modes.contains(RankMode.CumeDist)
    val partExprs = partKeys
    val partTypes = partExprs.map(_.dataType)
    val ordExprs = order.map(_.child)
    val ordTypes = ordExprs.map(_.dataType)

    val edges: Array[EdgeStats] =
      if (partKeys.isEmpty && !modes.contains(RankMode.DenseRank))
        countEdges(rdd, needTotals)
      else rdd.mapPartitionsWithIndex({ (pid, it) =>
        // pass 1: per partition (firstKey, lastKey, first/last run
        // rows, last run groups, single-key flag)
        val keyProj = UnsafeProjection.create(partExprs, childOutput)
        val keyOrd = RowOrdering.createNaturalAscendingOrdering(partTypes)
        val ordProj = UnsafeProjection.create(ordExprs, childOutput)
        val ordOrd = RowOrdering.createNaturalAscendingOrdering(ordTypes)
        var firstKey: UnsafeRow = null
        var curKey: UnsafeRow = null
        var runRows = 0L
        var runGroups = 0L
        var firstRunRows = 0L
        var single = true
        var prevOrd: UnsafeRow = null
        it.foreach { row =>
          val k = keyProj(row)
          if (curKey == null) {
            firstKey = k.copy(); curKey = firstKey
            runRows = 0L; runGroups = 0L; prevOrd = null
          } else if (keyOrd.compare(curKey, k) != 0) {
            if (single) firstRunRows = runRows
            curKey = k.copy(); single = false
            runRows = 0L; runGroups = 0L; prevOrd = null
          }
          runRows += 1L
          if (needTies) {
            val o = ordProj(row)
            if (prevOrd == null || ordOrd.compare(prevOrd, o) != 0) {
              runGroups += 1L
              prevOrd = o.copy()
            }
          }
        }
        if (single) firstRunRows = runRows
        Iterator((pid, EdgeStats(firstKey, curKey, firstRunRows, runRows,
          runGroups, single)))
      }, preservesPartitioning = true).collect().sortBy(_._1).map(_._2)

    // driver stitching, direction 1: offset for each partition's FIRST
    // key = the accumulated (rows, groups) of that key's run through
    // earlier partitions; every later key in the partition starts at 0
    val nParts = edges.length
    val keyOrdDriver = RowOrdering.createNaturalAscendingOrdering(partTypes)
    def continues(runKey: UnsafeRow, key: UnsafeRow): Boolean =
      runKey != null && keyOrdDriver.compare(runKey, key) == 0
    val rowOffsets = new Array[Long](nParts)
    val groupOffsets = new Array[Long](nParts)
    locally {
      var curKey: UnsafeRow = null
      var accRows = 0L
      var accGroups = 0L
      for (pid <- 0 until nParts; e = edges(pid) if e.firstKey != null) {
        // (empty partitions don't break a run)
        if (continues(curKey, e.firstKey)) {
          rowOffsets(pid) = accRows
          groupOffsets(pid) = accGroups
        }
        if (e.single && continues(curKey, e.firstKey)) {
          // the key keeps running through this whole partition
          accRows += e.lastRunRows
          accGroups += e.lastRunGroups
        } else {
          curKey = e.lastKey
          accRows = e.lastRunRows
          accGroups = e.lastRunGroups
        }
      }
    }

    // driver stitching, direction 2 (total-dependent modes only): the
    // FULL row total of each partition's first and last key, summed
    // over the key's whole partition span — interior keys are counted
    // locally by the pass-2 key-lead instead
    val firstKeyTotals = new Array[Long](nParts)
    val lastKeyTotals = new Array[Long](nParts)
    if (needTotals) {
      // members of the current boundary run: (pid, countsAsFirst,
      // countsAsLast); finalized when the run's key ends
      val members = scala.collection.mutable.ArrayBuffer.empty[(Int, Boolean, Boolean)]
      var curKey: UnsafeRow = null
      var accRows = 0L
      def finalizeRun(): Unit = {
        members.foreach { case (p, asFirst, asLast) =>
          if (asFirst) firstKeyTotals(p) = accRows
          if (asLast) lastKeyTotals(p) = accRows
        }
        members.clear()
      }
      for (pid <- 0 until nParts; e = edges(pid) if e.firstKey != null) {
        val cont = continues(curKey, e.firstKey)
        if (cont && e.single) {
          accRows += e.lastRunRows
          members += ((pid, true, true))
        } else if (cont) {
          accRows += e.firstRunRows
          members += ((pid, true, false))
          finalizeRun()
          curKey = e.lastKey; accRows = e.lastRunRows
          members += ((pid, false, true))
        } else {
          finalizeRun()
          if (e.single) {
            curKey = e.firstKey; accRows = e.lastRunRows
            members += ((pid, true, true))
          } else {
            // first key starts AND ends inside pid: local total
            firstKeyTotals(pid) = e.firstRunRows
            curKey = e.lastKey; accRows = e.lastRunRows
            members += ((pid, false, true))
          }
        }
      }
      finalizeRun()
    }
    val lastKeys = edges.map(_.lastKey)

    val out = output
    val numOutputRows = longMetric("numOutputRows")
    // pass 2 over one partition; `keyLead0` is a second read of the
    // same partition, consulted only for an interior key's total
    val rankPartition: (Int, Iterator[InternalRow], Iterator[InternalRow]) => Iterator[InternalRow] =
        (pid, it, keyLead0) => {
      val keyProj = UnsafeProjection.create(partExprs, childOutput)
      val keyProjL = UnsafeProjection.create(partExprs, childOutput)
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(partTypes)
      val ordProj = UnsafeProjection.create(ordExprs, childOutput)
      val ordOrd = RowOrdering.createNaturalAscendingOrdering(ordTypes)
      val outProj = UnsafeProjection.create(out, out)
      val joined = new JoinedRow
      val rankRow = new GenericInternalRow(modes.length)
      val lastKey = lastKeys(pid)
      val keyLead = keyLead0.buffered
      // the rows of `target`, discarding anything before it — the lead
      // only moves forward, so skipped (first/last) keys fast-forward
      def countKey(target: UnsafeRow): Long = {
        while (keyLead.hasNext &&
          keyOrd.compare(keyProjL(keyLead.head), target) != 0) keyLead.next()
        var n = 0L
        while (keyLead.hasNext &&
          keyOrd.compare(keyProjL(keyLead.head), target) == 0) {
          keyLead.next(); n += 1L
        }
        n
      }
      var curKey: UnsafeRow = null
      var pos = 0L
      var curRank = 0L
      var dense = 0L
      var keyTotal = 0L
      var prevOrd: UnsafeRow = null
      def advance(row: InternalRow): Unit = {
        val k = keyProj(row)
        if (curKey == null || keyOrd.compare(curKey, k) != 0) {
          val onFirstKey = curKey == null
          curKey = k.copy()
          pos = if (onFirstKey) rowOffsets(pid) else 0L
          dense = if (onFirstKey) groupOffsets(pid) else 0L
          curRank = 0L
          prevOrd = null
          if (needTotals) keyTotal =
            if (onFirstKey) firstKeyTotals(pid)
            else if (lastKey != null && keyOrd.compare(curKey, lastKey) == 0)
              lastKeyTotals(pid)
            else countKey(curKey)
        }
        pos += 1L
        if (needTies) { // row_number/ntile-only windows skip the tie machinery
          val o = ordProj(row)
          if (prevOrd == null || ordOrd.compare(prevOrd, o) != 0) {
            curRank = pos
            dense += 1L
            prevOrd = o.copy()
          }
        }
      }
      def emit(row: InternalRow, groupEnd: Long): InternalRow = {
        var i = 0
        while (i < modes.length) {
          modes(i) match {
            case RankMode.RowNumber => rankRow.update(i, pos)
            case RankMode.Rank => rankRow.update(i, curRank)
            case RankMode.DenseRank => rankRow.update(i, dense)
            case RankMode.PercentRank => rankRow.update(i,
              if (keyTotal <= 1L) 0.0
              else (curRank - 1L).toDouble / (keyTotal - 1L).toDouble)
            case RankMode.CumeDist => rankRow.update(i,
              groupEnd.toDouble / keyTotal.toDouble)
            case RankMode.NTile(b) => rankRow.update(i,
              GlobalRank.ntileOf(pos, keyTotal, b))
          }
          i += 1
        }
        numOutputRows += 1
        outProj(joined(row, rankRow))
      }
      if (!needCume) it.map { row => advance(row); emit(row, 0L) }
      else {
        // cume_dist's numerator is the tie group's END position: buffer
        // one (k, v) group at a time
        var groupEnd = 0L
        KeyedWindow.tieGroups(it, partExprs ++ ordExprs, childOutput).flatMap { group =>
          group.iterator.zipWithIndex.map { case (row, i) =>
            advance(row)
            if (i == 0) groupEnd = pos - 1L + group.length
            emit(row, groupEnd)
          }
        }
      }
    }

    // every partition one key run (always so under the empty key):
    // each partition's only key is its first, whose total is driver
    // state — no second read
    if (needTotals && !edges.forall(e => e.firstKey == null || e.single))
      rdd.zipPartitions(rdd, preservesPartitioning = true) { (it, lead) =>
        rankPartition(org.apache.spark.TaskContext.getPartitionId(), it, lead)
      }
    else rdd.mapPartitionsWithIndex((pid, it) =>
      rankPartition(pid, it, Iterator.empty), preservesPartitioning = true)
  }

  /** Pass 1 under the EMPTY key with no dense_rank column: per-partition
    * row counts are all the driver needs, and they are sort-invariant,
    * so the count job streams the exchange output below the
    * per-partition sort. Like `zipWithIndex`, the LAST partition is not
    * counted at all unless a mode needs the total: its offset is the
    * sum of the others, and nothing after it reads its count. */
  private def countEdges(rdd: RDD[InternalRow], needTotals: Boolean): Array[EdgeStats] = {
    // reuse the already-built RDD when there is no SortExec to skip —
    // SparkPlan.execute() is not memoized, and re-executing a stacked
    // keyed child would re-run its own pass-1 driver jobs
    val countRdd = PartitionedRank.preSortSource(child) match {
      case same if same eq child => rdd
      case preSort => preSort.execute()
    }
    val n = countRdd.getNumPartitions
    val parts = if (needTotals) 0 until n else 0 until (n - 1)
    val counts = Array.fill(n)(-1L) // -1: the uncounted last partition
    val counted = sparkContext.runJob(countRdd,
      (it: Iterator[InternalRow]) => {
        var c = 0L
        while (it.hasNext) { it.next(); c += 1L }
        c
      }, parts)
    parts.zip(counted).foreach { case (p, c) => counts(p) = c }
    val key = UnsafeProjection.create(Seq.empty[Expression]).apply(InternalRow.empty).copy()
    counts.map { c =>
      val k = if (c == 0L) null else key
      EdgeStats(k, k, math.max(c, 0L), math.max(c, 0L), 0L, single = true)
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): PartitionedRankExec =
    copy(child = newChild)
}

object PartitionedRank {

  /** Pass-1 edge payload. Top-level (not exec-inner) so task-result
    * serialization doesn't drag the plan along via `$outer`. */
  private[plans] case class EdgeStats(firstKey: UnsafeRow,
                                      lastKey: UnsafeRow,
                                      firstRunRows: Long,
                                      lastRunRows: Long,
                                      lastRunGroups: Long,
                                      single: Boolean)

  /** The plan whose rows the row-COUNT pass should read: the child of
    * the EnsureRequirements-inserted per-partition SortExec (possibly
    * inside its WholeStageCodegen pipeline) when one is directly on
    * top — per-partition row counts are sort-invariant, and skipping
    * the sort makes the count job a pure stream over shuffle files.
    * Any other child shape (e.g. a stacked keyed operator that already
    * satisfies the ordering) is returned as-is. Intra-partition sorts
    * never move rows across partitions (SortExec with global=false
    * preserves partitioning), so the counts are exactly pass 2's. */
  private[plans] def preSortSource(child: SparkPlan): SparkPlan = child match {
    case s: SortExec if !s.global => s.child
    case w: WholeStageCodegenExec =>
      w.child match {
        case s: SortExec if !s.global => s.child
        case _ => child
      }
    case _ => child
  }
}

/** The column-name API over the empty-key [[PartitionedRankNode]]:
  * global rank columns without writing a window. */
object GlobalRank {

  /** One sort key: column name + direction (SQL default null ordering —
    * nulls first ascending, nulls last descending, matching
    * `Window.orderBy`). */
  case class Key(col: String, desc: Boolean = false)

  /** Which rank statistic a [[RankCol]] computes; `dataType` is the
    * emitted column type (LONG for the integral forms — the operator
    * exists for row counts past 2^31 — DOUBLE for percent_rank and
    * cume_dist). */
  sealed trait RankMode extends Serializable { def dataType: DataType = LongType }
  object RankMode {
    case object RowNumber extends RankMode
    case object Rank extends RankMode
    case object DenseRank extends RankMode
    case object PercentRank extends RankMode { override def dataType: DataType = DoubleType }
    case object CumeDist extends RankMode { override def dataType: DataType = DoubleType }
    final case class NTile(buckets: Int) extends RankMode {
      require(buckets >= 1, s"ntile buckets must be >= 1, got $buckets")
    }
  }

  /** One output rank column: the generated attribute + its statistic. */
  case class RankCol(attr: AttributeReference, mode: RankMode)

  /** SQL-standard ntile bucket of position `pos` (1-based) among `n`
    * rows in `k` buckets: first `n mod k` buckets take `n div k + 1`
    * rows. The ELSE branch divides by `n div k` — only reachable when
    * pos exceeds rem*(q+1), impossible for n < k, so the divisor is
    * >= 1 there. */
  def ntileOf(pos: Long, n: Long, k: Int): Long = {
    val q = n / k
    val rem = n % k
    if (pos <= rem * (q + 1L)) (pos - 1L) / (q + 1L) + 1L
    else rem + (pos - 1L - rem * (q + 1L)) / q + 1L
  }

  /** Append a global 1-based `row_number` column named `rankName`,
    * ordered by `keys` — distributed: range-partitioned, no
    * single-partition WindowExec anywhere in the plan. Pass a total
    * order (unique last key) for deterministic ranks. */
  def globalRowNumber(df: DataFrame, rankName: String,
                      keys: Seq[Key]): DataFrame =
    globalRanks(df, Seq(rankName -> RankMode.RowNumber), keys)

  /** Append any subset of the global rank family in ONE two-pass
    * operator over one range shuffle: `cols` names each output column
    * and its statistic, all computed under the same `keys` order. */
  def globalRanks(df: DataFrame, cols: Seq[(String, RankMode)],
                  keys: Seq[Key]): DataFrame = {
    require(keys.nonEmpty, "globalRanks needs at least one sort key")
    require(cols.nonEmpty, "globalRanks needs at least one rank column")
    val spark: SparkSession = df.sparkSession
    KeyedWindow.ensureStrategies(spark)
    val analyzed = df.queryExecution.analyzed
    val order = keys.map(k => SortOrder(resolve(analyzed, k.col),
      if (k.desc) Descending else Ascending))
    // a duplicate output name would resolve ambiguously downstream —
    // refuse now rather than at the caller's next select
    val dup = cols.groupBy(_._1).collect { case (n, cs) if cs.size > 1 => n }
    require(dup.isEmpty, s"duplicate rank column name(s): ${dup.mkString(", ")}")
    cols.foreach { case (n, _) =>
      require(!analyzed.output.exists(_.name == n),
        s"rank column '$n' already exists in the input")
    }
    val ranks = cols.map { case (n, m) =>
      RankCol(AttributeReference(n, m.dataType, nullable = false)(), m)
    }
    GraftSqlBridge.ofRows(spark, PartitionedRankNode(Nil, order, ranks, analyzed))
  }

  /** The one output attribute of `plan` named `name`. */
  private[plans] def resolve(plan: LogicalPlan, name: String): Attribute =
    plan.output.filter(_.name == name) match {
      case Seq(a) => a
      case Seq() => throw new IllegalArgumentException(s"no column $name")
      case many => throw new IllegalArgumentException(
        s"ambiguous column $name: ${many.size} matches — disambiguate first")
    }
}
