package graft.rules

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.catalyst.expressions.{Alias, And, Ascending, Attribute, AttributeMap, AttributeReference, AttributeSet, Cast, CumeDist, CurrentRow, DenseRank, Descending, EqualNullSafe, Expression, Lag, Lead, Literal, NTile, NamedExpression, NthValue, PercentRank, RangeFrame, Rank, RowFrame, RowNumber, SortOrder, SpecifiedWindowFrame, UnaryMinus, UnboundedFollowing, UnboundedPreceding, WindowExpression, WindowSpecDefinition}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, AggregateFunction, Average, BitAndAgg, BitOrAgg, BitXorAgg, Complete, Count, DeclarativeAggregate, First, Last, Max, Min, StddevPop, StddevSamp, Sum, VariancePop, VarianceSamp}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, JoinHint, LogicalPlan, Project, Window}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, IntegerType, LongType}

import graft.plans.{GlobalExactPercentile, GlobalExactPercentileNode, GlobalFrameAgg, GlobalFrameAggNode, KeyedWindow, PartitionedLookaheadNode, PartitionedMovingAggNode, PartitionedNthValueNode, PartitionedRangeMovingAgg, PartitionedRangeMovingAggNode, PartitionedRankNode, PartitionedRunningAggNode, PartitionedShiftNode}
import graft.plans.GlobalRank.{RankCol, RankMode}

/** Optimizer rule: rewrite a window the built-in `WindowExec` would run
  * in one task per partition key — or, UNPARTITIONED, in one task for
  * the whole input — into the keyed window tier ([[graft.plans
  * .KeyedWindowNode]]): the engine removing its own worst plan shapes
  * instead of merely auditing them.
  *
  * `row_number()/rank()/.../lead(e,k)/lag(e,k)/sum(e)/... OVER (ORDER
  * BY ...)` with no PARTITION BY plans as a WindowExec that warns "No
  * Partition Defined ... moving all data to a single partition": one
  * task sorts and computes everything — the funnel the
  * `WindowWhitelist` audit reviews case-by-case, and the one plan shape
  * that cannot survive 100 TB. With a PARTITION BY, the hash exchange
  * puts every row of one key in one task, so a hot key IS the job. The
  * keyed operators compute both shapes in two passes over one
  * composite range shuffle; the unpartitioned window is the same
  * operator with an EMPTY key. The rewrite is an equivalence, not an
  * approximation:
  *
  *  - all window expressions of one `Window` node share its spec
  *    (Catalyst groups window expressions by spec), so each family
  *    lands in ONE node and the families stack on the one exchange —
  *    one shuffle regardless of how many functions;
  *  - `row_number`/`ntile`/`lead`/`lag` and ROWS frames keep their tie
  *    caveat (physical position breaks ties — nondeterministic under a
  *    non-total order, same as the built-ins); the rank statistics and
  *    RANGE frames are tie-exact (the range-partitioning
  *    tie-containment argument);
  *  - output attributes keep their exprIds (the rewrite projects each
  *    generated column back under the original alias, casting the
  *    LONG ranks to the built-in's INT), so nothing upstream
  *    re-resolves.
  *
  * Seven ordered families route to the keyed tier: rank
  * ([[graft.plans.PartitionedRankNode]]), literal-offset lead/lag and
  * lag IGNORE NULLS (`PartitionedShiftNode`), lead IGNORE NULLS
  * (`PartitionedLookaheadNode`), running aggregates incl.
  * first_value/last_value (`PartitionedRunningAggNode`), bounded-ROWS
  * moving aggregates and moving-lower-bound nth_value
  * (`PartitionedMovingAggNode`), bounded-RANGE moving aggregates on one
  * dense-domain order key (`PartitionedRangeMovingAggNode`), and
  * start-anchored nth_value (`PartitionedNthValueNode`). Two composed
  * shapes reuse them: suffix-running frames (mirrored onto running
  * ones, [[suffixRunningOf]]) and delayed/extended running frames
  * (lag/lead over a running column, [[delayedRunAggOf]]). Whole-frame
  * members take one more route per tier: globally, `agg(e) OVER ()`
  * computes with ZERO shuffle ([[GlobalFrameAggNode]], plus exact
  * percentiles and `mode()`); per key, a window-to-join
  * ([[rewriteSkewFrameAgg]]).
  *
  * Two gates decide the route, never the shape of a window alone:
  *  - the GLOBAL tier (empty or all-foldable PARTITION BY) runs under
  *    `spark.graft.rewrite.globalRankWindows=true` or [[force]];
  *  - the KEYED tier (a real PARTITION BY) runs only under
  *    `spark.graft.rewrite.partitionedRankWindows=true` or
  *    [[forceSkew]] — on a FLAT key histogram the built-in's hash
  *    exchange beats a range exchange plus a count job, so flat-key
  *    windows stay on WindowExec unless the skew route is chosen.
  *
  * A `Window` node is left alone when any of its expressions is outside
  * the families (non-literal or over-cap offsets, RANGE frames on
  * non-dense keys, ...), or when an ordered member rides a
  * non-deterministic order key or child plan. Both confs are session
  * confs (the rule is injected by [[GraftExtensions]] as a pre-CBO rule
  * so it runs once, after pushdowns settle below the window); the
  * registry's queries use [[force]]/[[forceSkew]] so a shared
  * Bench/Verify session never has plans silently change shape
  * mid-suite.
  */
object RewriteGlobalRankWindows extends Rule[LogicalPlan] {

  val ConfKey = "spark.graft.rewrite.globalRankWindows"

  /** The keyed tier's own gate: PARTITIONED windows through the keyed
    * operators. A separate conf on purpose — on a FLAT key histogram
    * the built-in's hash exchange beats a range exchange plus a count
    * job, so the skew route must be an explicit choice (this conf, or
    * [[forceSkew]]), never a side effect of enabling the global-window
    * rewrite. */
  val SkewConfKey = "spark.graft.rewrite.partitionedRankWindows"

  private def enabled: Boolean =
    SQLConf.get.getConfString(ConfKey, "false").trim.equalsIgnoreCase("true")
  private def skewEnabled: Boolean =
    SQLConf.get.getConfString(SkewConfKey, "false").trim.equalsIgnoreCase("true")

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val p1 = if (!enabled) plan else rewrite(plan)
    if (!skewEnabled) p1 else rewriteSkew(p1)
  }

  /** Max |offset| (and ROWS-frame extent) the rule routes to the keyed
    * operators: their boundary state is `numPartitions * offset`
    * values per column, so an absurd literal offset must fall back to
    * the built-in rather than bloat the driver. */
  val MaxShiftKey = "spark.graft.rewrite.maxShiftOffset"
  private def maxShift: Int =
    SQLConf.get.getConfString(MaxShiftKey, "1024").toInt

  /** The partition keys the keyed operators take for a window
    * partitioned by `ps`, if the tier routes it. The KEYED tier takes
    * a non-empty deterministic spec as is. The GLOBAL tier takes an
    * empty or all-FOLDABLE spec (the `partitionBy(lit(1))` idiom — a
    * constant key puts every row in ONE partition, so the window is
    * semantically unpartitioned) as the EMPTY key, evaluating each
    * foldable key eagerly and declining if evaluation throws:
    * discarding an expression like PARTITION BY 1/0 unevaluated would
    * optimize away its ANSI runtime error. */
  private def tierKeys(ps: Seq[Expression], keyed: Boolean): Option[Seq[Expression]] =
    if (keyed) Some(ps).filter(p => p.nonEmpty && p.forall(_.deterministic))
    else if (ps.forall(e => e.foldable && {
      try { e.eval(); true } catch { case _: Exception => false }
    })) Some(Nil)
    else None

  /** One classified window expression: its alias and the generated
    * attribute the rewritten node emits for it, plus the family's
    * arguments. Matching classifies each expression ONCE, allocating
    * its attribute exactly once. */
  private sealed trait Member { def a: Alias; def attr: AttributeReference }
  private case class AsRank(a: Alias, mode: RankMode,
                            attr: AttributeReference) extends Member
  private case class AsShift(a: Alias, input: Expression, offset: Int,
                             default: Expression, ignoreNulls: Boolean,
                             attr: AttributeReference) extends Member
  private case class AsLeadNN(a: Alias, input: Expression, k: Int,
                              default: Expression,
                              attr: AttributeReference) extends Member
  private case class AsRunAgg(a: Alias, fn: DeclarativeAggregate,
                              rows: Boolean, attr: AttributeReference) extends Member
  private case class AsMovAgg(a: Alias, fn: DeclarativeAggregate, lo: Int,
                              hi: Int, attr: AttributeReference) extends Member
  private case class AsRangeMov(a: Alias, fn: DeclarativeAggregate, lo: Long,
                                hi: Long, attr: AttributeReference) extends Member
  private case class AsNth(a: Alias, input: Expression, k: Int,
                           ignoreNulls: Boolean, kind: Int,
                           attr: AttributeReference) extends Member
  private case class AsFrameAgg(a: Alias, fn: AggregateFunction,
                                attr: AttributeReference) extends Member
  private case class AsPct(a: Alias, input: Expression, pct: Double,
                           attr: AttributeReference) extends Member
  private case class AsMode(a: Alias, input: Expression, tieSmallest: Boolean,
                            attr: AttributeReference) extends Member

  /** The attribute a rewritten node emits for alias `a`. */
  private def genAttr(a: Alias, dt: DataType, nullable: Boolean): AttributeReference =
    AttributeReference(s"__graft_${a.name}", dt, nullable)()

  /** The rank statistic `fn` computes, if `fn` is in the rewritable
    * family. `ntile` only with a positive integer-literal bucket count
    * (the analyzer requires a foldable bucket expression; non-literal
    * folds are rare enough to skip rather than evaluate here). */
  private def rankModeOf(fn: Expression): Option[RankMode] = fn match {
    case _: RowNumber => Some(RankMode.RowNumber)
    case _: Rank => Some(RankMode.Rank)
    case _: DenseRank => Some(RankMode.DenseRank)
    case _: PercentRank => Some(RankMode.PercentRank)
    case _: CumeDist => Some(RankMode.CumeDist)
    case nt: NTile => nt.buckets match {
      case Literal(k: Int, IntegerType) if k > 0 => Some(RankMode.NTile(k))
      case _ => None
    }
    case _ => None
  }

  /** A rank-family window. The frame is irrelevant: every family member
    * is position-determined, and the analyzer has already pinned each
    * one's required frame. */
  private def rankOf(ne: NamedExpression): Option[Member] = ne match {
    case a @ Alias(WindowExpression(fn, _), _) =>
      rankModeOf(fn).map(m => AsRank(a, m, genAttr(a, m.dataType, nullable = false)))
    case _ => None
  }

  /** A default the offset operators can evaluate: a null literal, or
    * the input's type, evaluated against the current row —
    * WindowExec's own offset-frame semantics. */
  private def defaultOk(default: Expression, input: Expression): Boolean =
    default.deterministic &&
      (default.foldable && default.eval() == null ||
        DataType.equalsStructurally(default.dataType, input.dataType,
          ignoreNullability = true))

  /** A rewritable `lead`/`lag`: literal int offset within the cap, and
    * a default per [[defaultOk]]. The sign is normalized so positive
    * looks ahead: `lag(e, -2)` IS `lead(e, 2)`, as with the built-ins.
    * IGNORE NULLS routes here only when the NORMALIZED offset looks
    * BACK (the k-th non-null behind is a k-value ring); the k-th
    * non-null AHEAD can be arbitrarily far and is [[leadNNOf]]'s. */
  private def shiftOf(ne: NamedExpression): Option[Member] = {
    def spec(fn: Expression): Option[(Expression, Int, Expression, Boolean)] = fn match {
      case l: Lag => l.inputOffset match {
        case Literal(k: Int, IntegerType) => Some((l.input, -k, l.default, l.ignoreNulls))
        case _ => None
      }
      case l: Lead => l.offset match {
        case Literal(k: Int, IntegerType) => Some((l.input, k, l.default, l.ignoreNulls))
        case _ => None
      }
      case _ => None
    }
    ne match {
      case a @ Alias(we @ WindowExpression(fn, _), _) =>
        spec(fn).collect {
          case (input, off, default, ignoreNulls)
              if math.abs(off) <= maxShift && input.deterministic &&
                (!ignoreNulls || off < 0) && defaultOk(default, input) =>
            AsShift(a, input, off, default, ignoreNulls,
              genAttr(a, input.dataType, we.nullable))
        }
      case _ => None
    }
  }

  /** `lead(e, k) IGNORE NULLS` (or its `lag(e, -k)` spelling) with a
    * positive literal offset within the cap — the lookahead operator:
    * the VALUE state is k values; the zipped pass 2 never buffers the
    * null-run row gap. One node per expression — see the operator's
    * single-column rationale. */
  private def leadNNOf(ne: NamedExpression): Option[Member] = {
    def spec(fn: Expression): Option[(Expression, Int, Expression)] = fn match {
      case l: Lead if l.ignoreNulls => l.offset match {
        case Literal(kk: Int, IntegerType) if kk > 0 => Some((l.input, kk, l.default))
        case _ => None
      }
      case l: Lag if l.ignoreNulls => l.inputOffset match {
        case Literal(kk: Int, IntegerType) if kk < 0 => Some((l.input, -kk, l.default))
        case _ => None
      }
      case _ => None
    }
    ne match {
      case a @ Alias(we @ WindowExpression(fn, _), _) =>
        spec(fn).collect {
          case (input, kk, default)
              if kk <= maxShift && input.deterministic && defaultOk(default, input) =>
            AsLeadNN(a, input, kk, default, genAttr(a, input.dataType, we.nullable))
        }
      case _ => None
    }
  }

  /** The shared frame-aggregate allowlist: order-insensitive within
    * the frame. Used by both the running (UNBOUNDED PRECEDING) and
    * moving (bounded ROWS) matchers. */
  private def allowedAgg(fn: DeclarativeAggregate): Boolean = fn match {
    case _: Sum | _: Min | _: Max | _: Count | _: Average => true
    // the moment/central-moment and bitwise/boolean reducers are
    // equally order-insensitive within the frame
    case _: StddevSamp | _: StddevPop | _: VarianceSamp | _: VariancePop => true
    // bool_and/bool_or need no arms of their own: they are
    // RuntimeReplaceableAggregate, so unwrapAgg hands this matcher
    // their Min/Max replacement
    case _: BitAndAgg | _: BitOrAgg | _: BitXorAgg => true
    case _ => false
  }

  /** The ORDERED-frame widening of [[allowedAgg]]: first_value/last_value
    * (Spark's First/Last aggregates, IGNORE NULLS included) are
    * order-SENSITIVE, but the running and moving operators guarantee the
    * order those functions see — pass 1 updates each partition's buffer
    * in its sort order, the driver prefix-merges in partition order
    * (which IS global order under the range exchange), and the moving
    * ring rebuffers each frame's rows in sequence — so First's
    * keep-left / Last's keep-right merges are exact there. NOT valid
    * for the whole-frame family, whose driver merge order is partition
    * order with no ordering requirement at all. */
  private def allowedOrderedAgg(fn: DeclarativeAggregate): Boolean = fn match {
    case _: First | _: Last => true
    case _ => allowedAgg(fn)
  }

  /** bool_and/bool_or/every/any arrive as RuntimeReplaceableAggregate
    * in the ANALYZED plan (the optimizer's ReplaceExpressions turns
    * them into Min/Max later) — unwrap so force(), which rewrites the
    * analyzed plan, sees the same function the session path would. */
  private def unwrapAgg(fn: org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction)
      : Option[DeclarativeAggregate] = fn match {
    case d: DeclarativeAggregate => Some(d)
    case r: org.apache.spark.sql.catalyst.expressions.RuntimeReplaceableAggregate =>
      r.replacement match {
        case d: DeclarativeAggregate => Some(d)
        case _ => None
      }
    case _ => None
  }

  /** A RUNNING-AGGREGATE window: an allowlisted DeclarativeAggregate —
    * [[allowedOrderedAgg]], whose first_value/last_value
    * order-sensitivity the running operator's in-order prefix merge
    * satisfies — in Complete mode with no DISTINCT and no FILTER,
    * framed UNBOUNDED PRECEDING .. CURRENT ROW (ROWS or RANGE — RANGE
    * is the SQL default and ends at the tie group, which the operator
    * honors). */
  private def runAggOf(ne: NamedExpression): Option[Member] = ne match {
    case a @ Alias(we @ WindowExpression(
        AggregateExpression(fn0, Complete, false, None, _),
        WindowSpecDefinition(_, _,
          SpecifiedWindowFrame(ft, UnboundedPreceding, CurrentRow))), _) =>
      unwrapAgg(fn0).collect {
        case fn if allowedOrderedAgg(fn) && fn.deterministic =>
          AsRunAgg(a, fn, ft == RowFrame, genAttr(a, fn.dataType, we.nullable))
      }
    case _ => None
  }

  /** A literal ROWS-frame bound as a signed row offset: CurrentRow is
    * 0; the parser writes "k PRECEDING" as UnaryMinus(Literal(k)), the
    * DataFrame API writes rowsBetween offsets as signed literals. */
  private def rowOffset(e: Expression): Option[Int] = e match {
    case CurrentRow => Some(0)
    case Literal(v: Int, IntegerType) => Some(v)
    case Literal(v: Long, LongType) if v.isValidInt => Some(v.toInt)
    case UnaryMinus(Literal(v: Int, IntegerType), _) => Some(-v)
    case UnaryMinus(Literal(v: Long, LongType), _) if v.isValidInt => Some(-v.toInt)
    case _ => None
  }

  /** A MOVING-FRAME window: an allowlisted aggregate over `ROWS BETWEEN
    * lo AND hi` with literal row offsets within the boundary-state cap
    * — trailing (`-6..0`), centered (`-1..1`), pure-past, or
    * pure-future. UNBOUNDED PRECEDING frames are the running family;
    * RANGE moving frames are [[rangeMovAggOf]]'s. */
  private def movAggOf(ne: NamedExpression): Option[Member] = {
    def frame(lo0: Expression, hi0: Expression): Option[(Int, Int)] = for {
      lo <- rowOffset(lo0)
      hi <- rowOffset(hi0)
      if lo <= hi && math.max(math.abs(lo), math.abs(hi)) <= maxShift
    } yield (lo, hi)
    ne match {
      case a @ Alias(we @ WindowExpression(
          AggregateExpression(fn0, Complete, false, None, _),
          WindowSpecDefinition(_, _,
            SpecifiedWindowFrame(RowFrame, lo0, hi0))), _) =>
        for {
          (lo, hi) <- frame(lo0, hi0)
          fn <- unwrapAgg(fn0)
          if allowedOrderedAgg(fn) && fn.deterministic
        } yield AsMovAgg(a, fn, lo, hi, genAttr(a, fn.dataType, we.nullable))
      // MOVING-LOWER-BOUND nth_value: NthValue is itself a
      // DeclarativeAggregate (AggregateWindowFunction) whose
      // initial/update/evaluate expressions the frame REBUFFER runs
      // verbatim in frame order — exactly how WindowExec's
      // AggregateProcessor evaluates it — so a literal-bounded ROWS
      // frame rides the moving ring like any other ordered aggregate.
      // (Start-anchored frames are [[nthOf]]'s one-constant family;
      // frames with an unbounded FOLLOWING end keep WindowExec.)
      case a @ Alias(we @ WindowExpression(
          nv @ NthValue(input, Literal(n: Int, IntegerType), _),
          WindowSpecDefinition(_, _,
            SpecifiedWindowFrame(RowFrame, lo0, hi0))), _)
          if n > 0 && input.deterministic =>
        frame(lo0, hi0).map { case (lo, hi) =>
          AsMovAgg(a, nv, lo, hi, genAttr(a, nv.dataType, we.nullable))
        }
      case _ => None
    }
  }

  /** A RANGE-MOVING window (the dense-domain tier): an order-INSENSITIVE
    * allowlisted aggregate ([[allowedAgg]] — not the ordered widening:
    * per-key buffers make First/Last undefined) over `RANGE BETWEEN lo
    * AND hi` with value offsets within the cap, on a SINGLE order key
    * of any direction and null placement that is integral/date
    * (at most `hi - lo + 1` distinct keys per frame, so the operator
    * ships per-key BUFFERS bounded by the value extent, never rows
    * bounded by density), a TIMESTAMP (epoch micros, micros-exact
    * interval bounds), or a compact DECIMAL — see
    * [[graft.plans.PartitionedRangeMovingAgg.rangeKey]]. `UNBOUNDED
    * PRECEDING .. CURRENT ROW` RANGE frames are the running family;
    * multi-key orders, non-integral numeric keys, month-bearing
    * interval bounds, and half-unbounded bounded frames keep
    * WindowExec. */
  private def rangeMovAggOf(ne: NamedExpression): Option[Member] = ne match {
    case a @ Alias(we @ WindowExpression(
        AggregateExpression(fn0, Complete, false, None, _),
        WindowSpecDefinition(_, Seq(SortOrder(key, _, _, _)),
          SpecifiedWindowFrame(RangeFrame, lo0, hi0))), _)
        if lo0 != UnboundedPreceding && hi0 != UnboundedFollowing &&
          PartitionedRangeMovingAgg.rangeKey(key.dataType) &&
          key.deterministic =>
      for {
        lo <- rangeValueBound(lo0, key.dataType)
        hi <- rangeValueBound(hi0, key.dataType)
        if lo <= hi &&
          math.max(math.abs(lo), math.abs(hi)) <= rangeExtentCap(key.dataType)
        fn <- unwrapAgg(fn0)
        if allowedAgg(fn) && fn.deterministic
      } yield AsRangeMov(a, fn, lo, hi, genAttr(a, fn.dataType, we.nullable))
    case _ => None
  }

  /** Sub-gate for the sketch tier (ADVICE r12): routing
    * `approx_percentile OVER ()` through GlobalFrameAgg makes that one
    * function's RESULT partitioning-dependent — the GK summary merge
    * order is partition order, so output bits can change when the
    * partition count changes (AQE, cluster size), within the
    * function's rank-error contract but unlike the single-task
    * built-in. (HLL++ has no such dependence: register maxima are
    * bit-identical under any partitioning.) Exact-reproducibility runs
    * can disable JUST the sketch tier here without giving up the exact
    * families. Default on — the whole-frame rewrite is the documented
    * 100 TB path and the error contract is the function's own. */
  val SketchConfKey = "spark.graft.rewrite.sketchFrameAgg"
  private def sketchTierEnabled: Boolean =
    SQLConf.get.getConfString(SketchConfKey, "true").trim.equalsIgnoreCase("true")

  /** The BOUNDED-SKETCH allowlist for the whole-frame family:
    * imperative aggregates whose buffer is sketch-sized by
    * construction and whose merge is order-robust —
    * approx_count_distinct's HLL++ (register maxima: bit-identical
    * under any partitioning) and approx_percentile's GK summary
    * (within its rank-error bound across partitionings, the same
    * property Spark's own partial aggregation gives it; see
    * [[SketchConfKey]] for the reproducibility caveat and its own
    * off-switch). This is the WindowWhitelist's documented "at 100 TB
    * the same statistic runs via approx_percentile" alternative,
    * executed. Unbounded-buffer imperatives (collect_list/percentile/
    * mode) stay on WindowExec. */
  private def sketchAllowed(fn: org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction): Boolean =
    sketchTierEnabled && (fn match {
      case _: org.apache.spark.sql.catalyst.expressions.aggregate.HyperLogLogPlusPlus => true
      case _: org.apache.spark.sql.catalyst.expressions.aggregate.ApproximatePercentile => true
      case _ => false
    })

  /** A WHOLE-FRAME window: an order-insensitive allowlisted aggregate —
    * declarative, or (global tier only, `sketch`) a bounded-sketch
    * imperative from [[sketchAllowed]] — over `... BETWEEN UNBOUNDED
    * PRECEDING AND UNBOUNDED FOLLOWING` (ROWS or RANGE — over the full
    * frame they are the same set) or the analyzer's resolution of
    * `OVER ()` / `OVER (PARTITION BY k)`. The value is one constant per
    * key, so no order is needed at all. First/Last stay out: their
    * whole-frame value depends on an order neither route establishes. */
  private def frameAggOf(ne: NamedExpression, sketch: Boolean): Option[AsFrameAgg] = ne match {
    case a @ Alias(we @ WindowExpression(
        AggregateExpression(fn0, Complete, false, None, _),
        WindowSpecDefinition(_, _,
          SpecifiedWindowFrame(_, UnboundedPreceding, UnboundedFollowing))), _) =>
      val fn: Option[AggregateFunction] = unwrapAgg(fn0) match {
        case Some(d) if allowedAgg(d) => Some(d)
        case _ if sketch && sketchAllowed(fn0) => Some(fn0)
        case _ => None
      }
      fn.collect {
        case f if f.deterministic => AsFrameAgg(a, f, genAttr(a, f.dataType, we.nullable))
      }
    case _ => None
  }

  /** A start-anchored `nth_value`: a positive integer-literal offset
    * within the boundary-state cap, under a running (`UNBOUNDED
    * PRECEDING .. CURRENT ROW`, ROWS or RANGE) or whole-frame spec —
    * every such frame starts at the key's first row, so the k-th frame
    * row is ONE per-key constant and each row's value is that constant
    * gated on its frame reaching k rows. Frames with a moving lower
    * bound are [[movAggOf]]'s. */
  private def nthOf(ne: NamedExpression): Option[Member] = ne match {
    case a @ Alias(we @ WindowExpression(
        NthValue(input, Literal(k: Int, IntegerType), ignoreNulls),
        WindowSpecDefinition(_, _, SpecifiedWindowFrame(ft, lo, hi))), _)
        if lo == UnboundedPreceding && k > 0 && k <= maxShift &&
          input.deterministic =>
      val kind = (ft, hi) match {
        case (_, UnboundedFollowing) => Some(2)
        case (RowFrame, CurrentRow) => Some(0)
        case (_, CurrentRow) => Some(1)
        case _ => None
      }
      kind.map(fk => AsNth(a, input, k, ignoreNulls, fk,
        genAttr(a, input.dataType, we.nullable)))
    case _ => None
  }

  /** A rewritable EXACT-PERCENTILE whole-frame global window:
    * `percentile(e, p) OVER ()` / `median(e) OVER ()` (Median is
    * RuntimeReplaceable to Percentile) with a scalar literal
    * percentage, unit frequency, no REVERSE, and an integral or
    * float/double input — [[GlobalExactPercentileNode]] finds the two
    * order statistics by iterative histogram narrowing (floating
    * columns through the IEEE sortable-bits keys), zero shuffle, no
    * sort, and interpolates with PercentileBase's own arithmetic.
    * Decimal inputs of ANY precision select exactly — on the unscaled
    * long for precision <= 18 (r13), in two (high, low)-word phases on
    * the 128-bit unscaled value for 19..38 (late r13). Array
    * percentages, weighted frequencies, and percentile_disc's reverse
    * form keep WindowExec. */
  private def pctOf(ne: NamedExpression): Option[Member] = {
    import org.apache.spark.sql.catalyst.expressions.aggregate.Percentile
    ne match {
      case a @ Alias(WindowExpression(
          AggregateExpression(fn0, Complete, false, None, _),
          WindowSpecDefinition(_, _,
            SpecifiedWindowFrame(_, UnboundedPreceding, UnboundedFollowing))), _) =>
        val pctFn = fn0 match {
          case p: Percentile => Some(p)
          case r: org.apache.spark.sql.catalyst.expressions.RuntimeReplaceableAggregate =>
            r.replacement match {
              case p: Percentile => Some(p)
              case _ => None
            }
          case _ => None
        }
        // the ANALYZED plan wraps SQL literals in implicit casts
        // (0.5 parses as DECIMAL(1,1) then casts to double), so fold
        // rather than pattern-match the literals
        def foldedDouble(e: Expression): Option[Double] =
          if (e.foldable && e.dataType == org.apache.spark.sql.types.DoubleType)
            Option(e.eval()).map(_.asInstanceOf[Double])
          else None
        def unitFrequency(e: Expression): Boolean =
          e.foldable && (e.eval() match {
            case 1L | 1 => true
            case _ => false
          })
        pctFn.flatMap { p =>
          val ok = !p.reverse && p.child.deterministic &&
            (p.child.dataType match {
              case LongType | IntegerType |
                   org.apache.spark.sql.types.ShortType |
                   org.apache.spark.sql.types.ByteType |
                   org.apache.spark.sql.types.DoubleType |
                   org.apache.spark.sql.types.FloatType => true
              // r13 (VERDICT r12 task 4): bounded-precision decimals
              // select on the exact unscaled long; WIDE decimals
              // (precision 19..38) select in two phases on the 128-bit
              // unscaled value's (high, low) words — late r13, the
              // family's last type refusal retired
              case _: org.apache.spark.sql.types.DecimalType => true
              case _ => false
            }) && unitFrequency(p.frequencyExpression)
          if (!ok) None
          else foldedDouble(p.percentageExpression)
            .filter(d => d >= 0.0 && d <= 1.0)
            .map(d => AsPct(a, p.child, d,
              genAttr(a, org.apache.spark.sql.types.DoubleType, nullable = true)))
        }
      case _ => None
    }
  }

  /** True iff every expression in the plan subtree is deterministic.
    * Every rewrite target is a MULTI-EXECUTION shape — the two-pass
    * keyed operators re-execute their child RDD once
    * per pass (pass-1 boundary partials, pass-2 emission), and the
    * mode/frame-agg join-backs reference the child subtree twice — so a
    * non-deterministic child (rand(), sample, a non-deterministic UDF
    * upstream) would be evaluated over DIFFERENT row sets across
    * passes, producing internally inconsistent results that WindowExec
    * (one materialization) never shows. Admission therefore requires a
    * deterministic child plan in every Window case (ADVICE r14 #1,
    * generalized from the mode join-back to the whole family). */
  private def planDeterministic(p: LogicalPlan): Boolean =
    !p.exists(n => n.expressions.exists(e => !e.deterministic))

  /** A whole-frame `mode()` window (global or per key) — the
    * unbounded-buffer imperative that IS retirable: `mode(e)` is
    * order-insensitive and equals argmax-of-value-counts, so it
    * rewrites to the two-level counts→argmax aggregate joined back
    * (see [[globalModeRel]] / [[skewModeRel]]) instead of shipping a
    * per-value hash-map buffer anywhere. Tie-break: `mode() WITHIN
    * GROUP (ORDER BY v)` carries its direction in `reverseOpt` and the
    * rewrite reproduces it exactly; plain `mode(e)` (reverseOpt empty)
    * is tie-NONDETERMINISTIC in the built-in (hash-map iteration
    * order), so the rewrite's first-in-ascending-order choice is a
    * deterministic refinement of an unspecified result, not a
    * divergence. `collect_list` stays refused — its value is
    * order-DEFINED, which no order-free aggregation can reproduce. */
  private def modeAggOf(ne: NamedExpression): Option[AsMode] = ne match {
    case a @ Alias(we @ WindowExpression(
        AggregateExpression(m: org.apache.spark.sql.catalyst.expressions.aggregate.Mode,
          Complete, false, None, _),
        WindowSpecDefinition(_, _,
          SpecifiedWindowFrame(_, UnboundedPreceding, UnboundedFollowing))), _)
        if m.child.deterministic &&
          org.apache.spark.sql.catalyst.expressions.RowOrdering
            .isOrderable(m.child.dataType) =>
      Some(AsMode(a, m.child, m.reverseOpt.getOrElse(true),
        genAttr(a, m.dataType, we.nullable)))
    case _ => None
  }

  /** The ordered families, in the order their nodes stack. */
  private def classifyOrdered(ne: NamedExpression): Option[Member] =
    rankOf(ne).orElse(shiftOf(ne)).orElse(leadNNOf(ne)).orElse(runAggOf(ne))
      .orElse(movAggOf(ne)).orElse(rangeMovAggOf(ne)).orElse(nthOf(ne))

  /** The global tier's whole-frame members (order-independent). */
  private def classifyWhole(ne: NamedExpression): Option[Member] =
    modeAggOf(ne).orElse(frameAggOf(ne, sketch = true)).orElse(pctOf(ne))

  /** The one-row relation `SELECT mode-of(input) FROM child`: per-value
    * counts (map-side combined, nulls excluded — mode ignores null
    * inputs), then a global argmax with the tie-break encoded as a
    * struct extreme — `min(struct(-cnt, v))` picks (max count, min
    * value), `max(struct(cnt, v))` picks (max count, max value) — so
    * driver/executor state is one struct, never a value→count map. The
    * empty-input case (no rows, or all inputs null) yields one row with
    * a NULL struct → NULL mode, matching the built-in. The output
    * attribute carries the caller's generated exprId, so the join-back
    * projection resolves without re-aliasing. */
  private def globalModeRel(child: LogicalPlan, input: Expression,
                            tieSmallest: Boolean,
                            attr: AttributeReference): LogicalPlan = {
    import org.apache.spark.sql.catalyst.expressions.{CreateStruct, GetStructField, IsNotNull}
    val freshAliases: Seq[Alias] = child.output.map(o => Alias(o, o.name)())
    val subst = AttributeMap(child.output.zip(freshAliases.map(_.toAttribute)))
    val v = input.transform { case at: Attribute => subst.getOrElse(at, at) }
    val vA = Alias(v, "__graft_mode_v")()
    val proj = Project(Seq(vA), Project(freshAliases, child))
    val nonNull = org.apache.spark.sql.catalyst.plans.logical
      .Filter(IsNotNull(vA.toAttribute), proj)
    val cntA = Alias(AggregateExpression(Count(Seq(Literal(1))), Complete,
      isDistinct = false), "__graft_mode_c")()
    val counts = Aggregate(Seq(vA.toAttribute),
      Seq(vA.toAttribute, cntA), nonNull)
    val pair: Expression =
      if (tieSmallest) CreateStruct(Seq(UnaryMinus(cntA.toAttribute), vA.toAttribute))
      else CreateStruct(Seq(cntA.toAttribute, vA.toAttribute))
    val bestFn: AggregateFunction = if (tieSmallest) Min(pair) else Max(pair)
    val bestA = Alias(AggregateExpression(bestFn, Complete,
      isDistinct = false), "__graft_mode_s")()
    val arg = Aggregate(Nil, Seq(bestA), counts)
    Project(Seq(Alias(GetStructField(bestA.toAttribute, 1), attr.name)(
      exprId = attr.exprId)), arg)
  }

  /** True iff `ne` is a SUFFIX-running window aggregate (r14):
    * `agg(e) OVER (... ORDER BY o ROWS|RANGE BETWEEN CURRENT ROW AND
    * UNBOUNDED FOLLOWING)` over the ordered allowlist — "the total of
    * everything from here on". The frame is the exact MIRROR of the
    * running family's under order REVERSAL, so no new operator is
    * needed: [[mirrorSuffix]] flips every sort direction and null
    * placement (a total reversal), mirrors the frame to `UNBOUNDED
    * PRECEDING .. CURRENT ROW`, and swaps First<->Last (frame CONTENT
    * is preserved by the mirror, but those two read frame ORDER, which
    * the reversal inverts); the rewritten node then routes through the
    * existing running machinery. RANGE forms are tie-exact (value
    * frames contain whole tie groups on both sides); ROWS forms carry
    * the running family's existing total-order caveat under ties.
    * ROWS frames starting at a literal offset
    * (`k PRECEDING/FOLLOWING .. UNBOUNDED FOLLOWING`, within the shift
    * cap) mirror onto `UNBOUNDED PRECEDING .. k-offset`, which the
    * delayed/extended composition ([[delayedRunAggOf]]) then routes;
    * offset RANGE starts and over-cap offsets stay on WindowExec. */
  private def suffixRunningOf(ne: NamedExpression): Boolean = ne match {
    case Alias(WindowExpression(
        AggregateExpression(fn0, Complete, false, None, _),
        WindowSpecDefinition(_, os,
          SpecifiedWindowFrame(ft, lo, UnboundedFollowing))), _)
        // CurrentRow anchors mirror for ROWS and RANGE; literal
        // ROW-offset anchors mirror onto the delayed/extended
        // composition (ROWS only, within the shift cap)
        if os.nonEmpty && (lo == CurrentRow || ft == RowFrame &&
          rowOffset(lo).exists(k => k != 0 && math.abs(k) <= maxShift)) =>
      unwrapAgg(swapFirstLast(fn0)).exists(fn => allowedOrderedAgg(fn) && fn.deterministic)
    case _ => false
  }

  /** First <-> Last: frame CONTENT survives the suffix mirror, but
    * these two read frame ORDER, which the reversal inverts. */
  private def swapFirstLast(fn: AggregateFunction): AggregateFunction = fn match {
    case f: First => Last(f.child, f.ignoreNulls)
    case l: Last => First(l.child, l.ignoreNulls)
    case other => other
  }

  /** Exact total-order reversal: ASC NULLS FIRST <-> DESC NULLS LAST
    * (and the off-default pairings likewise), per sort key. */
  private def reverseOrder(so: SortOrder): SortOrder = {
    val dir = so.direction match {
      case Ascending => org.apache.spark.sql.catalyst.expressions.Descending
      case _ => Ascending
    }
    val no = so.nullOrdering match {
      case org.apache.spark.sql.catalyst.expressions.NullsFirst =>
        org.apache.spark.sql.catalyst.expressions.NullsLast
      case _ => org.apache.spark.sql.catalyst.expressions.NullsFirst
    }
    SortOrder(so.child, dir, no, so.sameOrderExpressions)
  }

  /** Rebuild a suffix-running window expression as its prefix-running
    * MIRROR (same alias exprId, so downstream projection is
    * untouched): reversed order, mirrored frame, First<->Last swap. */
  private def mirrorSuffix(ne: NamedExpression): NamedExpression = ne match {
    case a @ Alias(WindowExpression(
        ae @ AggregateExpression(fn0, _, _, _, _),
        WindowSpecDefinition(ps, os,
          SpecifiedWindowFrame(ft, lo, UnboundedFollowing))), _) =>
      // the mirrored END is the NEGATED start: CURRENT ROW stays,
      // `k PRECEDING` becomes `k FOLLOWING` and vice versa (the
      // delayed/extended composition then handles the offset ends)
      val hi: Expression =
        if (lo == CurrentRow) CurrentRow
        else rowOffset(lo).map(k => Literal(-k)).getOrElse(lo)
      Alias(WindowExpression(ae.copy(aggregateFunction = swapFirstLast(fn0)),
        WindowSpecDefinition(ps, os.map(reverseOrder),
          SpecifiedWindowFrame(ft, UnboundedPreceding, hi))),
        a.name)(exprId = a.exprId, qualifier = a.qualifier,
          explicitMetadata = Some(a.metadata))
    case other => other
  }

  /** (alias, original AggregateExpression, signed end offset k, fn)
    * iff `ne` is a DELAYED/EXTENDED running window aggregate (r14):
    * `agg(e) OVER (... ORDER BY o ROWS BETWEEN UNBOUNDED PRECEDING AND
    * k PRECEDING|FOLLOWING)` with a literal offset within the shift
    * cap. These COMPOSE from already-distributed members on ONE shared
    * exchange instead of needing an operator:
    *
    *  - `.. k PRECEDING` (k < 0 here) is the running value k rows ago:
    *    `lag(running, k, <empty-frame value>)` — the lag default fires
    *    exactly when the frame is empty (pos < k), and the empty-frame
    *    value is the aggregate's own eval over its initial buffer
    *    (0 for count, NULL for the rest of the allowlist);
    *  - `.. k FOLLOWING` (k > 0) is the running value k rows ahead,
    *    saturating at the end: `IF(rn + k > N, whole-frame-agg,
    *    lead(running, k))` — the frame is never empty, and past the
    *    end it is the ENTIRE input, i.e. the whole-frame aggregate.
    *
    * ROWS only (a value-offset RANGE end is a shifted value window,
    * not a row shift) and the running allowlist ([[allowedOrderedAgg]]
    * — First/Last work verbatim: their delayed value is the running
    * First/Last at the shifted row). */
  private def delayedRunAggOf(ne: NamedExpression): Option[(Alias, AggregateExpression, Int, DeclarativeAggregate)] = ne match {
    case a @ Alias(WindowExpression(
        ae @ AggregateExpression(fn0, Complete, false, None, _),
        WindowSpecDefinition(_, os,
          SpecifiedWindowFrame(RowFrame, UnboundedPreceding, hi))), _)
        if os.nonEmpty && hi != CurrentRow => // CurrentRow = running
      for {
        k <- rowOffset(hi) // UnboundedFollowing = whole-frame
        if k != 0 && math.abs(k) <= maxShift
        fn <- unwrapAgg(fn0)
        if allowedOrderedAgg(fn) && fn.deterministic
      } yield (a, ae, k, fn)
    case _ => None
  }

  /** The aggregate's value over an EMPTY frame: its own
    * `evaluateExpression` over the initial buffer (0 for count, NULL
    * for every other allowlisted member) — computed once at rule time
    * so the lag default is a plain literal. */
  private def emptyFrameLiteral(fn: DeclarativeAggregate): Literal = {
    import org.apache.spark.sql.catalyst.expressions.{BindReferences, MutableProjection, SpecificInternalRow}
    val buf = new SpecificInternalRow(fn.aggBufferAttributes.map(_.dataType))
    MutableProjection.create(fn.initialValues, Nil).target(buf)(
      org.apache.spark.sql.catalyst.InternalRow.empty)
    val v = BindReferences
      .bindReference(fn.evaluateExpression, fn.aggBufferAttributes).eval(buf)
    Literal.create(v, fn.dataType)
  }

  /** The global tier's rewrite, unconditionally (the conf gate lives in
    * [[apply]]). Idempotent: the result contains no matching `Window`,
    * so a fixed-point batch terminates immediately. */
  def rewrite(plan: LogicalPlan): LogicalPlan = rewriteTier(plan, keyed = false)

  /** The keyed tier's rewrite, unconditionally. */
  private[graft] def rewriteSkew(plan: LogicalPlan): LogicalPlan =
    rewriteTier(plan, keyed = true)

  /** One rewrite for both tiers; `keyed` picks which windows it takes
    * ([[tierKeys]]) and how whole-frame members route. Four shapes:
    *
    *  1. delayed/extended running members ([[rewriteDelayed]]);
    *  2. suffix-running members, mirrored onto a REVERSED-order running
    *     window stacked over the node's other members — each half is
    *     row-preserving and column-appending, so stacking composes;
    *  3. (keyed) all members whole-frame: a window-to-join
    *     ([[rewriteSkewFrameAgg]]) — the one per-key window shape AQE
    *     can then fix (skewed join partitions split, a small key set
    *     broadcasts), while WindowExec funnels a hot key through one
    *     task;
    *  4. all members in the ordered families (plus, globally, the
    *     whole-frame ones): the keyed node chain on one exchange.
    *
    * A keyed window mixing whole-frame and ordered members keeps
    * WindowExec — rare, and correctly handled there. */
  private def rewriteTier(plan: LogicalPlan, keyed: Boolean): LogicalPlan = {
    def admitted(e: NamedExpression): Boolean =
      classifyOrdered(e).isDefined || !keyed && classifyWhole(e).isDefined
    def ordered(ps: Seq[Expression], orderSpec: Seq[SortOrder],
                child: LogicalPlan): Boolean =
      tierKeys(ps, keyed).isDefined && planDeterministic(child) &&
        orderSpec.nonEmpty && orderSpec.forall(_.deterministic)
    plan.transformUp {
      case w @ Window(wexprs, ps, orderSpec, child, _)
          if ordered(ps, orderSpec, child) &&
            wexprs.exists(e => delayedRunAggOf(e).isDefined) &&
            wexprs.forall(e => delayedRunAggOf(e).isDefined ||
              suffixRunningOf(e) || admitted(e)) =>
        rewriteDelayed(w, keyed)
      case Window(wexprs, ps, orderSpec, child, hint)
          if ordered(ps, orderSpec, child) && wexprs.exists(suffixRunningOf) &&
            wexprs.forall(e => suffixRunningOf(e) || admitted(e)) =>
        val (suffix, rest) = wexprs.partition(suffixRunningOf)
        val base: LogicalPlan =
          if (rest.isEmpty) child
          else rewriteTier(Window(rest, ps, orderSpec, child, hint), keyed)
        val mirrored = Window(suffix.map(mirrorSuffix), ps,
          orderSpec.map(reverseOrder), base, hint)
        Project(child.output ++ wexprs.map(_.toAttribute), rewriteTier(mirrored, keyed))
      case Window(wexprs, ps, _, child, _)
          if keyed && wexprs.nonEmpty && tierKeys(ps, keyed).isDefined &&
            // the join-back re-executes the child on its aggregate
            // branch, so the child PLAN must be deterministic
            planDeterministic(child) &&
            wexprs.forall(e => frameAggOf(e, sketch = false).isDefined ||
              modeAggOf(e).isDefined) =>
        rewriteSkewFrameAgg(wexprs, ps, child)
      case Window(wexprs, ps, orderSpec, child, _)
          if wexprs.nonEmpty && tierKeys(ps, keyed).isDefined &&
            planDeterministic(child) && {
              // whole-frame expressions are order-independent, so a
              // window of nothing else rewrites even with no (or a
              // nondeterministic) ORDER BY — `sum(x) OVER ()` has an
              // empty orderSpec by construction
              val orderedOk = orderSpec.nonEmpty && orderSpec.forall(_.deterministic)
              wexprs.forall(e => !keyed && classifyWhole(e).isDefined ||
                orderedOk && classifyOrdered(e).isDefined)
            } =>
        // classify once: fresh generated attrs are created exactly once
        // per expression; the families are disjoint
        val members = wexprs.map(e =>
          (if (keyed) None else classifyWhole(e)).orElse(classifyOrdered(e)).get)
        val chain = orderedChain(tierKeys(ps, keyed).get, orderSpec, members, child)
        // the whole-frame nodes require nothing and preserve everything,
        // so they ride the ordered members' shared range exchange when
        // mixed, and introduce NO exchange when alone
        val frames = members.collect { case f: AsFrameAgg => f }
        val pcts = members.collect { case p: AsPct => p }
        val withFrames =
          if (frames.isEmpty) chain
          else GlobalFrameAggNode(frames.map(_.attr), frames.map(_.fn), chain)
        val withPcts =
          if (pcts.isEmpty) withFrames
          else GlobalExactPercentileNode(pcts.map(_.attr), pcts.map(_.input),
            pcts.map(_.pct), withFrames)
        // whole-frame mode: each distinct mode expression joins its
        // ONE-ROW counts→argmax relation back onto the chain — a
        // broadcast of a single row, zero shuffle of the big side
        val node = members.collect { case m: AsMode => m }.foldLeft(withPcts) {
          (p, m) => Join(p, globalModeRel(child, m.input, m.tieSmallest, m.attr),
            org.apache.spark.sql.catalyst.plans.Cross, None, JoinHint.NONE)
        }
        Project(child.output ++ members.map(restore), node)
    }
  }

  /** The keyed node chain for a window's ordered members, stacked
    * rank, shift, lookaheads, running, moving, range-moving, nth —
    * every node declares the same composite distribution and passes
    * partitioning + ordering through, so stacking costs no extra
    * exchange. */
  private def orderedChain(partKeys: Seq[Expression], orderSpec: Seq[SortOrder],
                           members: Seq[Member], child: LogicalPlan): LogicalPlan = {
    val ranks = members.collect { case r: AsRank => RankCol(r.attr, r.mode) }
    val shifts = members.collect { case s: AsShift => s }
    val runs = members.collect { case r: AsRunAgg => r }
    val movs = members.collect { case m: AsMovAgg => m }
    val rangeMovs = members.collect { case m: AsRangeMov => m }
    val nths = members.collect { case n: AsNth => n }
    val withRanks =
      if (ranks.isEmpty) child
      else PartitionedRankNode(partKeys, orderSpec, ranks, child)
    val withShifts =
      if (shifts.isEmpty) withRanks
      else PartitionedShiftNode(partKeys, orderSpec, shifts.map(_.attr),
        shifts.map(_.input), shifts.map(_.offset), shifts.map(_.default),
        shifts.map(_.ignoreNulls), withRanks)
    // one lookahead node per expression (single-column by design — the
    // deque bound is per-column; see PartitionedLookaheadNode)
    val withLookaheads = members.collect { case l: AsLeadNN => l }.foldLeft(withShifts) {
      (p, l) => PartitionedLookaheadNode(partKeys, orderSpec, l.attr, l.input,
        l.k, l.default, p)
    }
    val withRuns =
      if (runs.isEmpty) withLookaheads
      else PartitionedRunningAggNode(partKeys, orderSpec, runs.map(_.attr),
        runs.map(_.fn), runs.map(_.rows), withLookaheads)
    val withMovs =
      if (movs.isEmpty) withRuns
      else PartitionedMovingAggNode(partKeys, orderSpec, movs.map(_.attr),
        movs.map(_.fn), movs.map(_.lo), movs.map(_.hi), withRuns)
    val withRangeMovs =
      if (rangeMovs.isEmpty) withMovs
      else PartitionedRangeMovingAggNode(partKeys, orderSpec,
        rangeMovs.map(_.attr), rangeMovs.map(_.fn), rangeMovs.map(_.lo),
        rangeMovs.map(_.hi), orderSpec.head.direction == Descending, withMovs)
    if (nths.isEmpty) withRangeMovs
    else PartitionedNthValueNode(partKeys, orderSpec, nths.map(_.attr),
      nths.map(_.input), nths.map(_.k), nths.map(_.ignoreNulls),
      nths.map(_.kind), withRangeMovs)
  }

  /** The member's original column, read back from its generated
    * attribute under the original alias and exprId. The nodes emit
    * LONG ranks (they exist for row counts past 2^31); the integral
    * built-ins are INT, so those cast back and the user-visible schema
    * is unchanged. */
  private def restore(m: Member): NamedExpression = {
    val value: Expression = m match {
      case r: AsRank if r.mode.dataType == LongType => Cast(r.attr, IntegerType)
      case other => other.attr
    }
    Alias(value, m.a.name)(exprId = m.a.exprId, qualifier = m.a.qualifier,
      explicitMetadata = Some(m.a.metadata))
  }

  /** Delayed/extended running windows: compose lag/lead over a
    * generated running column (plus row_number and whole-frame totals
    * for a k-FOLLOWING end), all riding the chain's ONE exchange —
    * peel them, stack helper and shift windows, rewrite each, and
    * restore the original columns in a final Project. The global tier
    * stacks the totals in the helper window (rank, running and
    * whole-frame members share one node chain); the keyed tier, whose
    * main shape refuses whole-frame members beside ordered ones,
    * computes them in a window-to-join of their own below it. */
  private def rewriteDelayed(w: Window, keyed: Boolean): LogicalPlan = {
    val Window(wexprs, ps, orderSpec, child, hint) = w
    def window(exprs: Seq[NamedExpression], c: LogicalPlan): LogicalPlan =
      rewriteTier(Window(exprs, ps, orderSpec, c), keyed)
    def frame(lo: Expression, hi: Expression): WindowSpecDefinition =
      WindowSpecDefinition(ps, orderSpec, SpecifiedWindowFrame(RowFrame, lo, hi))
    def freshAe(ae: AggregateExpression): AggregateExpression =
      ae.copy(resultId = NamedExpression.newExprId)
    val delayed = wexprs.flatMap(e => delayedRunAggOf(e).map(e -> _))
    val rest = wexprs.filterNot(e => delayedRunAggOf(e).isDefined)
    val base: LogicalPlan =
      if (rest.isEmpty) child
      else rewriteTier(Window(rest, ps, orderSpec, child, hint), keyed)
    val needTotals = delayed.exists(_._2._3 > 0)
    // helper columns: one running column per delayed expr, plus
    // row_number and per-aggregate whole-frame totals when any end
    // EXTENDS (k > 0)
    val runA = delayed.map { case (_, (a, ae, _, _)) =>
      Alias(WindowExpression(freshAe(ae), frame(UnboundedPreceding, CurrentRow)),
        s"__graft_dr_${a.name}")()
    }
    val rnA =
      if (!needTotals) None
      else Some(Alias(WindowExpression(RowNumber(),
        frame(UnboundedPreceding, CurrentRow)), "__graft_dr_rn")())
    val cntA =
      if (!needTotals) None
      else Some(Alias(WindowExpression(
        AggregateExpression(Count(Seq(Literal(1))), Complete, isDistinct = false),
        frame(UnboundedPreceding, UnboundedFollowing)), "__graft_dr_n")())
    val totA = delayed.map { case (_, (a, ae, k, _)) =>
      if (k <= 0) None
      else Some(Alias(WindowExpression(freshAe(ae),
        frame(UnboundedPreceding, UnboundedFollowing)), s"__graft_dt_${a.name}")())
    }
    val totals = cntA.toSeq ++ totA.flatten
    val helper =
      if (!keyed) window(runA ++ rnA.toSeq ++ totals, base)
      else window(runA ++ rnA.toSeq, if (totals.isEmpty) base else window(totals, base))
    // shift window over the helper outputs
    val shiftA = delayed.zip(runA).map { case ((_, (a, _, k, fn)), ra) =>
      val shifted: Expression =
        if (k < 0) Lag(ra.toAttribute, Literal(-k), emptyFrameLiteral(fn), false)
        // the default never surfaces (the If picks the whole-frame
        // value past the end) but the empty-frame literal keeps the
        // STATIC nullability identical to the built-in's (count stays
        // non-nullable)
        else Lead(ra.toAttribute, Literal(k), emptyFrameLiteral(fn), false)
      Alias(WindowExpression(shifted,
        frame(UnaryMinus(Literal(math.abs(k))), Literal(math.abs(k)))),
        s"__graft_ds_${a.name}")()
    }
    val shifted = window(shiftA, helper)
    val restored: Seq[NamedExpression] = wexprs.map { e =>
      delayed.indexWhere(_._1 eq e) match {
        case -1 => e.toAttribute
        case i =>
          val (a, _, k, _) = delayed(i)._2
          val value: Expression =
            if (k < 0) shiftA(i).toAttribute
            else org.apache.spark.sql.catalyst.expressions.If(
              org.apache.spark.sql.catalyst.expressions.GreaterThan(
                org.apache.spark.sql.catalyst.expressions.Add(
                  Cast(rnA.get.toAttribute, LongType), Literal(k.toLong)),
                cntA.get.toAttribute),
              totA(i).get.toAttribute, shiftA(i).toAttribute)
          Alias(value, a.name)(exprId = a.exprId, qualifier = a.qualifier,
            explicitMetadata = Some(a.metadata))
      }
    }
    Project(child.output ++ restored, shifted)
  }

  /** Shape 3 of [[rewriteTier]]: per-key whole-frame aggregates become
    * `Aggregate` + null-safe equi-`Join` — window-to-join, the classic
    * relational unnesting of `agg(e) OVER (PARTITION BY k)`.
    *
    * Equivalence: the join's right side groups the SAME child by the
    * SAME keys, so every left row matches exactly one right row (its
    * own group — never zero: the group exists because the row does),
    * preserving left multiplicity exactly; `<=>` matches window
    * partitioning's null bucket (and Spark's NaN-equal, -0.0 = 0.0
    * comparison semantics match its grouping normalization). The
    * admitted functions are [[allowedAgg]] only — order-insensitive
    * within the frame; First/Last stay out because group-aggregate
    * partial merges run in arbitrary order while a window's
    * whole-partition First/Last is order-defined.
    *
    * Scale shape: the aggregate side is map-side combined (partial
    * aggregation — the hot key costs one combiner slot per task, not a
    * task), its result is one narrow row per distinct key, and the
    * join back is the plan AQE already knows how to save: skewed SMJ
    * partitions split (the one-row-per-key right side replicates
    * free), or the whole right side broadcasts when |keys| is small —
    * ZERO shuffle of the big side. The cost is reading the child
    * twice; at any scale where the hot key doesn't fit one task, two
    * parallel scans beat one serial window by construction.
    *
    * The right subtree re-aliases every child attribute (fresh
    * exprIds), so the self-join carries no ambiguous references; the
    * final Project restores the original window aliases under their
    * exprIds, leaving upstream operators untouched. */
  private def rewriteSkewFrameAgg(wexprs: Seq[NamedExpression],
                                  partSpec: Seq[Expression],
                                  child: LogicalPlan): LogicalPlan = {
    val classified: Seq[(Alias, AggregateFunction)] =
      wexprs.flatMap(e => frameAggOf(e, sketch = false)).map(f => (f.a, f.fn))
    val modeClassified: Seq[(NamedExpression, AsMode)] =
      wexprs.flatMap { e =>
        if (frameAggOf(e, sketch = false).isDefined) None else modeAggOf(e).map(e -> _)
      }
    // Stacked whole-frame windows over DIFFERENT keys (share-of-region
    // next to share-of-nation) rewrite bottom-up, so the outer window's
    // child is already a join-back — and aggregating over it would
    // re-derive every lower join inside this aggregate branch. When the
    // child is PROVABLY one of this method's own 1:1 join-backs (see
    // [[keyCompleteJoinBase]]) and this window's keys and functions
    // only reference base attributes, the aggregate branch descends to
    // the shared base: each stacked window costs one base aggregation,
    // never a re-derivation of the stack below it.
    val needed = AttributeSet(
      partSpec.flatMap(_.references) ++ classified.flatMap(_._2.references) ++
        modeClassified.flatMap(_._2.input.references))
    @annotation.tailrec
    def peel(p: LogicalPlan): LogicalPlan =
      keyCompleteJoinBase(p) match {
        case Some(base) if needed.subsetOf(base.outputSet) => peel(base)
        case _ => p
      }
    val aggBase = peel(child)
    // fresh right subtree over the (peeled) base: re-alias every output
    // attribute so the two join sides share no exprIds
    val freshAliases: Seq[Alias] =
      aggBase.output.map(a => Alias(a, a.name)())
    val subst = AttributeMap(aggBase.output.zip(freshAliases.map(_.toAttribute)))
    def sub(e: Expression): Expression = e.transform {
      case a: Attribute => subst.getOrElse(a, a)
    }
    val rightChild = Project(freshAliases, aggBase)
    val groupKeys: Seq[Expression] = partSpec.map(sub)
    val keyAliases: Seq[Alias] = groupKeys.zipWithIndex.map {
      case (e, i) => Alias(e, s"__graft_k$i")()
    }
    val aggAliases: Seq[Alias] = classified.map { case (a, fn) =>
      Alias(AggregateExpression(sub(fn).asInstanceOf[AggregateFunction],
        Complete, isDistinct = false), s"__graft_${a.name}")()
    }
    val withPlain: LogicalPlan = if (classified.isEmpty) child else {
      val agg = Aggregate(groupKeys, keyAliases ++ aggAliases, rightChild)
      val cond: Expression = partSpec.zip(keyAliases)
        .map { case (l, ka) => EqualNullSafe(l, ka.toAttribute) }
        .reduce[Expression](And(_, _))
      Join(child, agg, Inner, Some(cond), JoinHint.NONE)
    }
    // per-key mode members (r14): each joins its own counts→argmax
    // relation back LEFT OUTER — a group whose mode input is all-NULL
    // has no counts row (mode ignores nulls) and must surface NULL, not
    // vanish. Exactly one right row per key, so left multiplicity is
    // preserved either way.
    val withModes: LogicalPlan = modeClassified.foldLeft(withPlain) {
      case (cur, (_, AsMode(_, input, rev, attr))) =>
        val (rel, keyAttrs) = skewModeRel(aggBase, partSpec, input, rev, attr)
        val cond: Expression = partSpec.zip(keyAttrs)
          .map { case (l, ka) => EqualNullSafe(l, ka) }
          .reduce[Expression](And(_, _))
        Join(cur, rel, org.apache.spark.sql.catalyst.plans.LeftOuter,
          Some(cond), JoinHint.NONE)
    }
    val plainAliasByExpr: Map[NamedExpression, NamedExpression] =
      wexprs.flatMap(e => frameAggOf(e, sketch = false).map(f => e -> f.a))
        .zip(aggAliases).map { case ((e, a), aa) =>
          (e, Alias(aa.toAttribute, a.name)(exprId = a.exprId,
            qualifier = a.qualifier, explicitMetadata = Some(a.metadata)))
      }.toMap
    val modeAliasByExpr: Map[NamedExpression, NamedExpression] =
      modeClassified.map { case (e, AsMode(a, _, _, attr)) =>
        (e, Alias(attr, a.name)(exprId = a.exprId, qualifier = a.qualifier,
          explicitMetadata = Some(a.metadata)))
      }.toMap
    Project(child.output ++ wexprs.map(e =>
      plainAliasByExpr.getOrElse(e, modeAliasByExpr(e))), withModes)
  }

  /** The per-key sibling of [[globalModeRel]]: one row per distinct
    * key combination with that group's mode-of(input) — per-(key,
    * value) counts (map-side combined; a hot key costs one combiner
    * slot per task), then a per-key argmax via the same struct-extreme
    * tie-break encoding. Returns the relation plus its key attributes
    * for the caller's join condition; the mode output attribute
    * carries the caller's generated exprId. */
  private def skewModeRel(base: LogicalPlan, partSpec: Seq[Expression],
                          input: Expression, tieSmallest: Boolean,
                          attr: AttributeReference): (LogicalPlan, Seq[Attribute]) = {
    import org.apache.spark.sql.catalyst.expressions.{CreateStruct, GetStructField, IsNotNull}
    val freshAliases: Seq[Alias] = base.output.map(a => Alias(a, a.name)())
    val subst = AttributeMap(base.output.zip(freshAliases.map(_.toAttribute)))
    def sub(e: Expression): Expression = e.transform {
      case a: Attribute => subst.getOrElse(a, a)
    }
    val keyAliases: Seq[Alias] = partSpec.zipWithIndex.map {
      case (e, i) => Alias(sub(e), s"__graft_mk$i")()
    }
    val vA = Alias(sub(input), "__graft_mode_v")()
    val proj = Project(keyAliases :+ vA, Project(freshAliases, base))
    val nonNull = org.apache.spark.sql.catalyst.plans.logical
      .Filter(IsNotNull(vA.toAttribute), proj)
    val keyAttrs: Seq[Attribute] = keyAliases.map(_.toAttribute)
    val cntA = Alias(AggregateExpression(Count(Seq(Literal(1))), Complete,
      isDistinct = false), "__graft_mode_c")()
    val counts = Aggregate(keyAttrs :+ vA.toAttribute,
      (keyAttrs :+ vA.toAttribute) :+ cntA, nonNull)
    val pair: Expression =
      if (tieSmallest) CreateStruct(Seq(UnaryMinus(cntA.toAttribute), vA.toAttribute))
      else CreateStruct(Seq(cntA.toAttribute, vA.toAttribute))
    val bestFn: AggregateFunction = if (tieSmallest) Min(pair) else Max(pair)
    val bestA = Alias(AggregateExpression(bestFn, Complete,
      isDistinct = false), "__graft_mode_s")()
    val arg = Aggregate(keyAttrs, keyAttrs :+ bestA, counts)
    val rel = Project(keyAttrs :+ Alias(GetStructField(bestA.toAttribute, 1),
      attr.name)(exprId = attr.exprId), arg)
    (rel, keyAttrs)
  }

  /** `Some(base)` iff `p` is structurally one of
    * [[rewriteSkewFrameAgg]]'s own join-backs over `base`, verified
    * 1:1 from the plan alone (no trust in provenance):
    *
    *  - `Project(_, Join(base, Aggregate(gk, aggList, Project(_, c)),
    *    Inner, cond))` with `c eq base` — the aggregate reads EXACTLY
    *    the base's rows (Project never filters; object identity pins
    *    the same-pass construction), so every base key combination has
    *    its group row: every left row matches AT LEAST one right row;
    *  - `cond` is a conjunction of `EqualNullSafe(leftExpr, keyAttr)`
    *    whose key attributes cover ALL of the aggregate's grouping
    *    keys (each grouping expression aliased by exactly one matched
    *    key output): a left row can match AT MOST one group row.
    *
    * Together: exactly one match per left row — the join preserves
    * base multiplicity, so aggregating over `base` and over `p` are
    * the same aggregation. */
  private def keyCompleteJoinBase(p: LogicalPlan): Option[LogicalPlan] = p match {
    case Project(_, Join(base,
        Aggregate(gk, aggList, Project(_, c), _), Inner, Some(cond), _))
        if c eq base =>
      val keyAliases: Seq[Alias] = aggList.collect {
        case a: Alias if !a.child.exists(_.isInstanceOf[AggregateExpression]) => a
      }
      val keyAttrById = keyAliases.map(a => a.exprId -> a).toMap
      def conjuncts(e: Expression): Seq[Expression] = e match {
        case And(l, r) => conjuncts(l) ++ conjuncts(r)
        case other => Seq(other)
      }
      val pairs = conjuncts(cond).map {
        case EqualNullSafe(le, ka: Attribute)
            if keyAttrById.contains(ka.exprId) &&
              le.references.subsetOf(base.outputSet) && le.deterministic =>
          Some(ka.exprId)
        case _ => None
      }
      val ok = pairs.forall(_.isDefined) && {
        val matched = pairs.flatten.toSet
        // every grouping key must be aliased by a MATCHED key output
        gk.forall(g => keyAliases.exists(a =>
          matched.contains(a.exprId) && a.child.semanticEquals(g)))
      }
      if (ok) Some(base) else None
    case _ => None
  }

  /** RANGE value bound → Long in the KEY's long domain, for
    * [[rangeMovAggOf]]: CurrentRow is 0; otherwise
    * a foldable integral expression (the parser's `k PRECEDING` arrives
    * as UnaryMinus(Literal(k)), the DataFrame API as a signed literal,
    * and the analyzer may wrap either in a cast to the key type).
    * INTERVAL-typed bounds fold to the key's own unit:
    *
    *  - DATE keys (int days): day-PURE intervals → days; sub-day or
    *    month-bearing intervals are not fixed day counts → WindowExec;
    *  - TIMESTAMP keys (long epoch micros, the r14 widening): any
    *    DayTimeInterval IS an exact micro count by definition, and a
    *    CalendarInterval is one iff it carries no month or day part
    *    (months vary in micros; CalendarInterval DAY parts add through
    *    the session zone, so only the micros field is zone-free).
    *    `INTERVAL '7' DAY` parses as DayTimeIntervalType under ANSI
    *    intervals (the Spark 4 default), so the production rolling-
    *    window shape folds exactly; month-bearing bounds keep
    *    WindowExec. */
  private def rangeValueBound(e: Expression,
                              keyType: org.apache.spark.sql.types.DataType): Option[Long] = {
    val usPerDay = 86400000000L
    val timeKey = PartitionedRangeMovingAgg.timeKey(keyType)
    // DECIMAL keys (r14): the key domain is the unscaled 10^-s lattice,
    // so ANY numeric foldable bound folds through BigDecimal to the
    // KEY's scale — exactly (setScale with no rounding) or not at all
    // (a bound finer than the key lattice is not a whole step count)
    keyType match {
      case k: org.apache.spark.sql.types.DecimalType if k.precision <= 18 =>
        return (e match {
          case CurrentRow => Some(java.math.BigDecimal.ZERO)
          case _ if e.foldable => Option(e.eval()).flatMap {
            case d: org.apache.spark.sql.types.Decimal =>
              Some(d.toJavaBigDecimal)
            case i: java.lang.Integer => Some(new java.math.BigDecimal(i.toString))
            case l: java.lang.Long => Some(new java.math.BigDecimal(l.toString))
            case s: java.lang.Short => Some(new java.math.BigDecimal(s.toString))
            case b: java.lang.Byte => Some(new java.math.BigDecimal(b.toString))
            case _ => None
          }
          case _ => None
        }).flatMap { bd =>
          try Some(bd.setScale(k.scale).unscaledValue().longValueExact())
          catch { case _: ArithmeticException => None }
        }
      case _ => ()
    }
    e match {
      case CurrentRow => Some(0L)
      case _ if e.foldable => e.dataType match {
        case IntegerType => Option(e.eval()).map(_.asInstanceOf[Int].toLong)
        case LongType => Option(e.eval()).map(_.asInstanceOf[Long])
        case org.apache.spark.sql.types.ShortType =>
          Option(e.eval()).map(_.asInstanceOf[Short].toLong)
        case org.apache.spark.sql.types.ByteType =>
          Option(e.eval()).map(_.asInstanceOf[Byte].toLong)
        case _: org.apache.spark.sql.types.DayTimeIntervalType =>
          if (timeKey) Option(e.eval()).map(_.asInstanceOf[Long]) // micros
          else Option(e.eval()).map(_.asInstanceOf[Long])
            .filter(_ % usPerDay == 0L).map(_ / usPerDay)
        case org.apache.spark.sql.types.CalendarIntervalType =>
          Option(e.eval())
            .map(_.asInstanceOf[org.apache.spark.unsafe.types.CalendarInterval])
            .flatMap { ci =>
              if (timeKey) {
                if (ci.months == 0 && ci.days == 0) Some(ci.microseconds)
                else None
              } else {
                if (ci.months == 0 && ci.microseconds == 0L) Some(ci.days.toLong)
                else None
              }
            }
        case _ => None
      }
      case _ => None
    }
  }

  /** Extent cap for the RANGE tiers, in the key's long domain:
    * `maxShiftOffset` key values on dense integral/day axes and
    * `maxShiftOffset` UNSCALED steps on compact-decimal axes (boundary
    * buffers are pigeonhole-bounded by the extent there), and
    * `maxShiftOffset` DAYS of micros on timestamp axes (where the
    * bound is the distinct timestamps inside the extent — see
    * [[PartitionedRangeMovingAgg.timeKey]]). */
  private def rangeExtentCap(keyType: org.apache.spark.sql.types.DataType): Long =
    if (PartitionedRangeMovingAgg.timeKey(keyType))
      maxShift.toLong * 86400000000L
    else maxShift.toLong

  /** [[force]]'s sibling for the keyed tier: apply BOTH the global
    * rewrite and the keyed rewrite to one DataFrame, unconditionally
    * and without session-conf side effects. Separate from [[force]] so
    * existing force() call sites keep their plans (the skew route costs
    * a range exchange + count job and must be chosen, not inherited). */
  def forceSkew(df: DataFrame): DataFrame = {
    val globalised = force(df)
    val spark = df.sparkSession
    GraftSqlBridge.ofRows(spark,
      rewriteSkew(mergeWindowChains(GraftSqlBridge.withCachedData(spark,
        globalised.queryExecution.analyzed))))
  }

  /** Merge same-spec window chains BEFORE matching (r15). The rewrite
    * runs on the ANALYZED plan, where a `.withColumn` chain leaves one
    * Window node per column with a pass-through Project between them —
    * so six same-frame moving sums planned SIX two-pass operator
    * instances (six boundary collects) instead of one batched node.
    * Dropping exact pass-through Projects and applying the optimizer's
    * own CollapseWindow to a fixed point restores the single-node
    * batching the operators were built for (their funcs are Seqs).
    * Projects that COMPUTE anything (q_cusum's n·p − i·t between its
    * window layers) are not pass-through and correctly block the merge. */
  private def mergeWindowChains(plan: LogicalPlan): LogicalPlan = {
    var p = plan
    var changed = true
    var i = 0
    while (changed && i < 16) {
      // CollapseProject first: withColumn leaves stacked Projects with
      // duplicated columns that are only pass-through once merged
      val collapsed =
        org.apache.spark.sql.catalyst.optimizer.CollapseProject(p)
      val dropped = collapsed.transformUp {
        case Project(list, c) if list == c.output => c
      }
      val n = org.apache.spark.sql.catalyst.optimizer.CollapseWindow(dropped)
      changed = !(n fastEquals p)
      p = n
      i += 1
    }
    p
  }

  /** Apply the global rewrite to ONE DataFrame, unconditionally and
    * without session-conf side effects — re-analyzes the rewritten plan
    * with the strategies registered, so the result plans and executes
    * like any other query. */
  def force(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    KeyedWindow.ensureStrategies(spark)
    GlobalFrameAgg.ensureStrategy(spark)
    GlobalExactPercentile.ensureStrategy(spark)
    // substitute cached subtrees FIRST (r16): the chain merge must see
    // pinned intermediates as InMemoryRelation leaves, or its
    // CollapseProject rewrites them and the cache lookup misses at
    // execution (q_bootstrap_ci's replicate pipeline ran twice)
    GraftSqlBridge.ofRows(spark,
      rewrite(mergeWindowChains(GraftSqlBridge.withCachedData(spark,
        df.queryExecution.analyzed))))
  }
}
