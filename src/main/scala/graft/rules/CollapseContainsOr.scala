package graft.rules

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Contains, Expression, ExpressionInfo, Literal, Or}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{ContainsAny, CosineSim, ExtractHrefs}

/** Optimizer rule: collapse `c.contains(w1) OR c.contains(w2) OR ...`
  * (>= 3 branches over the same column) into one [[ContainsAny]] pass.
  *
  * Rationale: the reference's 28-word blacklist written with built-ins
  * becomes a 28-deep `Or(Contains(...))` tree — 28 scans of the string in
  * the worst case and a deep codegen tree. The collapsed form scans once
  * per word with early exit inside a single codegen'd expression. Queries
  * written directly against [[graft.core.LinkOps.hitsBlacklist]] already
  * get this; the rule extends it to user SQL/DataFrame code composed from
  * built-ins. Registered via [[GraftExtensions]]
  * (`spark.sql.extensions=graft.rules.GraftExtensions`) or
  * `spark.experimental.extraOptimizations`.
  */
object CollapseContainsOr extends Rule[LogicalPlan] {

  /** Returns (child, words) iff `e` is entirely an OR of Contains(child,
    * string-literal) over one semantically-equal child. */
  private def collect(e: Expression): Option[(Expression, Seq[String])] = e match {
    case Or(l, r) =>
      for {
        (cl, wl) <- collect(l)
        (cr, wr) <- collect(r)
        if cl.semanticEquals(cr)
      } yield (cl, wl ++ wr)
    case Contains(c, Literal(w: UTF8String, StringType)) =>
      Some((c, Seq(w.toString)))
    case ContainsAny(c, ws) => Some((c, ws))
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case e: Or => collect(e) match {
        case Some((c, ws)) if ws.size >= 3 => ContainsAny(c, ws)
        case _ => e
      }
    }
}

/** Session extensions: inject the optimizer rule + register the
  * `contains_any(str, w1, w2, ...)` SQL function (word args must be
  * string literals) and the `extract_hrefs(html)` generator (usable in
  * `LATERAL VIEW` / `SELECT extract_hrefs(html) ...`). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => CollapseContainsOr)
    // the whole-operator extensions (LogicalPlan + Strategy + Exec) —
    // injected here so a `spark.sql.extensions` deployment gets them
    // at session build; the lazy experimental.extraStrategies
    // registration in graft.plans.* remains for ad-hoc sessions
    e.injectPlannerStrategy(_ => graft.plans.RangeJoinStrategy)
    e.injectPlannerStrategy(_ => graft.plans.TopKStrategy)
    e.injectPlannerStrategy(_ => graft.plans.AsofJoinStrategy)
    e.injectPlannerStrategy(_ => graft.plans.GlobalFrameAggStrategy)
    e.injectPlannerStrategy(_ => graft.plans.GlobalExactPercentileStrategy)
    graft.plans.KeyedWindow.strategies.foreach(s => e.injectPlannerStrategy(_ => s))
    // conf-gated (spark.graft.rewrite.globalRankWindows and
    // .partitionedRankWindows, default off): rewrite funnel-shaped
    // windows into the keyed window tier. Pre-CBO, not
    // operator-optimization: it runs ONCE, after pushdowns and window
    // collapsing settle, and introduces nodes the operator batch's
    // rules should not have to re-walk.
    e.injectPreCBORule(_ => RewriteGlobalRankWindows)
    e.injectFunction((
      new FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSim].getName, "cosine_sim"),
      (exprs: Seq[Expression]) => {
        require(exprs.size == 2, "cosine_sim takes exactly two arguments")
        CosineSim(exprs.head, exprs(1))
      }))
    e.injectFunction((
      new FunctionIdentifier("extract_hrefs"),
      new ExpressionInfo(classOf[ExtractHrefs].getName, "extract_hrefs"),
      (exprs: Seq[Expression]) => {
        require(exprs.size == 1, "extract_hrefs takes exactly one argument")
        ExtractHrefs(exprs.head)
      }))
    e.injectFunction((
      new FunctionIdentifier("contains_any"),
      new ExpressionInfo(classOf[ContainsAny].getName, "contains_any"),
      (exprs: Seq[Expression]) => ContainsAny(exprs.head,
        exprs.tail.map {
          case Literal(w: UTF8String, StringType) => w.toString
          case other => throw new IllegalArgumentException(
            s"contains_any words must be string literals, got $other")
        })))
    e.injectFunction((
      new FunctionIdentifier("top_k_by_count"),
      new ExpressionInfo(classOf[graft.functions.TopKByCount].getName,
        "top_k_by_count"),
      (exprs: Seq[Expression]) => {
        require(exprs.size == 2,
          "top_k_by_count(col, k) takes exactly two arguments")
        val k = exprs(1) match {
          case Literal(i: Int, org.apache.spark.sql.types.IntegerType) => i
          case other => throw new IllegalArgumentException(
            s"top_k_by_count k must be an integer literal, got $other")
        }
        graft.functions.TopKByCount(exprs.head, k).toAggregateExpression()
      }))
  }
}
