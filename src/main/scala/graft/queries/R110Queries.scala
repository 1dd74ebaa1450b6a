package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.core.Tables
import graft.queries.Queries.QueryDef
import graft.rules.RewriteGlobalRankWindows

/** Hundred-tenth wave — justified under the r7
  * no-new-wave-without-new-surface rule (SURVEY §7.2): the WHOLE-FRAME
  * global-window family [[graft.plans.GlobalFrameAgg]] (`agg(e) OVER
  * ()` — ratio-to-total — computed as partial buffers + driver merge +
  * broadcast evaluate, ZERO shuffle) and the ordered-allowlist widening
  * that routes `first_value`/`last_value` (IGNORE NULLS included)
  * through [[graft.plans.PartitionedRunningAgg]]'s prefix-merged buffers.
  * Late r12 added [[graft.plans.PartitionedNthValue]] (`nth_value` under
  * start-anchored frames: one global constant gated on frame length).
  * All queries are written with the BUILT-IN window functions and
  * routed through [[RewriteGlobalRankWindows.force]], so the rewrite
  * itself — not a hand-built plan — is what the DuckDB oracle checks.
  */
object R110Queries {

  /** `q_frameagg_rewrite`: revenue share-of-total per day — the
    * classic `sum(x) OVER ()` ratio-to-total, plus whole-frame
    * min/max/count, all in ONE [[graft.plans.GlobalFrameAggNode]] with
    * no exchange at all (plan-pinned). The per-mille share uses the
    * house scaled-BIGINT trunc-div idiom (`(x - x % d) / d`) so every
    * value is hash-comparable across engines. */
  val qFrameaggRewrite = QueryDef("q_frameagg_rewrite",
    (s, dir) => {
      val orders = Tables.load(s, dir, "orders")
      val daily = orders.groupBy(col("o_orderdate").cast("date").as("day"))
        .agg(sum(expr("CAST(round(o_totalprice * 100.0) AS BIGINT)"))
          .cast(LongType).as("cents"))
      val w = Window.partitionBy() // OVER (): the whole-frame window
      val totals = daily.select(col("day"), col("cents"),
        sum("cents").over(w).as("total_cents"),
        min("cents").over(w).as("min_cents"),
        max("cents").over(w).as("max_cents"),
        count(lit(1)).over(w).as("n_days"))
      RewriteGlobalRankWindows.force(totals)
        .select(col("day"), col("cents"), col("total_cents"),
          col("min_cents"), col("max_cents"), col("n_days"),
          ((col("cents") * 1000L - (col("cents") * 1000L) % col("total_cents"))
            / col("total_cents")).cast(LongType).as("share_pm"))
        .orderBy("day")
    },
    Some(
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |    CAST(sum(CAST(round(o_totalprice * 100.0) AS BIGINT)) AS BIGINT) AS cents
        |  FROM orders GROUP BY 1),
        |t AS (SELECT day, cents,
        |    CAST(sum(cents) OVER () AS BIGINT) AS total_cents,
        |    CAST(min(cents) OVER () AS BIGINT) AS min_cents,
        |    CAST(max(cents) OVER () AS BIGINT) AS max_cents,
        |    CAST(count(*) OVER () AS BIGINT) AS n_days
        |  FROM daily)
        |SELECT day, cents, total_cents, min_cents, max_cents, n_days,
        |  CAST((cents * 1000 - (cents * 1000) % total_cents) / total_cents AS BIGINT) AS share_pm
        |FROM t ORDER BY day""".stripMargin))

  /** `q_firstlast_rewrite`: first_value/last_value — plain AND IGNORE
    * NULLS — as RUNNING windows over unique days, routed through
    * [[graft.plans.PartitionedRunningAgg]] (the r12 ordered-allowlist
    * widening: First/Last prefix-merge exactly because the range
    * exchange + sort feed the driver merge in global order). The
    * nullable column is a deterministic function of the day
    * (`day-of-month % 3 = 0 -> NULL`), so both engines null the same
    * rows; day is unique after the rollup -> total order -> every
    * value exact. */
  val qFirstlastRewrite = QueryDef("q_firstlast_rewrite",
    (s, dir) => {
      val orders = Tables.load(s, dir, "orders")
      val daily = orders.groupBy(col("o_orderdate").cast("date").as("day"))
        .agg(sum(expr("CAST(round(o_totalprice * 100.0) AS BIGINT)"))
          .cast(LongType).as("cents"))
        .select(col("day"), col("cents"),
          when(dayofmonth(col("day")) % 3 === 0, lit(null).cast(LongType))
            .otherwise(col("cents")).as("cents_nn"))
      // default frame = RANGE UNBOUNDED PRECEDING .. CURRENT ROW
      val w = Window.orderBy(col("day"))
      val fl = daily.select(col("day"), col("cents"), col("cents_nn"),
        first(col("cents")).over(w).as("first_cents"),
        last(col("cents")).over(w).as("last_cents"),
        first(col("cents_nn"), ignoreNulls = true).over(w).as("first_nn"),
        last(col("cents_nn"), ignoreNulls = true).over(w).as("last_nn"))
      RewriteGlobalRankWindows.force(fl).orderBy("day")
    },
    Some(
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |    CAST(sum(CAST(round(o_totalprice * 100.0) AS BIGINT)) AS BIGINT) AS cents
        |  FROM orders GROUP BY 1),
        |k AS (SELECT day, cents,
        |    CASE WHEN CAST(date_part('day', day) AS INT) % 3 = 0
        |      THEN NULL ELSE cents END AS cents_nn
        |  FROM daily)
        |SELECT day, cents, cents_nn,
        |  CAST(first_value(cents) OVER w AS BIGINT) AS first_cents,
        |  CAST(last_value(cents) OVER w AS BIGINT) AS last_cents,
        |  CAST(first_value(cents_nn IGNORE NULLS) OVER w AS BIGINT) AS first_nn,
        |  CAST(last_value(cents_nn IGNORE NULLS) OVER w AS BIGINT) AS last_nn
        |FROM k WINDOW w AS (ORDER BY day) ORDER BY day""".stripMargin))

  /** `q_nthvalue_rewrite`: `nth_value` — plain, IGNORE NULLS, and
    * whole-frame — through [[graft.plans.PartitionedNthValue]]: the k-th
    * (non-null) row of the ordered input is ONE global constant, and
    * each row shows it iff its frame already reaches k rows. Day is
    * unique after the rollup -> total order -> exact; the nullable
    * column reuses the deterministic day-of-month % 3 pattern; k=7 /
    * k=5 sit early (constant found in the first partitions), k=400
    * sits deep (prefix telescoping crosses partitions at sf>=0.001's
    * ~1100 days). */
  val qNthvalueRewrite = QueryDef("q_nthvalue_rewrite",
    (s, dir) => {
      val orders = Tables.load(s, dir, "orders")
      val daily = orders.groupBy(col("o_orderdate").cast("date").as("day"))
        .agg(sum(expr("CAST(round(o_totalprice * 100.0) AS BIGINT)"))
          .cast(LongType).as("cents"))
        .select(col("day"), col("cents"),
          when(dayofmonth(col("day")) % 3 === 0, lit(null).cast(LongType))
            .otherwise(col("cents")).as("cents_nn"))
      val w = Window.orderBy(col("day"))
      val wf = Window.orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val nth = daily.select(col("day"), col("cents"),
        nth_value(col("cents"), 7).over(w).as("n7"),
        nth_value(col("cents"), 400).over(w).as("n400"),
        nth_value(col("cents_nn"), 5, ignoreNulls = true).over(w).as("n5nn"),
        nth_value(col("cents"), 30).over(wf).as("n30w"))
      RewriteGlobalRankWindows.force(nth).orderBy("day")
    },
    Some(
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |    CAST(sum(CAST(round(o_totalprice * 100.0) AS BIGINT)) AS BIGINT) AS cents
        |  FROM orders GROUP BY 1),
        |k AS (SELECT day, cents,
        |    CASE WHEN CAST(date_part('day', day) AS INT) % 3 = 0
        |      THEN NULL ELSE cents END AS cents_nn
        |  FROM daily)
        |SELECT day, cents,
        |  CAST(nth_value(cents, 7) OVER w AS BIGINT) AS n7,
        |  CAST(nth_value(cents, 400) OVER w AS BIGINT) AS n400,
        |  CAST(nth_value(cents_nn, 5 IGNORE NULLS) OVER w AS BIGINT) AS n5nn,
        |  CAST(nth_value(cents, 30) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS BIGINT) AS n30w
        |FROM k WINDOW w AS (ORDER BY day) ORDER BY day""".stripMargin))

  /** `q_shiftnn_rewrite`: `lag ... IGNORE NULLS` through
    * [[graft.plans.PartitionedShift]]'s non-null ring (late r12, lag-only —
    * the lead mirror needs unbounded lookahead and keeps WindowExec).
    * The nullable column is the deterministic day-of-month % 3
    * pattern, so ~1/3 of days are null and boundary telescoping
    * crosses null runs; a plain lag rides the same node (mixed
    * plain + IGNORE NULLS, one exec, one exchange — plan-pinned).
    * Defaults stay NULL: DuckDB 1.0.0 parses `lag(x, k IGNORE NULLS)`
    * but not a default argument combined with it. */
  val qShiftnnRewrite = QueryDef("q_shiftnn_rewrite",
    (s, dir) => {
      val orders = Tables.load(s, dir, "orders")
      val daily = orders.groupBy(col("o_orderdate").cast("date").as("day"))
        .agg(sum(expr("CAST(round(o_totalprice * 100.0) AS BIGINT)"))
          .cast(LongType).as("cents"))
        .select(col("day"), col("cents"),
          when(dayofmonth(col("day")) % 3 === 0, lit(null).cast(LongType))
            .otherwise(col("cents")).as("cents_nn"))
      val w = Window.orderBy(col("day"))
      val shifted = daily.select(col("day"), col("cents"), col("cents_nn"),
        lag(col("cents_nn"), 1, null, ignoreNulls = true).over(w).as("nn1"),
        lag(col("cents_nn"), 3, null, ignoreNulls = true).over(w).as("nn3"),
        lag("cents", 1).over(w).as("plain1"))
      RewriteGlobalRankWindows.force(shifted).orderBy("day")
    },
    Some(
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |    CAST(sum(CAST(round(o_totalprice * 100.0) AS BIGINT)) AS BIGINT) AS cents
        |  FROM orders GROUP BY 1),
        |k AS (SELECT day, cents,
        |    CASE WHEN CAST(date_part('day', day) AS INT) % 3 = 0
        |      THEN NULL ELSE cents END AS cents_nn
        |  FROM daily)
        |SELECT day, cents, cents_nn,
        |  CAST(lag(cents_nn, 1 IGNORE NULLS) OVER w AS BIGINT) AS nn1,
        |  CAST(lag(cents_nn, 3 IGNORE NULLS) OVER w AS BIGINT) AS nn3,
        |  CAST(lag(cents, 1) OVER w AS BIGINT) AS plain1
        |FROM k WINDOW w AS (ORDER BY day) ORDER BY day""".stripMargin))

  /** `q_frameagg_sketch`: the BOUNDED-SKETCH whole-frame tier —
    * `approx_count_distinct(custkey) OVER ()` (HLL++, bit-identical
    * under any partitioning) and `approx_percentile(cents, 0.5) OVER
    * ()` (GK summary, exact within its rank-error bound) over the raw
    * orders table, with zero shuffle. Rows-only by design: DuckDB's
    * approx sketches are different algorithms, so cross-engine hashes
    * cannot match — the accuracy contract (estimate vs exact distinct
    * count / exact median) lives in RowsOnlyContractSpec, the same
    * treatment as the KMV/theta sketch queries. The exact `n_orders`
    * column rides along so the single output row still pins something
    * bit-checkable in the contract. */
  val qFrameaggSketch = QueryDef("q_frameagg_sketch",
    (s, dir) => {
      val orders = Tables.load(s, dir, "orders")
      val base = orders.select(col("o_custkey"),
        expr("CAST(round(o_totalprice * 100.0) AS BIGINT)").as("cents"))
      val w = Window.partitionBy()
      val sk = base.select(
        // rsd 0.01 → ~1% expected error, comfortably inside the
        // contract's 5% band (the default 5% rsd sits ON the band)
        approx_count_distinct(col("o_custkey"), 0.01).over(w).as("acd_cust"),
        expr("approx_percentile(cents, 0.5, 10000)").over(w).as("med_cents"),
        count(lit(1)).over(w).as("n_orders"))
      RewriteGlobalRankWindows.force(sk).distinct()
    },
    None)

  /** `q_pctexact_rewrite`: EXACT whole-frame percentiles through
    * [[graft.plans.GlobalExactPercentile]] — `percentile(cents, p)
    * OVER ()` and `median OVER ()` found by iterative histogram
    * narrowing (zero shuffle, no sort, no corpus-sized driver state),
    * checked against DuckDB's `quantile_cont`. The percentages stay
    * on quarter fractions: p*(N-1) and the interpolation weights are
    * then power-of-two-denominator doubles, so both engines'
    * interpolation arithmetic is EXACT on integer cents (< 2^53) and
    * the hash compare is safe — the same reasoning as the house
    * trunc-div rule, applied to type-7 quantiles. p=0.9 and friends
    * (inexact fractions) are covered by the bit-for-bit spec against
    * Spark's own built-in instead. */
  val qPctexactRewrite = QueryDef("q_pctexact_rewrite",
    (s, dir) => {
      val orders = Tables.load(s, dir, "orders")
      val daily = orders.groupBy(col("o_orderdate").cast("date").as("day"))
        .agg(sum(expr("CAST(round(o_totalprice * 100.0) AS BIGINT)"))
          .cast(LongType).as("cents"))
      val w = Window.partitionBy()
      val pct = daily.select(
        expr("percentile(cents, 0.25)").over(w).as("p25"),
        expr("percentile(cents, 0.5)").over(w).as("p50"),
        expr("percentile(cents, 0.75)").over(w).as("p75"),
        expr("median(cents)").over(w).as("med"),
        count(lit(1)).over(w).as("n_days"))
      RewriteGlobalRankWindows.force(pct).distinct()
    },
    Some(
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |    CAST(sum(CAST(round(o_totalprice * 100.0) AS BIGINT)) AS BIGINT) AS cents
        |  FROM orders GROUP BY 1)
        |SELECT quantile_cont(cents, 0.25) AS p25,
        |  quantile_cont(cents, 0.5) AS p50,
        |  quantile_cont(cents, 0.75) AS p75,
        |  quantile_cont(cents, 0.5) AS med,
        |  CAST(count(*) AS BIGINT) AS n_days
        |FROM daily""".stripMargin))

  val all: Seq[QueryDef] =
    Seq(qFrameaggRewrite, qFirstlastRewrite, qNthvalueRewrite,
      qShiftnnRewrite, qFrameaggSketch, qPctexactRewrite)
}
