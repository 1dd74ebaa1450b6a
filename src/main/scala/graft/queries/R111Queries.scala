package graft.queries

import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.queries.Queries.QueryDef
import graft.rules.RewriteGlobalRankWindows

/** Hundred-eleventh wave (r13) — justified under the §7.2
  * no-new-wave-without-new-surface rule by the round's new physical
  * surface: [[graft.plans.PartitionedRangeMovingAgg]], the dense-domain
  * RANGE-moving-frame tier (VERDICT r12 task 3 — previously the larger
  * documented non-rewrite: value-bounded frames kept the
  * single-partition WindowExec because boundary state in ROWS is
  * density-unbounded; shipping per-KEY partial buffers bounds it by
  * the VALUE extent instead). Queries are written with the BUILT-IN
  * window functions and routed through
  * [[RewriteGlobalRankWindows.force]], so the rewrite itself — not a
  * hand-built plan — is what the DuckDB oracle checks.
  */
object R111Queries {

  /** `q_rangemov_rewrite`: value-windowed daily revenue statistics —
    * `RANGE BETWEEN 3 PRECEDING AND 1 FOLLOWING` (and two sibling
    * frames) over a GAPPY day-number axis. The `dayn % 10 < 6` filter
    * punches 4-day holes in the calendar so RANGE frames genuinely
    * differ from ROWS frames (a dense axis would make them
    * indistinguishable and the oracle row vacuous as a RANGE check).
    * All arithmetic stays on the cents-BIGINT lattice — no floats to
    * hash. */
  val qRangemovRewrite = QueryDef("q_rangemov_rewrite",
    (s, dir) => {
      val orders = Tables.load(s, dir, "orders")
      val daily = orders
        .select(datediff(col("o_orderdate").cast("date"),
          lit("1992-01-01").cast("date")).cast("long").as("dayn"),
          expr("CAST(round(o_totalprice * 100.0) AS BIGINT)").as("c"))
        .where(col("dayn") % 10 < 6) // gappy: 4-day hole each decade
        .groupBy("dayn").agg(sum(col("c")).cast("long").as("cents"))
      val w31 = org.apache.spark.sql.expressions.Window
        .orderBy("dayn").rangeBetween(-3, 1)
      val w20 = org.apache.spark.sql.expressions.Window
        .orderBy("dayn").rangeBetween(-2, 0)
      val w12 = org.apache.spark.sql.expressions.Window
        .orderBy("dayn").rangeBetween(1, 2)
      RewriteGlobalRankWindows.force(daily.select(col("dayn"), col("cents"),
        sum("cents").over(w31).as("win_sum"),
        count(lit(1)).over(w20).cast("long").as("win_n"),
        min("cents").over(w12).as("fut_min")))
        .orderBy("dayn")
    },
    Some(
      """WITH daily AS (
        |  SELECT CAST(date_diff('day', DATE '1992-01-01',
        |           CAST(o_orderdate AS DATE)) AS BIGINT) AS dayn,
        |    CAST(sum(CAST(round(o_totalprice * 100.0) AS BIGINT)) AS BIGINT)
        |      AS cents
        |  FROM orders
        |  WHERE CAST(date_diff('day', DATE '1992-01-01',
        |          CAST(o_orderdate AS DATE)) AS BIGINT) % 10 < 6
        |  GROUP BY 1)
        |SELECT dayn, cents,
        |  CAST(sum(cents) OVER (ORDER BY dayn
        |    RANGE BETWEEN 3 PRECEDING AND 1 FOLLOWING) AS BIGINT) AS win_sum,
        |  CAST(count(*) OVER (ORDER BY dayn
        |    RANGE BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT) AS win_n,
        |  CAST(min(cents) OVER (ORDER BY dayn
        |    RANGE BETWEEN 1 FOLLOWING AND 2 FOLLOWING) AS BIGINT) AS fut_min
        |FROM daily ORDER BY dayn""".stripMargin))

  /** `q_pctexact_decimal`: exact percentiles over a DECIMAL(18,2)
    * money column through the r13 decimal tier of
    * [[graft.plans.GlobalExactPercentile]] (VERDICT r12 task 4 —
    * unscaled-long selection keys). Hash safety: the decimal values
    * are exact binary quarters (k/4 at scale 2: .00/.25/.50/.75), the
    * percentages are quarter fractions, so `p*(N-1)`, both
    * interpolation weights, the `Decimal.toDouble` endpoints, and
    * every product/sum are EXACT doubles — both engines' type-7
    * interpolation agrees bit-for-bit regardless of how each
    * associates the formula (the q_pctexact_rewrite argument carried
    * onto decimals). The DuckDB side computes the same values in
    * plain DOUBLE (`q/4.0`), keeping the oracle SQL decimal-free per
    * the fragility guard; only the SPARK side exercises the decimal
    * key path. Negatives included (`q - 199`): the unscaled-long key
    * must order signed values correctly. */
  val qPctexactDecimal = QueryDef("q_pctexact_decimal",
    (s, dir) => {
      val orders = Tables.load(s, dir, "orders")
      val dec = orders.select(
        ((expr("CAST(round(o_totalprice) AS BIGINT)") % 397L - 199L)
          .cast("decimal(18,0)") / 4).cast("decimal(18,2)").as("m"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy()
      RewriteGlobalRankWindows.force(dec.select(
        expr("percentile(m, 0.25)").over(w).as("p25"),
        expr("percentile(m, 0.5)").over(w).as("p50"),
        expr("percentile(m, 0.75)").over(w).as("p75"),
        expr("median(m)").over(w).as("med"),
        count(lit(1)).over(w).cast("long").as("n")))
        .distinct()
    },
    Some(
      """WITH t AS (
        |  SELECT CAST(CAST(round(o_totalprice) AS BIGINT) % 397 - 199 AS DOUBLE)
        |    / 4.0 AS m
        |  FROM orders)
        |SELECT quantile_cont(m, 0.25) AS p25,
        |  quantile_cont(m, 0.5) AS p50,
        |  quantile_cont(m, 0.75) AS p75,
        |  quantile_cont(m, 0.5) AS med,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM t""".stripMargin))

  /** `q_skewrank_rewrite`: per-key event sequencing under a HOT key —
    * the r13 skew tier ([[graft.plans.PartitionedRank]], VERDICT r12
    * task 6). A third of all users fold into key -1, so the built-in
    * hash-clustered WindowExec would push ~1/3 of the corpus through
    * ONE task; `RewriteGlobalRankWindows.forceSkew` routes the window
    * through the composite `(k, v)` range sub-split with per-key
    * offset stitching instead (PlanShapeSpec pins the shape). The
    * window order ends on the unique event_id, so row_number is
    * deterministic; the per-key rollup keeps the oracle row small
    * while `sum(rn * cents)` pins the FULL rank assignment, not just
    * the extremes. */
  val qSkewrankRewrite = QueryDef("q_skewrank_rewrite",
    (s, dir) => {
      val ev = Tables.events(s, dir).select(
        when(col("user_id") % 3 === 0, lit(-1L))
          .otherwise(col("user_id")).as("k"),
        expr("CAST(round(value * 100.0) AS BIGINT)").as("cents"),
        col("event_id"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("k").orderBy(col("cents"), col("event_id"))
      RewriteGlobalRankWindows.forceSkew(ev.select(col("k"), col("cents"),
        row_number().over(w).cast("long").as("rn"),
        rank().over(w).cast("long").as("rk"),
        dense_rank().over(w).cast("long").as("dr")))
        .groupBy("k")
        .agg(count(lit(1)).cast("long").as("n"),
          max(col("rk")).as("max_rk"),
          max(col("dr")).as("n_distinct"),
          sum(col("rn") * col("cents")).cast("long").as("rank_checksum"))
        .orderBy("k")
    },
    Some(
      """WITH ev AS (
        |  SELECT CASE WHEN user_id % 3 = 0 THEN -1 ELSE user_id END AS k,
        |    CAST(round(value * 100.0) AS BIGINT) AS cents, event_id
        |  FROM events),
        |ranked AS (
        |  SELECT k, cents,
        |    CAST(row_number() OVER (PARTITION BY k ORDER BY cents, event_id)
        |      AS BIGINT) AS rn,
        |    CAST(rank() OVER (PARTITION BY k ORDER BY cents, event_id)
        |      AS BIGINT) AS rk,
        |    CAST(dense_rank() OVER (PARTITION BY k ORDER BY cents, event_id)
        |      AS BIGINT) AS dr
        |  FROM ev)
        |SELECT k, CAST(count(*) AS BIGINT) AS n, max(rk) AS max_rk,
        |  max(dr) AS n_distinct,
        |  CAST(sum(rn * cents) AS BIGINT) AS rank_checksum
        |FROM ranked GROUP BY k ORDER BY k""".stripMargin))

  /** `q_skewrunagg_rewrite`: per-key CUMULATIVE statistics under the
    * same hot key as `q_skewrank_rewrite`, through the skew tier's
    * running-aggregate member ([[graft.plans.PartitionedRunningAgg]]).
    * Row-level output on purpose — every one of the hot key's
    * cumulative values crosses the stitched partition boundaries, so
    * the DuckDB hash checks the full prefix stitching, not a rollup.
    * The window order ends on the unique event_id (deterministic ROWS
    * frame); first_value rides the same node, pinning the ordered
    * prefix merge's keep-left exactness. All-BIGINT lattice. */
  val qSkewrunaggRewrite = QueryDef("q_skewrunagg_rewrite",
    (s, dir) => {
      val ev = Tables.events(s, dir).select(
        when(col("user_id") % 3 === 0, lit(-1L))
          .otherwise(col("user_id")).as("k"),
        expr("CAST(round(value * 100.0) AS BIGINT)").as("cents"),
        col("event_id"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("k").orderBy(col("cents"), col("event_id"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      RewriteGlobalRankWindows.forceSkew(ev.select(col("k"), col("event_id"),
        sum("cents").over(w).cast("long").as("cum_cents"),
        count(lit(1)).over(w).cast("long").as("cum_n"),
        min("cents").over(w).cast("long").as("cum_min"),
        first("cents").over(w).cast("long").as("first_cents")))
        .orderBy("k", "event_id")
    },
    Some(
      """WITH ev AS (
        |  SELECT CASE WHEN user_id % 3 = 0 THEN -1 ELSE user_id END AS k,
        |    CAST(round(value * 100.0) AS BIGINT) AS cents, event_id
        |  FROM events)
        |SELECT k, event_id,
        |  CAST(sum(cents) OVER w AS BIGINT) AS cum_cents,
        |  CAST(count(*) OVER w AS BIGINT) AS cum_n,
        |  CAST(min(cents) OVER w AS BIGINT) AS cum_min,
        |  CAST(first_value(cents) OVER w AS BIGINT) AS first_cents
        |FROM ev
        |WINDOW w AS (PARTITION BY k ORDER BY cents, event_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY k, event_id""".stripMargin))

  /** `q_leadnn_rewrite`: `lead ... IGNORE NULLS` through the late-r13
    * [[graft.plans.PartitionedLookahead]] — the offset family's LAST
    * retired refusal (the r12 lag-only mirror documented "the lead
    * form needs unbounded lookahead"; the zipped lead/lag pass holds k
    * VALUES, never the null-run row gap). Same deterministic
    * day-of-month % 3 null pattern as `q_shiftnn_rewrite`, so ~1/3 of
    * days are null and the k=3 lookahead routinely crosses null runs
    * and partition heads; a plain lead rides GlobalShift in the same
    * window (two stacked execs, one exchange — plan-pinned). Defaults
    * stay NULL: DuckDB 1.0.0 parses `lead(x, k IGNORE NULLS)` but not
    * a default combined with it. */
  val qLeadnnRewrite = QueryDef("q_leadnn_rewrite",
    (s, dir) => {
      val orders = Tables.load(s, dir, "orders")
      val daily = orders.groupBy(col("o_orderdate").cast("date").as("day"))
        .agg(sum(expr("CAST(round(o_totalprice * 100.0) AS BIGINT)"))
          .cast("long").as("cents"))
        .select(col("day"), col("cents"),
          when(dayofmonth(col("day")) % 3 === 0, lit(null).cast("long"))
            .otherwise(col("cents")).as("cents_nn"))
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("day"))
      val shifted = daily.select(col("day"), col("cents"), col("cents_nn"),
        lead(col("cents_nn"), 1, null, ignoreNulls = true).over(w).as("nn1"),
        lead(col("cents_nn"), 3, null, ignoreNulls = true).over(w).as("nn3"),
        lead("cents", 1).over(w).as("plain1"))
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
        |  CAST(lead(cents_nn, 1 IGNORE NULLS) OVER w AS BIGINT) AS nn1,
        |  CAST(lead(cents_nn, 3 IGNORE NULLS) OVER w AS BIGINT) AS nn3,
        |  CAST(lead(cents, 1) OVER w AS BIGINT) AS plain1
        |FROM k WINDOW w AS (ORDER BY day) ORDER BY day""".stripMargin))

  /** `q_skewpct_rewrite`: the skew tier's TOTAL-dependent modes
    * (late r13 — percent_rank/cume_dist/ntile under the hot key).
    * Each key's denominator comes from the driver's second stitching
    * direction (boundary-straddling keys) or the zipped key/group
    * leads (interior keys); row-level output puts every stitched
    * denominator on the DuckDB hash. percent_rank/cume_dist are
    * tie-exact over the coarse cents order (both engines compute one
    * division of identical BIGINTs — bit-equal doubles); ntile is
    * positional and rides its own total-order window. */
  val qSkewpctRewrite = QueryDef("q_skewpct_rewrite",
    (s, dir) => {
      val ev = Tables.events(s, dir).select(
        when(col("user_id") % 3 === 0, lit(-1L))
          .otherwise(col("user_id")).as("k"),
        (expr("CAST(round(value * 100.0) AS BIGINT)") % 50L).as("cbin"),
        col("event_id"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("k").orderBy(col("cbin"))
      val wT = org.apache.spark.sql.expressions.Window
        .partitionBy("k").orderBy(col("cbin"), col("event_id"))
      RewriteGlobalRankWindows.forceSkew(ev.select(col("k"), col("event_id"),
        col("cbin"),
        percent_rank().over(w).as("pr"),
        cume_dist().over(w).as("cd"),
        ntile(5).over(wT).cast("long").as("nt")))
        .orderBy("k", "event_id")
    },
    Some(
      """WITH ev AS (
        |  SELECT CASE WHEN user_id % 3 = 0 THEN -1 ELSE user_id END AS k,
        |    CAST(round(value * 100.0) AS BIGINT) % 50 AS cbin, event_id
        |  FROM events)
        |SELECT k, event_id, cbin,
        |  percent_rank() OVER (PARTITION BY k ORDER BY cbin) AS pr,
        |  cume_dist() OVER (PARTITION BY k ORDER BY cbin) AS cd,
        |  CAST(ntile(5) OVER (PARTITION BY k ORDER BY cbin, event_id)
        |    AS BIGINT) AS nt
        |FROM ev ORDER BY k, event_id""".stripMargin))

  /** `q_skewshift_rewrite`: per-key event DELTAS under the hot key —
    * the skew tier's lead/lag member ([[graft.plans.PartitionedShift]],
    * late r13). Row-level output: every one of the hot key's shifted
    * values — including the ones chained across the range sub-split's
    * partition boundaries — is on the DuckDB hash; key-boundary
    * lookups must come back NULL (the key-matched chains), pinned by
    * the small per-user keys riding next to the hot key. Total order
    * (cents, event_id) for deterministic offsets; all-BIGINT. */
  val qSkewshiftRewrite = QueryDef("q_skewshift_rewrite",
    (s, dir) => {
      val ev = Tables.events(s, dir).select(
        when(col("user_id") % 3 === 0, lit(-1L))
          .otherwise(col("user_id")).as("k"),
        expr("CAST(round(value * 100.0) AS BIGINT)").as("cents"),
        col("event_id"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("k").orderBy(col("cents"), col("event_id"))
      RewriteGlobalRankWindows.forceSkew(ev.select(col("k"), col("event_id"),
        col("cents"),
        lag("cents", 1).over(w).as("prev1"),
        lag("cents", 5).over(w).as("prev5"),
        lead("cents", 1).over(w).as("next1"),
        (col("cents") - lag("cents", 1).over(w)).as("delta")))
        .orderBy("k", "event_id")
    },
    Some(
      """WITH ev AS (
        |  SELECT CASE WHEN user_id % 3 = 0 THEN -1 ELSE user_id END AS k,
        |    CAST(round(value * 100.0) AS BIGINT) AS cents, event_id
        |  FROM events)
        |SELECT k, event_id, cents,
        |  CAST(lag(cents, 1) OVER w AS BIGINT) AS prev1,
        |  CAST(lag(cents, 5) OVER w AS BIGINT) AS prev5,
        |  CAST(lead(cents, 1) OVER w AS BIGINT) AS next1,
        |  CAST(cents - lag(cents, 1) OVER w AS BIGINT) AS delta
        |FROM ev
        |WINDOW w AS (PARTITION BY k ORDER BY cents, event_id)
        |ORDER BY k, event_id""".stripMargin))

  val all: Seq[QueryDef] =
    Seq(qRangemovRewrite, qPctexactDecimal, qSkewrankRewrite,
      qSkewrunaggRewrite, qLeadnnRewrite, qSkewpctRewrite,
      qSkewshiftRewrite)
}
