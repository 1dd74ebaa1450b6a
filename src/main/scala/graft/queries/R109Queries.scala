package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.core.Tables
import graft.queries.Queries.QueryDef
import graft.rules.RewriteGlobalRankWindows

/** Hundred-ninth wave — justified under the r7
  * no-new-wave-without-new-surface rule (SURVEY §7.2): the rank-family
  * generalization of [[graft.plans.PartitionedRank]] (rank / dense_rank /
  * percent_rank / cume_dist / ntile, tie-aware, one two-pass operator),
  * the distributed offset-window operator [[graft.plans.PartitionedShift]]
  * (global lead/lag with bounded boundary state), and the
  * [[graft.rules.RewriteGlobalRankWindows]] optimizer rule that turns
  * unpartitioned rank/offset windows INTO them. All queries here are
  * written with the BUILT-IN window functions and routed through the
  * rule's `force()` path, so the rewrite itself — not a hand-built
  * plan — is what the DuckDB oracle checks.
  *
  *  - `q_rank_family`: per-customer order counts (heavy ties by
  *    construction) ranked globally by rank/dense_rank/percent_rank/
  *    cume_dist.
  *    The tie-aware values are functions of the order key alone, so the
  *    DISTINCT projection is deterministic despite arbitrary tie order
  *    — this is the query shape that PROVES the range-exchange tie
  *    containment (a tie group never straddles partitions) end-to-end
  *    against an independent engine.
  *
  *  - `q_ntile_rewrite`: per-customer spend under a TOTAL order
  *    (unique tiebreak key), bucketed by the rewritten ntile(5) +
  *    row_number, then rolled up per bucket — pins the SQL-standard
  *    first-`n mod k`-buckets-get-the-extra-row fill and the exact
  *    1..n positions produced by the two-pass offsets.
  *
  * Plan shape for both is pinned in PlanShapeSpec: zero WindowExec,
  * ONE PartitionedRankExec (all functions of a window node land in one
  * operator, one range shuffle).
  */
object R109Queries {

  val qRankFamily = QueryDef("q_rank_family",
    (s, dir) => {
      val orders = Tables.load(s, dir, "orders")
      // ENTITY-bounded input (per-customer rollup) with guaranteed tie
      // groups: many customers share an order count
      val base = orders.groupBy(col("o_custkey"))
        .agg(count(lit(1)).cast(LongType).as("cnt"))
      val w = Window.orderBy(col("cnt"))
      val windowed = base.select(col("cnt"),
        rank().over(w).as("rnk"),
        dense_rank().over(w).as("drnk"),
        percent_rank().over(w).as("prnk"),
        cume_dist().over(w).as("cd"))
      RewriteGlobalRankWindows.force(windowed)
        .distinct().orderBy("cnt")
    },
    Some(
      """WITH base AS (
        |  SELECT o_custkey, CAST(count(*) AS BIGINT) AS cnt
        |  FROM orders GROUP BY 1),
        |r AS (SELECT cnt,
        |    CAST(rank() OVER (ORDER BY cnt) AS INT) AS rnk,
        |    CAST(dense_rank() OVER (ORDER BY cnt) AS INT) AS drnk,
        |    percent_rank() OVER (ORDER BY cnt) AS prnk,
        |    cume_dist() OVER (ORDER BY cnt) AS cd
        |  FROM base)
        |SELECT DISTINCT cnt, rnk, drnk, prnk, cd FROM r ORDER BY cnt""".stripMargin))

  val qNtileRewrite = QueryDef("q_ntile_rewrite",
    (s, dir) => {
      val orders = Tables.load(s, dir, "orders")
      val base = orders.groupBy(col("o_custkey"))
        .agg(sum(expr("CAST(round(o_totalprice * 100.0) AS BIGINT)"))
          .cast(LongType).as("cents"))
      // total order (unique o_custkey tiebreak) → row_number and ntile
      // are deterministic, same caveat as the built-ins
      val w = Window.orderBy(col("cents"), col("o_custkey"))
      val scored = base.select(col("cents"),
        row_number().over(w).as("rn"),
        ntile(5).over(w).as("bucket"))
      RewriteGlobalRankWindows.force(scored)
        .groupBy("bucket")
        .agg(count(lit(1)).cast(LongType).as("n_cust"),
          min(col("rn")).as("rn_min"),
          max(col("rn")).as("rn_max"),
          sum(col("cents")).cast(LongType).as("cents_sum"))
        .orderBy("bucket")
    },
    Some(
      """WITH base AS (
        |  SELECT o_custkey,
        |    CAST(sum(CAST(round(o_totalprice * 100.0) AS BIGINT)) AS BIGINT) AS cents
        |  FROM orders GROUP BY 1),
        |scored AS (SELECT cents,
        |    CAST(row_number() OVER (ORDER BY cents, o_custkey) AS INT) AS rn,
        |    CAST(ntile(5) OVER (ORDER BY cents, o_custkey) AS INT) AS bucket
        |  FROM base)
        |SELECT bucket, CAST(count(*) AS BIGINT) AS n_cust,
        |  min(rn) AS rn_min, max(rn) AS rn_max,
        |  CAST(sum(cents) AS BIGINT) AS cents_sum
        |FROM scored GROUP BY bucket ORDER BY bucket""".stripMargin))

  /** `q_shift_rewrite`: the CALENDAR-class twin — daily revenue with
    * day-over-day delta (lag) and next-day lookahead (lead), written
    * with the BUILT-IN offset windows and routed through the rewrite,
    * so [[graft.plans.PartitionedShift]]'s bounded boundary state sits on
    * the oracle-checked path. Day is unique after the rollup → total
    * order → exact. */
  val qShiftRewrite = QueryDef("q_shift_rewrite",
    (s, dir) => {
      val orders = Tables.load(s, dir, "orders")
      val daily = orders.groupBy(col("o_orderdate").cast("date").as("day"))
        .agg(sum(expr("CAST(round(o_totalprice * 100.0) AS BIGINT)"))
          .cast(LongType).as("cents"))
      val w = Window.orderBy(col("day"))
      val shifted = daily.select(col("day"), col("cents"),
        lag("cents", 1).over(w).as("prev_cents"),
        lead("cents", 1).over(w).as("next_cents"))
      RewriteGlobalRankWindows.force(shifted)
        .select(col("day"), col("cents"),
          (col("cents") - col("prev_cents")).as("dod_delta"),
          col("next_cents"))
        .orderBy("day")
    },
    Some(
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |    CAST(sum(CAST(round(o_totalprice * 100.0) AS BIGINT)) AS BIGINT) AS cents
        |  FROM orders GROUP BY 1)
        |SELECT day, cents,
        |  cents - lag(cents, 1) OVER (ORDER BY day) AS dod_delta,
        |  lead(cents, 1) OVER (ORDER BY day) AS next_cents
        |FROM daily ORDER BY day""".stripMargin))

  /** `q_runagg_rewrite`: the running-aggregate family through the
    * rewrite — cumulative revenue and day count over MONTHS (a
    * tie-heavy order key: every day of a month is a peer), using the
    * SQL-DEFAULT RANGE frame, so [[graft.plans.PartitionedRunningAgg]]'s
    * prefix-merged buffers AND its tie-group-end semantics both sit on
    * the oracle-checked path. RANGE values are functions of the order
    * key, so the DISTINCT projection is deterministic despite
    * arbitrary tie order — the same proof shape as q_rank_family. */
  val qRunaggRewrite = QueryDef("q_runagg_rewrite",
    (s, dir) => {
      val orders = Tables.load(s, dir, "orders")
      val daily = orders.groupBy(col("o_orderdate").cast("date").as("day"))
        .agg(sum(expr("CAST(round(o_totalprice * 100.0) AS BIGINT)"))
          .cast(LongType).as("cents"))
      val keyed = daily.select(
        (year(col("day")) * 100 + month(col("day"))).cast(LongType).as("mon"),
        col("cents"))
      // default frame = RANGE UNBOUNDED PRECEDING .. CURRENT ROW
      val w = Window.orderBy(col("mon"))
      val cum = keyed.select(col("mon"),
        sum("cents").over(w).as("cum_cents"),
        count(lit(1)).over(w).as("cum_days"))
      RewriteGlobalRankWindows.force(cum)
        .distinct().orderBy("mon")
    },
    Some(
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |    CAST(sum(CAST(round(o_totalprice * 100.0) AS BIGINT)) AS BIGINT) AS cents
        |  FROM orders GROUP BY 1),
        |keyed AS (SELECT CAST(year(day) * 100 + month(day) AS BIGINT) AS mon, cents
        |  FROM daily),
        |c AS (SELECT mon,
        |    CAST(sum(cents) OVER (ORDER BY mon) AS BIGINT) AS cum_cents,
        |    CAST(count(*) OVER (ORDER BY mon) AS BIGINT) AS cum_days
        |  FROM keyed)
        |SELECT DISTINCT mon, cum_cents, cum_days FROM c ORDER BY mon""".stripMargin))

  /** `q_runagg_bitbool`: the WIDENED running-agg allowlist (late r12 —
    * bit_and/bit_or/bit_xor and the RuntimeReplaceable bool_and/bool_or)
    * on the oracle path. These reducers are bit-identical through the
    * prefix merge (unlike the moments, which stay tolerance-spec-covered
    * in GlobalRunningAggSpec — reassociated doubles cannot be
    * hash-compared against an independent engine), so DuckDB can check
    * them exactly. Month-keyed like q_runagg_rewrite: heavy ties under
    * the default RANGE frame, values functions of the order key alone →
    * the DISTINCT projection is deterministic. */
  val qRunaggBitbool = QueryDef("q_runagg_bitbool",
    (s, dir) => {
      val orders = Tables.load(s, dir, "orders")
      val daily = orders.groupBy(col("o_orderdate").cast("date").as("day"))
        .agg(max(col("o_custkey")).cast(LongType).as("kmax"),
          count(lit(1)).cast(LongType).as("n"))
      val keyed = daily.select(
        (year(col("day")) * 100 + month(col("day"))).cast(LongType).as("mon"),
        (col("kmax") % 1024).as("mask"),
        (col("n") % 2 === 0).as("even"))
      val w = Window.orderBy(col("mon"))
      val cum = keyed.select(col("mon"),
        expr("bit_and(mask)").over(w).as("band"),
        expr("bit_or(mask)").over(w).as("bor"),
        expr("bit_xor(mask)").over(w).as("bxor"),
        expr("bool_and(even)").over(w).as("all_even"),
        expr("bool_or(even)").over(w).as("any_even"))
      RewriteGlobalRankWindows.force(cum)
        .distinct().orderBy("mon")
    },
    Some(
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |    CAST(max(o_custkey) AS BIGINT) AS kmax,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM orders GROUP BY 1),
        |keyed AS (SELECT CAST(year(day) * 100 + month(day) AS BIGINT) AS mon,
        |    kmax % 1024 AS mask, (n % 2 = 0) AS even
        |  FROM daily),
        |c AS (SELECT mon,
        |    CAST(bit_and(mask) OVER w AS BIGINT) AS band,
        |    CAST(bit_or(mask) OVER w AS BIGINT) AS bor,
        |    CAST(bit_xor(mask) OVER w AS BIGINT) AS bxor,
        |    bool_and(even) OVER w AS all_even,
        |    bool_or(even) OVER w AS any_even
        |  FROM keyed WINDOW w AS (ORDER BY mon))
        |SELECT DISTINCT mon, band, bor, bxor, all_even, any_even
        |FROM c ORDER BY mon""".stripMargin))

  /** `q_movagg_rewrite`: the MOVING-FRAME family through the rewrite —
    * 7-day trailing revenue (sum/min/max/count), a centered 3-day sum,
    * and a pure-future 2-day sum, all as BUILT-IN bounded ROWS windows
    * routed through [[graft.plans.PartitionedMovingAgg]]'s boundary-row
    * machinery. Day is unique after the rollup → total order → exact;
    * the pure-future frame empties at the last days (null sum on both
    * engines). Integer cents keep every value hash-comparable. */
  val qMovaggRewrite = QueryDef("q_movagg_rewrite",
    (s, dir) => {
      val orders = Tables.load(s, dir, "orders")
      val daily = orders.groupBy(col("o_orderdate").cast("date").as("day"))
        .agg(sum(expr("CAST(round(o_totalprice * 100.0) AS BIGINT)"))
          .cast(LongType).as("cents"))
      val w7 = Window.orderBy(col("day")).rowsBetween(-6, 0)
      val wc = Window.orderBy(col("day")).rowsBetween(-1, 1)
      val wf = Window.orderBy(col("day")).rowsBetween(1, 2)
      val moving = daily.select(col("day"), col("cents"),
        sum("cents").over(w7).as("mov7"),
        min("cents").over(w7).as("mov7_min"),
        max("cents").over(w7).as("mov7_max"),
        count(lit(1)).over(w7).as("mov7_n"),
        sum("cents").over(wc).as("c3"),
        sum("cents").over(wf).as("nxt2"))
      RewriteGlobalRankWindows.force(moving).orderBy("day")
    },
    Some(
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |    CAST(sum(CAST(round(o_totalprice * 100.0) AS BIGINT)) AS BIGINT) AS cents
        |  FROM orders GROUP BY 1)
        |SELECT day, cents,
        |  CAST(sum(cents) OVER w7 AS BIGINT) AS mov7,
        |  CAST(min(cents) OVER w7 AS BIGINT) AS mov7_min,
        |  CAST(max(cents) OVER w7 AS BIGINT) AS mov7_max,
        |  CAST(count(*) OVER w7 AS BIGINT) AS mov7_n,
        |  CAST(sum(cents) OVER (ORDER BY day ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS BIGINT) AS c3,
        |  CAST(sum(cents) OVER (ORDER BY day ROWS BETWEEN 1 FOLLOWING AND 2 FOLLOWING) AS BIGINT) AS nxt2
        |FROM daily
        |WINDOW w7 AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
        |ORDER BY day""".stripMargin))

  val all: Seq[QueryDef] =
    Seq(qRankFamily, qNtileRewrite, qShiftRewrite, qRunaggRewrite,
      qRunaggBitbool, qMovaggRewrite)
}
