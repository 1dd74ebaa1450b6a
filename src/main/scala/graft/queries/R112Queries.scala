package graft.queries

import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.queries.Queries.QueryDef
import graft.rules.RewriteGlobalRankWindows

/** Hundred-twelfth wave (late r13) — justified under the §7.2
  * no-new-wave-without-new-surface rule by the session's two new skew
  * tier members: [[graft.plans.PartitionedMovingAgg]] (bounded-ROWS
  * moving frames per key: key-gated frame rings + key-matched boundary
  * chains over the composite range sub-split) and the WHOLE-FRAME
  * window-to-join rewrite (`agg(e) OVER (PARTITION BY k)` →
  * map-side-combined Aggregate + null-safe equi-join back — no new
  * physical node, and the per-key window shape AQE can actually fix).
  * Queries are written with the BUILT-IN window functions and routed
  * through [[RewriteGlobalRankWindows.forceSkew]], so the rewrites
  * themselves are what the DuckDB oracle checks.
  */
object R112Queries {

  /** `q_skewmovagg_rewrite`: per-key MOVING statistics under the same
    * hot key as the sibling skew queries (a third of all users fold
    * into key -1), through [[graft.plans.PartitionedMovingAgg]].
    * Row-level output: every frame that crosses a range-sub-split
    * partition boundary inside the hot key — and every frame clipped
    * at a small key's edges (including EMPTY pure-future frames at key
    * tails: null min, the built-in's clip) — is on the DuckDB hash.
    * Trailing, centered, pure-future, and first_value frames ride ONE
    * node on one composite exchange. Total order (cents, event_id);
    * all-BIGINT lattice. */
  val qSkewmovaggRewrite = QueryDef("q_skewmovagg_rewrite",
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
        sum("cents").over(w.rowsBetween(-3, 1)).cast("long").as("mov_sum"),
        count(lit(1)).over(w.rowsBetween(-2, 0)).cast("long").as("mov_n"),
        min("cents").over(w.rowsBetween(1, 2)).cast("long").as("fut_min"),
        first("cents").over(w.rowsBetween(-3, 0)).cast("long").as("f3")))
        .orderBy("k", "event_id")
    },
    Some(
      """WITH ev AS (
        |  SELECT CASE WHEN user_id % 3 = 0 THEN -1 ELSE user_id END AS k,
        |    CAST(round(value * 100.0) AS BIGINT) AS cents, event_id
        |  FROM events)
        |SELECT k, event_id, cents,
        |  CAST(sum(cents) OVER (PARTITION BY k ORDER BY cents, event_id
        |    ROWS BETWEEN 3 PRECEDING AND 1 FOLLOWING) AS BIGINT) AS mov_sum,
        |  CAST(count(*) OVER (PARTITION BY k ORDER BY cents, event_id
        |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT) AS mov_n,
        |  CAST(min(cents) OVER (PARTITION BY k ORDER BY cents, event_id
        |    ROWS BETWEEN 1 FOLLOWING AND 2 FOLLOWING) AS BIGINT) AS fut_min,
        |  CAST(first_value(cents) OVER (PARTITION BY k ORDER BY cents, event_id
        |    ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS BIGINT) AS f3
        |FROM ev ORDER BY k, event_id""".stripMargin))

  /** `q_skewframeagg_rewrite`: ratio-to-group-total under the hot key —
    * `sum/count/min/max OVER (PARTITION BY k)` through the
    * window-to-join rewrite (Aggregate + null-safe equi-join back; the
    * plan AQE can split or broadcast, where WindowExec funnels the hot
    * key through one task). Row-level output with a parts-per-million
    * share on the integer lattice (`DIV` on both engines — cents ≥ 0,
    * so truncation agrees); every row of the hot key carries the same
    * joined-back totals, so the DuckDB hash checks multiplicity
    * preservation (the 1:1 join-back), not just the aggregates. */
  val qSkewframeaggRewrite = QueryDef("q_skewframeagg_rewrite",
    (s, dir) => {
      val ev = Tables.events(s, dir).select(
        when(col("user_id") % 3 === 0, lit(-1L))
          .otherwise(col("user_id")).as("k"),
        expr("CAST(round(value * 100.0) AS BIGINT)").as("cents"),
        col("event_id"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy("k")
      RewriteGlobalRankWindows.forceSkew(ev.select(col("k"), col("event_id"),
        col("cents"),
        sum("cents").over(w).cast("long").as("tot"),
        count(lit(1)).over(w).cast("long").as("n"),
        min("cents").over(w).cast("long").as("mn"),
        max("cents").over(w).cast("long").as("mx")))
        .withColumn("ppm", expr("CAST(cents * 1000000 DIV tot AS BIGINT)"))
        .orderBy("k", "event_id")
    },
    Some(
      """WITH ev AS (
        |  SELECT CASE WHEN user_id % 3 = 0 THEN -1 ELSE user_id END AS k,
        |    CAST(round(value * 100.0) AS BIGINT) AS cents, event_id
        |  FROM events),
        |t AS (
        |  SELECT k, event_id, cents,
        |    CAST(sum(cents) OVER (PARTITION BY k) AS BIGINT) AS tot,
        |    CAST(count(*) OVER (PARTITION BY k) AS BIGINT) AS n,
        |    CAST(min(cents) OVER (PARTITION BY k) AS BIGINT) AS mn,
        |    CAST(max(cents) OVER (PARTITION BY k) AS BIGINT) AS mx
        |  FROM ev)
        |SELECT k, event_id, cents, tot, n, mn, mx,
        |  CAST(cents * 1000000 // tot AS BIGINT) AS ppm
        |FROM t ORDER BY k, event_id""".stripMargin))

  /** `q_nthmov_rewrite`: MOVING-LOWER-BOUND `nth_value` — previously a
    * documented non-rewrite ("moving-lower-bound nth_value needs real
    * frame execution") retired by admitting NthValue, itself a
    * DeclarativeAggregate, into the moving-frame rebuffer of BOTH
    * tiers: a global trailing/centered pair (incl. IGNORE NULLS)
    * through [[graft.plans.PartitionedMovingAgg]] and a per-key trailing
    * form under the hot key through
    * [[graft.plans.PartitionedMovingAgg]], in ONE query. Total orders
    * on both windows (event_id breaks cents ties); non-null order
    * keys, so Spark's NULLS FIRST and DuckDB's NULLS LAST defaults
    * never see a null; all-BIGINT values with a deterministic null
    * pattern for the IGNORE NULLS arm. */
  val qNthmovRewrite = QueryDef("q_nthmov_rewrite",
    (s, dir) => {
      val ev = Tables.events(s, dir).select(
        when(col("user_id") % 3 === 0, lit(-1L))
          .otherwise(col("user_id")).as("k"),
        expr("CAST(round(value * 100.0) AS BIGINT)").as("cents"),
        col("event_id"))
        .withColumn("xnn",
          when(col("event_id") % 4 === 0, lit(null).cast("long"))
            .otherwise(col("cents")))
      val wg = org.apache.spark.sql.expressions.Window
        .orderBy(col("cents"), col("event_id"))
      val wk = org.apache.spark.sql.expressions.Window
        .partitionBy("k").orderBy(col("cents"), col("event_id"))
      RewriteGlobalRankWindows.forceSkew(ev.select(col("k"), col("event_id"),
        col("cents"), col("xnn"),
        expr("nth_value(cents, 2)").over(wg.rowsBetween(-3, 0)).as("g2t"),
        expr("nth_value(xnn, 2) IGNORE NULLS")
          .over(wg.rowsBetween(-2, 2)).as("g2nn"),
        expr("nth_value(cents, 3)").over(wk.rowsBetween(-4, 0)).as("k3t")))
        .orderBy("event_id")
    },
    Some(
      """WITH ev AS (
        |  SELECT CASE WHEN user_id % 3 = 0 THEN -1 ELSE user_id END AS k,
        |    CAST(round(value * 100.0) AS BIGINT) AS cents, event_id,
        |    CASE WHEN event_id % 4 = 0 THEN NULL
        |      ELSE CAST(round(value * 100.0) AS BIGINT) END AS xnn
        |  FROM events)
        |SELECT k, event_id, cents, xnn,
        |  CAST(nth_value(cents, 2) OVER (ORDER BY cents, event_id
        |    ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS BIGINT) AS g2t,
        |  CAST(nth_value(xnn, 2 IGNORE NULLS) OVER (ORDER BY cents, event_id
        |    ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING) AS BIGINT) AS g2nn,
        |  CAST(nth_value(cents, 3) OVER (PARTITION BY k ORDER BY cents, event_id
        |    ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS BIGINT) AS k3t
        |FROM ev ORDER BY event_id""".stripMargin))

  /** `q_skewshiftnn_rewrite`: per-key `lag ... IGNORE NULLS` under the
    * hot key — the skew tier's retired non-null-ring refusal
    * ([[graft.plans.PartitionedShift]]'s per-SEGMENT rings, seeded
    * key-matched). Two of three cents values are nulled on a
    * deterministic event_id pattern, so k=1/k=3 lookups routinely
    * cross sub-split partition boundaries inside the hot key (the
    * chained non-null tails) and default at key heads; a plain lag
    * rides the same node. Row-level, all-BIGINT. */
  val qSkewshiftnnRewrite = QueryDef("q_skewshiftnn_rewrite",
    (s, dir) => {
      val ev = Tables.events(s, dir).select(
        when(col("user_id") % 3 === 0, lit(-1L))
          .otherwise(col("user_id")).as("k"),
        expr("CAST(round(value * 100.0) AS BIGINT)").as("cents"),
        col("event_id"))
        .withColumn("xnn",
          when(col("event_id") % 3 =!= 0, lit(null).cast("long"))
            .otherwise(col("cents")))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("k").orderBy(col("cents"), col("event_id"))
      RewriteGlobalRankWindows.forceSkew(ev.select(col("k"), col("event_id"),
        col("cents"), col("xnn"),
        lag(col("xnn"), 1, null, ignoreNulls = true).over(w).as("nn1"),
        lag(col("xnn"), 3, null, ignoreNulls = true).over(w).as("nn3"),
        lag("cents", 1).over(w).as("plain1")))
        .orderBy("k", "event_id")
    },
    Some(
      """WITH ev AS (
        |  SELECT CASE WHEN user_id % 3 = 0 THEN -1 ELSE user_id END AS k,
        |    CAST(round(value * 100.0) AS BIGINT) AS cents, event_id,
        |    CASE WHEN event_id % 3 <> 0 THEN NULL
        |      ELSE CAST(round(value * 100.0) AS BIGINT) END AS xnn
        |  FROM events)
        |SELECT k, event_id, cents, xnn,
        |  CAST(lag(xnn, 1 IGNORE NULLS) OVER w AS BIGINT) AS nn1,
        |  CAST(lag(xnn, 3 IGNORE NULLS) OVER w AS BIGINT) AS nn3,
        |  CAST(lag(cents, 1) OVER w AS BIGINT) AS plain1
        |FROM ev
        |WINDOW w AS (PARTITION BY k ORDER BY cents, event_id)
        |ORDER BY k, event_id""".stripMargin))

  /** `q_skewrangemov_rewrite`: per-key VALUE-windowed statistics under
    * the hot key — "the surrounding cents-bins' totals, per user" —
    * through the skew tier's dense-domain member
    * ([[graft.plans.PartitionedRangeMovingAgg]]: group-matched
    * per-VALUE buffer chains, a group-gated zipped lead, one composite
    * exchange). The `cbin % 7 < 4` filter punches holes in the value
    * axis so RANGE frames genuinely differ from ROWS frames (the
    * q_rangemov_rewrite argument, per key). Row-level output — every
    * chained boundary buffer and every group-edge clip is on the
    * DuckDB hash; all-BIGINT lattice. */
  val qSkewrangemovRewrite = QueryDef("q_skewrangemov_rewrite",
    (s, dir) => {
      val ev = Tables.events(s, dir).select(
        when(col("user_id") % 3 === 0, lit(-1L))
          .otherwise(col("user_id")).as("k"),
        (expr("CAST(round(value * 100.0) AS BIGINT)") % 50L).as("cbin"),
        col("event_id"))
        .where(col("cbin") % 7 < 4)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("k").orderBy("cbin")
      RewriteGlobalRankWindows.forceSkew(ev.select(col("k"), col("event_id"),
        col("cbin"),
        sum("cbin").over(w.rangeBetween(-6, 0)).cast("long").as("t6"),
        count(lit(1)).over(w.rangeBetween(-2, 2)).cast("long").as("c22"),
        min("cbin").over(w.rangeBetween(1, 3)).cast("long").as("f13")))
        .orderBy("k", "event_id")
    },
    Some(
      """WITH ev AS (
        |  SELECT CASE WHEN user_id % 3 = 0 THEN -1 ELSE user_id END AS k,
        |    CAST(round(value * 100.0) AS BIGINT) % 50 AS cbin, event_id
        |  FROM events
        |  WHERE (CAST(round(value * 100.0) AS BIGINT) % 50) % 7 < 4)
        |SELECT k, event_id, cbin,
        |  CAST(sum(cbin) OVER (PARTITION BY k ORDER BY cbin
        |    RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS t6,
        |  CAST(count(*) OVER (PARTITION BY k ORDER BY cbin
        |    RANGE BETWEEN 2 PRECEDING AND 2 FOLLOWING) AS BIGINT) AS c22,
        |  CAST(min(cbin) OVER (PARTITION BY k ORDER BY cbin
        |    RANGE BETWEEN 1 FOLLOWING AND 3 FOLLOWING) AS BIGINT) AS f13
        |FROM ev ORDER BY k, event_id""".stripMargin))

  /** `q_skewleadnn_rewrite`: per-key `lead ... IGNORE NULLS` under the
    * hot key — the per-key offset family's LAST retired refusal
    * ([[graft.plans.PartitionedLookahead]]: group-gated zipped O(k)
    * lookahead, group-matched chained tails). The same 2-of-3 null
    * pattern as the lag sibling, so k=1/k=3 lookaheads routinely cross
    * sub-split partition boundaries inside the hot key and STARVE at
    * small keys' ends (defaults, never a neighbour's values); a plain
    * lead rides PartitionedShift in the same window. Defaults stay
    * NULL (DuckDB 1.0.0 parses `lead(x, k IGNORE NULLS)` but not a
    * default combined with it). Row-level, all-BIGINT. */
  val qSkewleadnnRewrite = QueryDef("q_skewleadnn_rewrite",
    (s, dir) => {
      val ev = Tables.events(s, dir).select(
        when(col("user_id") % 3 === 0, lit(-1L))
          .otherwise(col("user_id")).as("k"),
        expr("CAST(round(value * 100.0) AS BIGINT)").as("cents"),
        col("event_id"))
        .withColumn("xnn",
          when(col("event_id") % 3 =!= 0, lit(null).cast("long"))
            .otherwise(col("cents")))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("k").orderBy(col("cents"), col("event_id"))
      RewriteGlobalRankWindows.forceSkew(ev.select(col("k"), col("event_id"),
        col("cents"), col("xnn"),
        lead(col("xnn"), 1, null, ignoreNulls = true).over(w).as("nn1"),
        lead(col("xnn"), 3, null, ignoreNulls = true).over(w).as("nn3"),
        lead("cents", 1).over(w).as("plain1")))
        .orderBy("k", "event_id")
    },
    Some(
      """WITH ev AS (
        |  SELECT CASE WHEN user_id % 3 = 0 THEN -1 ELSE user_id END AS k,
        |    CAST(round(value * 100.0) AS BIGINT) AS cents, event_id,
        |    CASE WHEN event_id % 3 <> 0 THEN NULL
        |      ELSE CAST(round(value * 100.0) AS BIGINT) END AS xnn
        |  FROM events)
        |SELECT k, event_id, cents, xnn,
        |  CAST(lead(xnn, 1 IGNORE NULLS) OVER w AS BIGINT) AS nn1,
        |  CAST(lead(xnn, 3 IGNORE NULLS) OVER w AS BIGINT) AS nn3,
        |  CAST(lead(cents, 1) OVER w AS BIGINT) AS plain1
        |FROM ev
        |WINDOW w AS (PARTITION BY k ORDER BY cents, event_id)
        |ORDER BY k, event_id""".stripMargin))

  /** `q_skewnth_rewrite`: per-key START-ANCHORED `nth_value` under the
    * hot key — the skew tier's LAST member
    * ([[graft.plans.PartitionedNthValue]]: driver-assembled run
    * constants for boundary-straddling keys, group-gated zip lead for
    * interior ones). Running-ROWS, whole-partition, and IGNORE NULLS
    * forms in one node; the hot key's constants chain across many
    * sub-split partitions and its early rows must gate NULL until
    * their prefix reaches k. Total order (cents, event_id); row-level,
    * all-BIGINT. */
  val qSkewnthRewrite = QueryDef("q_skewnth_rewrite",
    (s, dir) => {
      val ev = Tables.events(s, dir).select(
        when(col("user_id") % 3 === 0, lit(-1L))
          .otherwise(col("user_id")).as("k"),
        expr("CAST(round(value * 100.0) AS BIGINT)").as("cents"),
        col("event_id"))
        .withColumn("xnn",
          when(col("event_id") % 4 =!= 0, lit(null).cast("long"))
            .otherwise(col("cents")))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("k").orderBy(col("cents"), col("event_id"))
      val wr = w.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
      val ww = w.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
      RewriteGlobalRankWindows.forceSkew(ev.select(col("k"), col("event_id"),
        col("cents"), col("xnn"),
        nth_value(col("cents"), 3).over(wr).as("n3run"),
        nth_value(col("cents"), 5).over(ww).as("n5all"),
        nth_value(col("xnn"), 2, ignoreNulls = true).over(wr).as("n2nn")))
        .orderBy("k", "event_id")
    },
    Some(
      """WITH ev AS (
        |  SELECT CASE WHEN user_id % 3 = 0 THEN -1 ELSE user_id END AS k,
        |    CAST(round(value * 100.0) AS BIGINT) AS cents, event_id,
        |    CASE WHEN event_id % 4 <> 0 THEN NULL
        |      ELSE CAST(round(value * 100.0) AS BIGINT) END AS xnn
        |  FROM events)
        |SELECT k, event_id, cents, xnn,
        |  CAST(nth_value(cents, 3) OVER (PARTITION BY k
        |    ORDER BY cents, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS BIGINT) AS n3run,
        |  CAST(nth_value(cents, 5) OVER (PARTITION BY k
        |    ORDER BY cents, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |    AS BIGINT) AS n5all,
        |  CAST(nth_value(xnn, 2 IGNORE NULLS) OVER (PARTITION BY k
        |    ORDER BY cents, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS BIGINT) AS n2nn
        |FROM ev ORDER BY k, event_id""".stripMargin))

  /** `q_rangemov_desc`: DESCENDING-order RANGE moving frames through
    * BOTH dense-domain tiers — previously a documented non-rewrite
    * ("descending RANGE orders keep WindowExec"), retired by reading
    * descending keys through the bitwise-NOT reversal (`~v` is a
    * monotone reversal with no overflow, under which the frame bounds
    * carry over unchanged) plus one-shot null frames for the trailing
    * null block. A global DESC window rides
    * [[graft.plans.PartitionedRangeMovingAgg]], a per-key DESC window under
    * the hot key rides [[graft.plans.PartitionedRangeMovingAgg]] — one
    * query, both tiers, zero WindowExec. Gappy non-null axis (RANGE ≠
    * ROWS); explicit NULLS FIRST on the DuckDB side is unnecessary
    * (no null keys); row-level BIGINT lattice. */
  val qRangemovDesc = QueryDef("q_rangemov_desc",
    (s, dir) => {
      val ev = Tables.events(s, dir).select(
        when(col("user_id") % 3 === 0, lit(-1L))
          .otherwise(col("user_id")).as("k"),
        (expr("CAST(round(value * 100.0) AS BIGINT)") % 50L).as("cbin"),
        col("event_id"))
        .where(col("cbin") % 7 < 4)
      val wg = org.apache.spark.sql.expressions.Window
        .orderBy(col("cbin").desc)
      val wk = org.apache.spark.sql.expressions.Window
        .partitionBy("k").orderBy(col("cbin").desc)
      RewriteGlobalRankWindows.forceSkew(ev.select(col("k"), col("event_id"),
        col("cbin"),
        sum("cbin").over(wg.rangeBetween(-3, 1)).cast("long").as("g31"),
        count(lit(1)).over(wg.rangeBetween(-2, 0)).cast("long").as("gn"),
        sum("cbin").over(wk.rangeBetween(-6, 0)).cast("long").as("k6"),
        min("cbin").over(wk.rangeBetween(1, 2)).cast("long").as("kfmin")))
        .orderBy("k", "event_id")
    },
    Some(
      """WITH ev AS (
        |  SELECT CASE WHEN user_id % 3 = 0 THEN -1 ELSE user_id END AS k,
        |    CAST(round(value * 100.0) AS BIGINT) % 50 AS cbin, event_id
        |  FROM events
        |  WHERE (CAST(round(value * 100.0) AS BIGINT) % 50) % 7 < 4)
        |SELECT k, event_id, cbin,
        |  CAST(sum(cbin) OVER (ORDER BY cbin DESC
        |    RANGE BETWEEN 3 PRECEDING AND 1 FOLLOWING) AS BIGINT) AS g31,
        |  CAST(count(*) OVER (ORDER BY cbin DESC
        |    RANGE BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT) AS gn,
        |  CAST(sum(cbin) OVER (PARTITION BY k ORDER BY cbin DESC
        |    RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS k6,
        |  CAST(min(cbin) OVER (PARTITION BY k ORDER BY cbin DESC
        |    RANGE BETWEEN 1 FOLLOWING AND 2 FOLLOWING) AS BIGINT) AS kfmin
        |FROM ev ORDER BY k, event_id""".stripMargin))

  /** `q_pctexact_wide`: exact percentiles over a DECIMAL(38,2) column
    * through [[graft.plans.GlobalExactPercentile]]'s late-r13 WIDE
    * tier (two-phase selection on the 128-bit unscaled value's
    * (high, low) words — the family's last type refusal retired).
    * Hash safety is `q_pctexact_decimal`'s argument verbatim: exact
    * binary quarters, quarter-fraction percentages, so every endpoint
    * and interpolation product is an exact double on both engines; the
    * DuckDB side computes in plain DOUBLE (`q/4.0`) per the fragility
    * guard — only the SPARK side exercises the wide-decimal key path
    * (negatives included: the high word must carry the sign). */
  val qPctexactWide = QueryDef("q_pctexact_wide",
    (s, dir) => {
      val orders = Tables.load(s, dir, "orders")
      val dec = orders.select(
        ((expr("CAST(round(o_totalprice) AS BIGINT)") % 397L - 199L)
          .cast("decimal(38,0)") / 4).cast("decimal(38,2)").as("m"))
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

  val all: Seq[QueryDef] =
    Seq(qSkewmovaggRewrite, qSkewframeaggRewrite, qNthmovRewrite,
      qSkewshiftnnRewrite, qSkewrangemovRewrite, qSkewleadnnRewrite,
      qSkewnthRewrite, qRangemovDesc, qPctexactWide)
}
