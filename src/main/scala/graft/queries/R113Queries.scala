package graft.queries

import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.queries.Queries.QueryDef
import graft.rules.RewriteGlobalRankWindows

/** Hundred-thirteenth wave (r14) — justified under the §7.2
  * no-new-wave-without-new-surface rule by the round's new physical
  * surface: the TIMESTAMP tier of the RANGE-moving-frame operators
  * (VERDICT r13 task 1 — `RANGE BETWEEN INTERVAL '7' DAY PRECEDING AND
  * CURRENT ROW` over a TIMESTAMP order key, previously a documented
  * non-rewrite in both window tiers). A timestamp is epoch MICROS in a
  * Long and a day/hour-pure interval bound is an exact micro count, so
  * the per-key-buffer argument of [[graft.plans.PartitionedRangeMovingAgg]]
  * / [[graft.plans.PartitionedRangeMovingAgg]] carries unchanged; the
  * queries are written with the BUILT-IN window functions (SQL interval
  * frames through `expr`) and routed through
  * [[RewriteGlobalRankWindows.force]]/`forceSkew`, so the rewrite
  * itself — not a hand-built plan — is what the DuckDB oracle checks.
  */
object R113Queries {

  /** `q_rangemov_ts`: time-windowed hourly revenue statistics —
    * `RANGE BETWEEN INTERVAL '2' DAY PRECEDING AND CURRENT ROW` (and
    * two sibling hour-pure frames, one of them future-only) over a
    * GAPPY hourly TIMESTAMP axis. The `hour-number % 10 < 6` filter
    * punches 4-hour holes each decade of hours so RANGE frames
    * genuinely differ from ROWS frames (the q_rangemov_rewrite
    * argument, lifted from the day lattice to the micros lattice).
    * Bucketing the axis to hour grain BEFORE windowing is also the
    * production pattern the timestamp tier documents: per-key buffers
    * are per DISTINCT timestamp, so the grain bounds the boundary
    * state. Output keys are `unix_micros`/`epoch_us` BIGINTs — the
    * established micros-equivalence bridge — and all money stays on
    * the cents-BIGINT lattice. */
  val qRangemovTs = QueryDef("q_rangemov_ts",
    (s, dir) => {
      val ev = Tables.events(s, dir)
      val hourly = ev
        .select(date_trunc("hour", col("ts")).as("hr"),
          expr("CAST(round(value * 100.0) AS BIGINT)").as("c"))
        .where(expr("(unix_micros(hr) div 3600000000) % 10 < 6"))
        .groupBy("hr").agg(sum(col("c")).cast("long").as("cents"))
      RewriteGlobalRankWindows.force(hourly.select(
        expr("CAST(unix_micros(hr) AS BIGINT)").as("us"),
        col("cents"),
        expr("""CAST(sum(cents) OVER (ORDER BY hr RANGE BETWEEN
                INTERVAL '2' DAY PRECEDING AND CURRENT ROW)
                AS BIGINT)""").as("t2d"),
        expr("""CAST(count(*) OVER (ORDER BY hr RANGE BETWEEN
                INTERVAL '36' HOUR PRECEDING AND INTERVAL '12' HOUR FOLLOWING)
                AS BIGINT)""").as("n48"),
        expr("""CAST(min(cents) OVER (ORDER BY hr RANGE BETWEEN
                INTERVAL '1' HOUR FOLLOWING AND INTERVAL '48' HOUR FOLLOWING)
                AS BIGINT)""").as("fmin")))
        .orderBy("us")
    },
    Some(
      """WITH hourly AS (
        |  SELECT date_trunc('hour', ts) AS hr,
        |    CAST(sum(CAST(round(value * 100.0) AS BIGINT)) AS BIGINT) AS cents
        |  FROM events
        |  WHERE (epoch_us(date_trunc('hour', ts)) // 3600000000) % 10 < 6
        |  GROUP BY 1)
        |SELECT CAST(epoch_us(hr) AS BIGINT) AS us, cents,
        |  CAST(sum(cents) OVER (ORDER BY hr RANGE BETWEEN
        |    INTERVAL 2 DAY PRECEDING AND CURRENT ROW) AS BIGINT) AS t2d,
        |  CAST(count(*) OVER (ORDER BY hr RANGE BETWEEN
        |    INTERVAL 36 HOUR PRECEDING AND INTERVAL 12 HOUR FOLLOWING)
        |    AS BIGINT) AS n48,
        |  CAST(min(cents) OVER (ORDER BY hr RANGE BETWEEN
        |    INTERVAL 1 HOUR FOLLOWING AND INTERVAL 48 HOUR FOLLOWING)
        |    AS BIGINT) AS fmin
        |FROM hourly ORDER BY us""".stripMargin))

  /** `q_skewrangemov_ts`: "the last 7 days' total, per user" under a
    * HOT key — the skew tier's marquee rolling-window shape on the RAW
    * micros axis (every event timestamp distinct; the per-key deque
    * holds one buffer per event inside the extent, gated to the lag's
    * current group). A third of all users fold into key -1, so the
    * built-in hash-clustered WindowExec would push ~1/3 of the corpus
    * through ONE task; `forceSkew` routes it through the composite
    * `(k, ts)` range sub-split with group-matched boundary-buffer
    * chaining instead. Day- and hour-pure interval frames, one of them
    * double-sided. Row-level output, all-BIGINT. */
  val qSkewrangemovTs = QueryDef("q_skewrangemov_ts",
    (s, dir) => {
      val ev = Tables.events(s, dir).select(
        when(col("user_id") % 3 === 0, lit(-1L))
          .otherwise(col("user_id")).as("k"),
        col("ts"),
        expr("CAST(round(value * 100.0) AS BIGINT)").as("cents"),
        col("event_id"))
      RewriteGlobalRankWindows.forceSkew(ev.select(col("k"), col("event_id"),
        expr("CAST(unix_micros(ts) AS BIGINT)").as("us"),
        col("cents"),
        expr("""CAST(sum(cents) OVER (PARTITION BY k ORDER BY ts RANGE
                BETWEEN INTERVAL '7' DAY PRECEDING AND CURRENT ROW)
                AS BIGINT)""").as("t7d"),
        expr("""CAST(count(*) OVER (PARTITION BY k ORDER BY ts RANGE
                BETWEEN INTERVAL '12' HOUR PRECEDING AND
                INTERVAL '12' HOUR FOLLOWING) AS BIGINT)""").as("n1d")))
        .orderBy("k", "event_id")
    },
    Some(
      """WITH ev AS (
        |  SELECT CASE WHEN user_id % 3 = 0 THEN -1 ELSE user_id END AS k,
        |    ts, CAST(round(value * 100.0) AS BIGINT) AS cents, event_id
        |  FROM events)
        |SELECT k, event_id, CAST(epoch_us(ts) AS BIGINT) AS us, cents,
        |  CAST(sum(cents) OVER (PARTITION BY k ORDER BY ts RANGE BETWEEN
        |    INTERVAL 7 DAY PRECEDING AND CURRENT ROW) AS BIGINT) AS t7d,
        |  CAST(count(*) OVER (PARTITION BY k ORDER BY ts RANGE BETWEEN
        |    INTERVAL 12 HOUR PRECEDING AND INTERVAL 12 HOUR FOLLOWING)
        |    AS BIGINT) AS n1d
        |FROM ev ORDER BY k, event_id""".stripMargin))

  /** `q_mode_rewrite`: distributed whole-frame `mode()` in BOTH window
    * tiers (r14, VERDICT r13 task 4 — one of the two unbounded-buffer
    * window refusals, retired): `mode(v) OVER (PARTITION BY k)` and
    * `mode(v) OVER ()` rewrite to map-side-combined per-value counts →
    * a struct-extreme argmax → an equi/broadcast join back — no
    * value→count hash map ships anywhere (`collect_list` stays
    * refused: order-defined). The fixture is STRICTLY tie-free (v=42
    * on 3/4 of non-null rows dominates every `o_orderkey % 7` value
    * per key and globally) because both engines' plain `mode()` is
    * tie-unspecified; a null punch exercises mode's null exclusion.
    * Output is per-key (the window columns are key-constant). */
  val qModeRewrite = QueryDef("q_mode_rewrite",
    (s, dir) => {
      val orders = Tables.load(s, dir, "orders")
      val t = orders.select((col("o_orderkey") % 50).as("k"),
        expr("""CAST(CASE WHEN o_orderkey % 11 = 5 THEN NULL
                WHEN o_orderkey % 4 <> 3 THEN 42
                ELSE o_orderkey % 7 END AS BIGINT)""").as("v"))
      val win = t.select(col("k"), col("v"),
        expr("mode(v) OVER (PARTITION BY k)").as("kmode"),
        expr("mode(v) OVER ()").as("gmode"))
      RewriteGlobalRankWindows.forceSkew(win)
        .groupBy("k").agg(max("kmode").as("kmode"),
          max("gmode").as("gmode"),
          count(lit(1)).cast("long").as("n"))
        .orderBy("k")
    },
    Some(
      """WITH t AS (
        |  SELECT o_orderkey % 50 AS k,
        |    CAST(CASE WHEN o_orderkey % 11 = 5 THEN NULL
        |      WHEN o_orderkey % 4 <> 3 THEN 42
        |      ELSE o_orderkey % 7 END AS BIGINT) AS v
        |  FROM orders),
        |w AS (
        |  SELECT k, v, mode(v) OVER (PARTITION BY k) AS kmode,
        |    mode(v) OVER () AS gmode
        |  FROM t)
        |SELECT k, CAST(max(kmode) AS BIGINT) AS kmode,
        |  CAST(max(gmode) AS BIGINT) AS gmode,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM w GROUP BY k ORDER BY k""".stripMargin))

  /** `q_rangemov_dec`: value-windowed statistics over a DECIMAL(12,2)
    * money axis (r14, the RANGE tiers' second key widening): a compact
    * decimal is an unscaled Long on a fixed 10^-s lattice, so
    * same-lattice decimal bounds (`3.25 PRECEDING` = 325 unscaled
    * cents-steps) fold exactly. The axis is exact binary quarters
    * (k/4 at scale 2 — the q_pctexact_decimal construction) punched
    * gappy so RANGE genuinely differs from ROWS; the DuckDB twin runs
    * the SAME frames on the integer quarter-index axis (13/6/4/1/8
    * quarter steps), keeping the oracle decimal-free per the fragility
    * guard — only the SPARK side exercises the decimal key path.
    * Output keys are the BIGINT quarter index. */
  val qRangemovDec = QueryDef("q_rangemov_dec",
    (s, dir) => {
      val orders = Tables.load(s, dir, "orders")
      val g = orders.select(
        ((expr("CAST(round(o_totalprice) AS BIGINT)") % 797L)
          .cast("decimal(18,0)") / 4).cast("decimal(12,2)").as("m"),
        expr("CAST(round(o_totalprice * 100.0) AS BIGINT)").as("c"))
        .where(expr("CAST(m * 4 AS BIGINT) % 7 < 4"))
        .groupBy("m").agg(sum(col("c")).cast("long").as("cents"))
      RewriteGlobalRankWindows.force(g.select(
        expr("CAST(m * 4 AS BIGINT)").as("q"),
        col("cents"),
        expr("""CAST(sum(cents) OVER (ORDER BY m RANGE BETWEEN
                3.25 PRECEDING AND CURRENT ROW) AS BIGINT)""").as("t"),
        expr("""CAST(count(*) OVER (ORDER BY m RANGE BETWEEN
                1.50 PRECEDING AND 1.00 FOLLOWING) AS BIGINT)""").as("n"),
        expr("""CAST(min(cents) OVER (ORDER BY m RANGE BETWEEN
                0.25 FOLLOWING AND 2.00 FOLLOWING) AS BIGINT)""").as("f")))
        .orderBy("q")
    },
    Some(
      """WITH g AS (
        |  SELECT CAST(round(o_totalprice) AS BIGINT) % 797 AS q,
        |    CAST(sum(CAST(round(o_totalprice * 100.0) AS BIGINT)) AS BIGINT)
        |      AS cents
        |  FROM orders
        |  WHERE (CAST(round(o_totalprice) AS BIGINT) % 797) % 7 < 4
        |  GROUP BY 1)
        |SELECT q, cents,
        |  CAST(sum(cents) OVER (ORDER BY q RANGE BETWEEN 13 PRECEDING
        |    AND CURRENT ROW) AS BIGINT) AS t,
        |  CAST(count(*) OVER (ORDER BY q RANGE BETWEEN 6 PRECEDING
        |    AND 4 FOLLOWING) AS BIGINT) AS n,
        |  CAST(min(cents) OVER (ORDER BY q RANGE BETWEEN 1 FOLLOWING
        |    AND 8 FOLLOWING) AS BIGINT) AS f
        |FROM g ORDER BY q""".stripMargin))

  /** `q_suffix_running`: "everything from here on" in BOTH tiers (r14
    * — the half-unbounded refusal's retirable half): `CURRENT ROW ..
    * UNBOUNDED FOLLOWING` frames rewrite as the MIRRORED running
    * family under exact order reversal, with First<->Last swapped (the
    * mirror preserves frame content but inverts frame order — `g_last`
    * pins the swap on the oracle). Global suffix totals over the
    * (day, priority) total order plus per-priority suffix ROWS/RANGE
    * forms through the skew tier; day keys are unique per priority
    * after the pre-aggregation, so the ROWS forms are deterministic.
    * All-BIGINT. */
  val qSuffixRunning = QueryDef("q_suffix_running",
    (s, dir) => {
      val orders = Tables.load(s, dir, "orders")
      val daily = orders.select(col("o_orderpriority").as("prio"),
        datediff(col("o_orderdate").cast("date"),
          lit("1992-01-01").cast("date")).cast("long").as("dayn"),
        expr("CAST(round(o_totalprice * 100.0) AS BIGINT)").as("c"))
        .groupBy("prio", "dayn").agg(sum(col("c")).cast("long").as("cents"))
      RewriteGlobalRankWindows.forceSkew(daily.select(
        col("prio"), col("dayn"), col("cents"),
        expr("""CAST(sum(cents) OVER (ORDER BY dayn, prio ROWS BETWEEN
                CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT)""").as("g_rem"),
        expr("""CAST(last(cents) OVER (ORDER BY dayn, prio ROWS BETWEEN
                CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT)""").as("g_last"),
        expr("""CAST(sum(cents) OVER (PARTITION BY prio ORDER BY dayn
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                AS BIGINT)""").as("k_rem"),
        expr("""CAST(count(*) OVER (PARTITION BY prio ORDER BY dayn
                RANGE BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                AS BIGINT)""").as("k_remn")))
        .orderBy("prio", "dayn")
    },
    Some(
      """WITH daily AS (
        |  SELECT o_orderpriority AS prio,
        |    CAST(date_diff('day', DATE '1992-01-01',
        |      CAST(o_orderdate AS DATE)) AS BIGINT) AS dayn,
        |    CAST(sum(CAST(round(o_totalprice * 100.0) AS BIGINT)) AS BIGINT)
        |      AS cents
        |  FROM orders GROUP BY 1, 2)
        |SELECT prio, dayn, cents,
        |  CAST(sum(cents) OVER (ORDER BY dayn, prio ROWS BETWEEN CURRENT ROW
        |    AND UNBOUNDED FOLLOWING) AS BIGINT) AS g_rem,
        |  CAST(last_value(cents) OVER (ORDER BY dayn, prio ROWS BETWEEN
        |    CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT) AS g_last,
        |  CAST(sum(cents) OVER (PARTITION BY prio ORDER BY dayn ROWS BETWEEN
        |    CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT) AS k_rem,
        |  CAST(count(*) OVER (PARTITION BY prio ORDER BY dayn RANGE BETWEEN
        |    CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT) AS k_remn
        |FROM daily ORDER BY prio, dayn""".stripMargin))

  /** `q_delayed_running`: DELAYED and EXTENDED running frames in both
    * tiers (late r14): `UNBOUNDED PRECEDING .. k PRECEDING` composes
    * as lag-of-running-aggregate (the lag default carrying the
    * aggregate's own empty-frame value) and `.. k FOLLOWING` as
    * lead-of-running saturating to the whole-frame value past the end
    * — all riding the chain's ONE exchange per tier, no new physical
    * operator. The delayed columns are NULL on each key's first k rows
    * (both engines agree); day keys unique per priority, so the ROWS
    * forms are deterministic. All-BIGINT. */
  val qDelayedRunning = QueryDef("q_delayed_running",
    (s, dir) => {
      val orders = Tables.load(s, dir, "orders")
      val daily = orders.select(col("o_orderpriority").as("prio"),
        datediff(col("o_orderdate").cast("date"),
          lit("1992-01-01").cast("date")).cast("long").as("dayn"),
        expr("CAST(round(o_totalprice * 100.0) AS BIGINT)").as("c"))
        .groupBy("prio", "dayn").agg(sum(col("c")).cast("long").as("cents"))
      RewriteGlobalRankWindows.forceSkew(daily.select(
        col("prio"), col("dayn"), col("cents"),
        expr("""CAST(sum(cents) OVER (ORDER BY dayn, prio ROWS BETWEEN
                UNBOUNDED PRECEDING AND 3 PRECEDING) AS BIGINT)""").as("g_d3"),
        expr("""CAST(count(*) OVER (ORDER BY dayn, prio ROWS BETWEEN
                UNBOUNDED PRECEDING AND 2 FOLLOWING) AS BIGINT)""").as("g_e2"),
        expr("""CAST(sum(cents) OVER (PARTITION BY prio ORDER BY dayn
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                AS BIGINT)""").as("k_d1"),
        expr("""CAST(max(cents) OVER (PARTITION BY prio ORDER BY dayn
                ROWS BETWEEN UNBOUNDED PRECEDING AND 2 FOLLOWING)
                AS BIGINT)""").as("k_e2")))
        .orderBy("prio", "dayn")
    },
    Some(
      """WITH daily AS (
        |  SELECT o_orderpriority AS prio,
        |    CAST(date_diff('day', DATE '1992-01-01',
        |      CAST(o_orderdate AS DATE)) AS BIGINT) AS dayn,
        |    CAST(sum(CAST(round(o_totalprice * 100.0) AS BIGINT)) AS BIGINT)
        |      AS cents
        |  FROM orders GROUP BY 1, 2)
        |SELECT prio, dayn, cents,
        |  CAST(sum(cents) OVER (ORDER BY dayn, prio ROWS BETWEEN UNBOUNDED
        |    PRECEDING AND 3 PRECEDING) AS BIGINT) AS g_d3,
        |  CAST(count(*) OVER (ORDER BY dayn, prio ROWS BETWEEN UNBOUNDED
        |    PRECEDING AND 2 FOLLOWING) AS BIGINT) AS g_e2,
        |  CAST(sum(cents) OVER (PARTITION BY prio ORDER BY dayn ROWS BETWEEN
        |    UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT) AS k_d1,
        |  CAST(max(cents) OVER (PARTITION BY prio ORDER BY dayn ROWS BETWEEN
        |    UNBOUNDED PRECEDING AND 2 FOLLOWING) AS BIGINT) AS k_e2
        |FROM daily ORDER BY prio, dayn""".stripMargin))

  val all: Seq[QueryDef] =
    Seq(qRangemovTs, qSkewrangemovTs, qModeRewrite, qRangemovDec,
      qSuffixRunning, qDelayedRunning)
}
