package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.queries.Queries.QueryDef
import graft.rules.RewriteGlobalRankWindows

/** Ninety-sixth wave — signed-rank inference, robust slopes, and
  * survey raking.
  *
  *  - `q_wilcoxon`: the Wilcoxon signed-rank statistic (Wilcoxon 1945)
  *    for each user's paired pre/post event counts — zero differences
  *    dropped, |differences| mid-ranked with EXACT tie handling by
  *    keeping ranks DOUBLED (2·midrank = 2·rank_min + ties − 1 stays
  *    integral), W⁺·2 and W⁻·2 exact BIGINT, plus the normal
  *    approximation z in one shared tree. The paired complement to
  *    q_perm_test's unpaired reassignments.
  *  - `q_theil_sen`: the Theil–Sen robust slope (Theil 1950) of daily
  *    revenue on day index — the exact MEDIAN of all pairwise slopes,
  *    ranked by the shared-IEEE ratio with a deterministic pair
  *    tie-break, lower-median selection by integer rank. Immune to
  *    outlier days that wreck q_regr_exact's least squares; the pair
  *    space is day²-sized (bounded), never corpus-sized.
  *  - `q_ipf`: iterative proportional fitting / survey raking (Deming
  *    & Stephan 1940): the (region, segment) count table raked in 3
  *    row+column rounds toward EQUAL target marginals, every
  *    multiplicative half-step a pure BIGINT floor at a fixed 1e5
  *    weight scale (decimal division scales DIVERGE between engines —
  *    measured — so the walk stays integer), both engines bit-identical;
  *    emits final cell weights and the residual marginal error. The weighting step every survey/panel pipeline
  *    runs before estimation. Cell-table-sized arithmetic; the oracle
  *    unrolls the rounds as generated CTEs.
  */
object R96Queries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  private val usPerDay = 86400000000L

  // ---------- q_wilcoxon ----------

  val qWilcoxon = QueryDef("q_wilcoxon",
    // r16: route the global window(s) through the distributed rewrite
    (s, dir) => RewriteGlobalRankWindows.force {
      val ev = Tables.events(s, dir)
        .select(col("user_id"), unix_micros(col("ts")).as("us"))
      val mid = ev.agg(expr(
        "CAST(((min(us) + max(us)) - ((min(us) + max(us)) % 2)) / 2 AS BIGINT) AS m"))
      val diffs = ev.crossJoin(broadcast(mid)).groupBy("user_id")
        .agg((sum(when(col("us") >= col("m"), 1L).otherwise(0L)) -
          sum(when(col("us") < col("m"), 1L).otherwise(0L))).cast("long").as("d"))
        .where(col("d") =!= 0L)
        .select(col("user_id"), col("d"), abs(col("d")).as("ad"))
      val w = Window.orderBy("ad")
      // doubled midrank: 2·rank_min + ties − 1 (integral under ties)
      val ranked = diffs
        .withColumn("rmin", rank().over(w).cast("long"))
        .withColumn("ties",
          count(lit(1)).over(Window.partitionBy("ad")).cast("long"))
        .withColumn("r2", lit(2L) * col("rmin") + col("ties") - 1L)
      ranked.agg(count(lit(1)).cast("long").as("n"),
          sum(when(col("d") > 0, col("r2")).otherwise(0L)).cast("long")
            .as("w_plus_x2"),
          sum(when(col("d") < 0, col("r2")).otherwise(0L)).cast("long")
            .as("w_minus_x2"))
        .select(col("n"), col("w_plus_x2"), col("w_minus_x2"),
          // z = (W⁺ − n(n+1)/4) / sqrt(n(n+1)(2n+1)/24), on the ×2 scale
          round(expr(
            "(CAST(w_plus_x2 AS DOUBLE) / 2.0 - CAST(n AS DOUBLE) * CAST(n + 1 AS DOUBLE) / 4.0)" +
              " / sqrt(CAST(n AS DOUBLE) * CAST(n + 1 AS DOUBLE) * CAST(2 * n + 1 AS DOUBLE) / 24.0)"), 6)
            .as("z"))
    },
    Some(
      """WITH ev AS (
        |  SELECT user_id, epoch_us(ts) AS us FROM events),
        |mid AS (
        |  SELECT CAST(((min(us) + max(us)) - ((min(us) + max(us)) % 2)) / 2 AS BIGINT)
        |    AS m FROM ev),
        |diffs AS (
        |  SELECT user_id,
        |    CAST(sum(CASE WHEN us >= m THEN 1 ELSE 0 END)
        |      - sum(CASE WHEN us < m THEN 1 ELSE 0 END) AS BIGINT) AS d
        |  FROM ev CROSS JOIN mid GROUP BY user_id
        |  HAVING d <> 0),
        |ranked AS (
        |  SELECT user_id, d, abs(d) AS ad,
        |    CAST(rank() OVER (ORDER BY abs(d)) AS BIGINT) AS rmin,
        |    CAST(count(*) OVER (PARTITION BY abs(d)) AS BIGINT) AS ties
        |  FROM diffs),
        |r2d AS (SELECT *, 2 * rmin + ties - 1 AS r2 FROM ranked)
        |SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CASE WHEN d > 0 THEN r2 ELSE 0 END) AS BIGINT) AS w_plus_x2,
        |  CAST(sum(CASE WHEN d < 0 THEN r2 ELSE 0 END) AS BIGINT) AS w_minus_x2,
        |  round((CAST(sum(CASE WHEN d > 0 THEN r2 ELSE 0 END) AS DOUBLE) / 2.0
        |      - CAST(count(*) AS DOUBLE) * CAST(count(*) + 1 AS DOUBLE) / 4.0)
        |    / sqrt(CAST(count(*) AS DOUBLE) * CAST(count(*) + 1 AS DOUBLE)
        |      * CAST(2 * count(*) + 1 AS DOUBLE) / 24.0), 6) AS z
        |FROM r2d""".stripMargin))

  // ---------- q_theil_sen ----------

  val qTheilSen = QueryDef("q_theil_sen",
    // r15: day-keyed global windows route distributed (CALENDAR
    // whitelist retirement)
    (s, dir) => RewriteGlobalRankWindows.force {
      val days = t(s, dir, "orders")
        .select(expr("unix_micros(CAST(o_orderdate AS TIMESTAMP))").as("us"),
          expr("CAST((CAST(round(o_totalprice * 100.0) AS BIGINT) " +
            "- CAST(round(o_totalprice * 100.0) AS BIGINT) % 100) / 100 AS BIGINT)")
            .as("usd"))
        .withColumn("day", expr(s"CAST((us - us % $usPerDay) / $usPerDay AS BIGINT)"))
        .groupBy("day").agg(sum(col("usd")).cast("long").as("v"))
      // bound the pair space: the trailing 120 days (the classic pair
      // subsample — day² pairs through one rank sort do not scale)
      val dmax = days.agg(max(col("day")).as("dm"))
      val windowed = days.crossJoin(broadcast(dmax))
        .where(col("day") > col("dm") - 120L).drop("dm")
      val a = windowed.select(col("day").as("d1"), col("v").as("v1"))
      val b = windowed.select(col("day").as("d2"), col("v").as("v2"))
      val slopes = a.join(b, col("d1") < col("d2"))
        .select(col("d1"), col("d2"),
          expr("CAST(v2 - v1 AS DOUBLE) / CAST(d2 - d1 AS DOUBLE)").as("slope"))
      val w = Window.orderBy(col("slope"), col("d1"), col("d2"))
      val tot = Window.partitionBy(lit(1))
      slopes
        .withColumn("rk", row_number().over(w).cast("long"))
        .withColumn("np", count(lit(1)).over(tot).cast("long"))
        // lower median: rank ⌈np/2⌉
        .where(col("rk") ===
          expr("CAST((np + 1 - (np + 1) % 2) / 2 AS BIGINT)"))
        .select(col("np").as("n_pairs"), round(col("slope"), 6).as("slope"))
    },
    Some(
      s"""WITH days AS (
         |  SELECT CAST((epoch_us(CAST(o_orderdate AS TIMESTAMP))
         |      - epoch_us(CAST(o_orderdate AS TIMESTAMP)) % $usPerDay)
         |      / $usPerDay AS BIGINT) AS day,
         |    CAST(sum(CAST((CAST(round(o_totalprice * 100.0) AS BIGINT)
         |      - CAST(round(o_totalprice * 100.0) AS BIGINT) % 100) / 100 AS BIGINT))
         |      AS BIGINT) AS v
         |  FROM orders GROUP BY 1),
         |dmax AS (SELECT max(day) AS dm FROM days),
         |windowed AS (
         |  SELECT day, v FROM days CROSS JOIN dmax WHERE day > dm - 120),
         |slopes AS (
         |  SELECT a.day AS d1, b.day AS d2,
         |    CAST(b.v - a.v AS DOUBLE) / CAST(b.day - a.day AS DOUBLE) AS slope
         |  FROM windowed a JOIN windowed b ON a.day < b.day),
         |ranked AS (
         |  SELECT slope,
         |    CAST(row_number() OVER (ORDER BY slope, d1, d2) AS BIGINT) AS rk,
         |    CAST(count(*) OVER () AS BIGINT) AS np
         |  FROM slopes)
         |SELECT np AS n_pairs, round(slope, 6) AS slope
         |FROM ranked
         |WHERE rk = CAST((np + 1 - (np + 1) % 2) / 2 AS BIGINT)""".stripMargin))

  // ---------- q_ipf ----------

  /** One rake's new integer weight, `(p - p % ms) div ms` for
    * `p = w * tgt`, in exact LONG arithmetic. The numerator is a
    * multiple of `ms`, so the quotient is exact — but only as an
    * integer division: `p` reaches ~2e16, past 2^53, where a DOUBLE
    * division can land just under the exact quotient and a truncating
    * cast then drops one. */
  private[graft] def rakedWeight(w: Column, tgt: Column, ms: Column): Column = {
    val p = w * tgt
    call_function("div", p - p % ms, ms)
  }

  private val ipfRounds = 3
  private val ipfScale = 100000L

  val qIpf = QueryDef("q_ipf",
    (s, dir) => {
      val cells0 = t(s, dir, "customer")
        .select((col("c_nationkey") % 5).cast("long").as("r"),
          col("c_mktsegment").as("cseg"))
        .groupBy("r", "cseg")
        .agg(count(lit(1)).cast("long").as("c"))
      val nTot = cells0.agg(sum(col("c")).cast("long").as("n"))
      // integer weights at 1e5 scale; equal target marginals n/5 (n is
      // divisible by 5 at every sf — asserted by the spec). Products
      // w·tgt stay ≤ ~2e16 ≪ 2⁶³ (cells are count-balanced).
      var cells = cells0.crossJoin(broadcast(nTot))
        .withColumn("w", col("c") * ipfScale)
        .withColumn("tgt", expr(s"CAST((n - n % 5) / 5 AS BIGINT)") * ipfScale)
        .localCheckpoint()
      // loop keeps the localCheckpoint shape (cells is referenced twice
      // per rake — the marginal sums AND the join — so lineage must
      // truncate per round); each rake frees its predecessor's blocks,
      // and only the pinned fixpoint below outlives the loop
      def rake(key: String): Unit = {
        val sums = cells.groupBy(key).agg(sum(col("w")).cast("long").as("ms"))
        val next = cells.join(broadcast(sums), key)
          .withColumn("w", rakedWeight(col("w"), col("tgt"), col("ms")))
          .drop("ms").localCheckpoint()
        org.apache.spark.sql.GraftSqlBridge.freeLocalCheckpoint(cells)
        cells = next
      }
      for (_ <- 1 to ipfRounds) { rake("r"); rake("cseg") }
      val cellsP = Queries.pin(
        cells.select(col("r"), col("cseg"), col("c"), col("w"), col("tgt")))
      org.apache.spark.sql.GraftSqlBridge.freeLocalCheckpoint(cells)
      val rowErr = cellsP.groupBy("r")
        .agg((sum(col("w")) - max(col("tgt"))).cast("long").as("re"))
        .agg(max(abs(col("re"))).cast("long").as("max_row_err"))
      cellsP.crossJoin(broadcast(rowErr))
        .select(col("r"), col("cseg"), col("c"), col("w"), col("max_row_err"))
        .orderBy("r", "cseg")
    },
    Some {
      def half(i: Int, in: String, out: String, key: String): String =
        s"""s$i AS (
           |  SELECT $key, CAST(sum(w) AS BIGINT) AS ms FROM $in GROUP BY $key),
           |$out AS (
           |  SELECT c0.r, c0.cseg, c0.c, c0.tgt,
           |    CAST((c0.w * c0.tgt - (c0.w * c0.tgt) % s$i.ms) / s$i.ms AS BIGINT) AS w
           |  FROM $in c0 JOIN s$i ON c0.$key = s$i.$key)""".stripMargin
      val steps = (1 to ipfRounds).flatMap { r =>
        val i1 = 2 * r - 1; val i2 = 2 * r
        Seq(half(i1, s"w${i1 - 1}", s"w$i1", "r"),
          half(i2, s"w${i2 - 1}", s"w$i2", "cseg"))
      }.mkString(",\n")
      val last = s"w${2 * ipfRounds}"
      s"""WITH cells AS (
         |  SELECT CAST(c_nationkey % 5 AS BIGINT) AS r, c_mktsegment AS cseg,
         |    CAST(count(*) AS BIGINT) AS c
         |  FROM customer GROUP BY 1, 2),
         |nt AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cells),
         |w0 AS (
         |  SELECT r, cseg, c, CAST(c * $ipfScale AS BIGINT) AS w,
         |    CAST((n - n % 5) / 5 AS BIGINT) * $ipfScale AS tgt
         |  FROM cells CROSS JOIN nt),
         |$steps,
         |rerr AS (
         |  SELECT CAST(max(abs(rs - tgt)) AS BIGINT) AS max_row_err FROM (
         |    SELECT r, CAST(sum(w) AS BIGINT) AS rs, CAST(max(tgt) AS BIGINT) AS tgt
         |    FROM $last GROUP BY r))
         |SELECT r, cseg, c, w, max_row_err
         |FROM $last CROSS JOIN rerr
         |ORDER BY r, cseg""".stripMargin
    })

  val all: Seq[QueryDef] = Seq(qWilcoxon, qTheilSen, qIpf)
}
