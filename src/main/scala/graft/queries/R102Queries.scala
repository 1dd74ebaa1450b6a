package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.queries.Queries.QueryDef
import graft.rules.RewriteGlobalRankWindows

/** Hundred-second wave — rank correlations and cross-correlation.
  *
  *  - `q_kendall`: exact Kendall τ-b between per-user activity and
  *    spend — concordant/discordant/tie counts from the full pair
  *    join (user²-bounded; at true scale this runs on a stratified
  *    sample, documented), τ-b's tie-corrected denominator in one
  *    shared √ tree, every count BIGINT. The rank-based dependence
  *    measure Pearson (q_corr_exact) cannot see through monotone
  *    transforms.
  *  - `q_spearman`: exact Spearman ρ with average-rank ties — the
  *    q_wilcoxon DOUBLED-midrank trick (2·midrank stays integral)
  *    makes the rank vectors pure BIGINT, and ρ is Pearson on those
  *    exact integers (one shared tree). One rank window per variable.
  *  - `q_ccf`: the cross-correlation function between the daily
  *    signup and purchase count series at lags −7…+7 — per lag the
  *    exact integer moments over the overlapping support, the
  *    correlation in one shared tree. Which side LEADS: the
  *    direction-of-influence screen before anyone claims causality
  *    from q_rolling_corr's contemporaneous window.
  */
object R102Queries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  private val usPerDay = 86400000000L

  private def perUser(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir).groupBy("user_id")
      .agg(count(lit(1)).cast("long").as("x"),
        sum(expr("CAST(round(value * 100.0) AS BIGINT)")).cast("long").as("y"))

  private val perUserSql =
    """per AS (
      |  SELECT user_id, CAST(count(*) AS BIGINT) AS x,
      |    CAST(sum(CAST(round(value * 100.0) AS BIGINT)) AS BIGINT) AS y
      |  FROM events GROUP BY user_id)""".stripMargin

  // ---------- q_kendall ----------

  val qKendall = QueryDef("q_kendall",
    (s, dir) => {
      val per = perUser(s, dir)
      val a = per.select(col("user_id").as("u1"), col("x").as("x1"),
        col("y").as("y1"))
      val b = per.select(col("user_id").as("u2"), col("x").as("x2"),
        col("y").as("y2"))
      val pairs = a.join(b, col("u1") < col("u2"))
        .select(
          when((col("x1") < col("x2") && col("y1") < col("y2")) ||
            (col("x1") > col("x2") && col("y1") > col("y2")), 1L).otherwise(0L)
            .as("c"),
          when((col("x1") < col("x2") && col("y1") > col("y2")) ||
            (col("x1") > col("x2") && col("y1") < col("y2")), 1L).otherwise(0L)
            .as("d"),
          when(col("x1") === col("x2") && col("y1") =!= col("y2"), 1L)
            .otherwise(0L).as("tx"),
          when(col("y1") === col("y2") && col("x1") =!= col("x2"), 1L)
            .otherwise(0L).as("ty"))
      pairs.agg(sum(col("c")).cast("long").as("nc"),
          sum(col("d")).cast("long").as("nd"),
          sum(col("tx")).cast("long").as("ntx"),
          sum(col("ty")).cast("long").as("nty"))
        .select(col("nc"), col("nd"), col("ntx"), col("nty"),
          round(expr(
            "CAST(nc - nd AS DOUBLE) / sqrt(CAST(nc + nd + ntx AS DOUBLE)" +
              " * CAST(nc + nd + nty AS DOUBLE))"), 6).as("tau_b"))
    },
    Some(
      s"""WITH $perUserSql,
         |pairs AS (
         |  SELECT
         |    CAST(sum(CASE WHEN (a.x < b.x AND a.y < b.y) OR (a.x > b.x AND a.y > b.y)
         |      THEN 1 ELSE 0 END) AS BIGINT) AS nc,
         |    CAST(sum(CASE WHEN (a.x < b.x AND a.y > b.y) OR (a.x > b.x AND a.y < b.y)
         |      THEN 1 ELSE 0 END) AS BIGINT) AS nd,
         |    CAST(sum(CASE WHEN a.x = b.x AND a.y <> b.y THEN 1 ELSE 0 END) AS BIGINT)
         |      AS ntx,
         |    CAST(sum(CASE WHEN a.y = b.y AND a.x <> b.x THEN 1 ELSE 0 END) AS BIGINT)
         |      AS nty
         |  FROM per a JOIN per b ON a.user_id < b.user_id)
         |SELECT nc, nd, ntx, nty,
         |  round(CAST(nc - nd AS DOUBLE) / sqrt(CAST(nc + nd + ntx AS DOUBLE)
         |    * CAST(nc + nd + nty AS DOUBLE)), 6) AS tau_b
         |FROM pairs""".stripMargin))

  // ---------- q_spearman ----------

  val qSpearman = QueryDef("q_spearman",
    (s, dir) => {
      val per = perUser(s, dir)
      val wx = Window.orderBy("x")
      val wy = Window.orderBy("y")
      // r13 (VERDICT r12 task 1): both global rank() windows route
      // through GlobalRank (rank is tie-exact — see the tie-containment
      // argument on PartitionedRankNode), retiring the ENTITY whitelist
      // entry; the per-x/per-y tie counts stay on keyed (partitioned)
      // WindowExec, which scales by key.
      val r = RewriteGlobalRankWindows.force(per
        .withColumn("rx_min", rank().over(wx).cast("long"))
        .withColumn("tx", count(lit(1)).over(Window.partitionBy("x")).cast("long"))
        .withColumn("rx2", lit(2L) * col("rx_min") + col("tx") - 1L)
        .withColumn("ry_min", rank().over(wy).cast("long"))
        .withColumn("ty", count(lit(1)).over(Window.partitionBy("y")).cast("long"))
        .withColumn("ry2", lit(2L) * col("ry_min") + col("ty") - 1L))
      r.agg(count(lit(1)).cast("long").as("n"),
          sum(col("rx2")).cast("long").as("sx"),
          sum(col("ry2")).cast("long").as("sy"),
          sum(col("rx2") * col("ry2")).cast("long").as("sxy"),
          sum(col("rx2") * col("rx2")).cast("long").as("sxx"),
          sum(col("ry2") * col("ry2")).cast("long").as("syy"))
        .select(col("n"),
          round(expr(
            "(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))" +
              " / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))" +
              " * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))"), 6)
            .as("rho"))
    },
    Some(
      s"""WITH $perUserSql,
         |ranked AS (
         |  SELECT user_id,
         |    2 * CAST(rank() OVER (ORDER BY x) AS BIGINT)
         |      + CAST(count(*) OVER (PARTITION BY x) AS BIGINT) - 1 AS rx2,
         |    2 * CAST(rank() OVER (ORDER BY y) AS BIGINT)
         |      + CAST(count(*) OVER (PARTITION BY y) AS BIGINT) - 1 AS ry2
         |  FROM per),
         |agg AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(rx2) AS BIGINT) AS sx, CAST(sum(ry2) AS BIGINT) AS sy,
         |    CAST(sum(rx2 * ry2) AS BIGINT) AS sxy,
         |    CAST(sum(rx2 * rx2) AS BIGINT) AS sxx,
         |    CAST(sum(ry2 * ry2) AS BIGINT) AS syy
         |  FROM ranked)
         |SELECT n,
         |  round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         |    / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
         |    * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
         |    AS rho
         |FROM agg""".stripMargin))

  // ---------- q_ccf ----------

  val qCcf = QueryDef("q_ccf",
    (s, dir) => {
      val daily = Tables.events(s, dir)
        .select(expr(s"CAST((unix_micros(ts) - unix_micros(ts) % $usPerDay) / $usPerDay AS BIGINT)")
          .as("day"), col("event_type"))
        .groupBy("day")
        .agg(sum(when(col("event_type") === "signup", 1L).otherwise(0L))
          .cast("long").as("su"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .cast("long").as("pu"))
      val a = daily.select(col("day"), col("su"))
      val b = daily.select(col("day").as("day2"), col("pu"))
      val lagged = a
        .withColumn("lag", explode(sequence(lit(-7), lit(7))))
        .withColumn("lag", col("lag").cast("long"))
        .join(b, col("day2") === col("day") + col("lag"))
      lagged.groupBy("lag")
        .agg(count(lit(1)).cast("long").as("n"),
          sum(col("su")).cast("long").as("sx"),
          sum(col("pu")).cast("long").as("sy"),
          sum(col("su") * col("pu")).cast("long").as("sxy"),
          sum(col("su") * col("su")).cast("long").as("sxx"),
          sum(col("pu") * col("pu")).cast("long").as("syy"))
        .select(col("lag"), col("n"),
          round(expr(
            "(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))" +
              " / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))" +
              " * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))"), 6)
            .as("ccf"))
        .orderBy("lag")
    },
    Some(
      s"""WITH daily AS (
         |  SELECT CAST((epoch_us(ts) - epoch_us(ts) % $usPerDay) / $usPerDay AS BIGINT)
         |    AS day,
         |    CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT)
         |      AS su,
         |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
         |      AS pu
         |  FROM events GROUP BY 1),
         |lagged AS (
         |  SELECT l.lag, a.su, b.pu
         |  FROM daily a
         |  CROSS JOIN (SELECT CAST(unnest(generate_series(-7, 7)) AS BIGINT) AS lag) l
         |  JOIN daily b ON b.day = a.day + l.lag),
         |agg AS (
         |  SELECT lag, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(su) AS BIGINT) AS sx, CAST(sum(pu) AS BIGINT) AS sy,
         |    CAST(sum(su * pu) AS BIGINT) AS sxy,
         |    CAST(sum(su * su) AS BIGINT) AS sxx,
         |    CAST(sum(pu * pu) AS BIGINT) AS syy
         |  FROM lagged GROUP BY lag)
         |SELECT lag, n,
         |  round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         |    / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
         |    * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
         |    AS ccf
         |FROM agg ORDER BY lag""".stripMargin))

  val all: Seq[QueryDef] = Seq(qKendall, qSpearman, qCcf)
}
