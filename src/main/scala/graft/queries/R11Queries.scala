package graft.queries

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.queries.Queries.QueryDef

/** Eleventh wave — the product-analytics trio over the events table:
  *
  *  - `q_funnel`: ordered conversion funnel (first view → first click
  *    within 6 h → first purchase within 6 h) — each step is one
  *    aggregate + join on user_id, never a per-user subquery;
  *  - `q_cohort_retention`: signup-week cohorts × active-week retention
  *    counts (the classic triangle), with floor() used consistently on
  *    both engines because DuckDB CASTs doubles by rounding;
  *  - `q_stream_session_window`: the native merging session_window in
  *    STREAMING mode (append output) — sessions emit only when the
  *    watermark proves them closed; a far-future sentinel event drains
  *    the state so the finite stream equals the batch sessionization
  *    (the same lag/gap oracle as q_sessionize).
  */
object R11Queries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  private val funnelSparkSql =
    """WITH e AS (SELECT user_id, event_type, unix_micros(ts) AS us FROM events),
      |v AS (SELECT user_id, min(us) AS t1 FROM e WHERE event_type = 'view' GROUP BY 1),
      |c AS (SELECT e.user_id, min(e.us) AS t2 FROM e JOIN v ON e.user_id = v.user_id
      |      WHERE e.event_type = 'click' AND e.us > v.t1 AND e.us <= v.t1 + 21600000000 GROUP BY 1),
      |p AS (SELECT e.user_id, min(e.us) AS t3 FROM e JOIN c ON e.user_id = c.user_id
      |      WHERE e.event_type = 'purchase' AND e.us > c.t2 AND e.us <= c.t2 + 21600000000 GROUP BY 1)
      |SELECT CAST((SELECT count(*) FROM v) AS BIGINT) AS step_view,
      |       CAST((SELECT count(*) FROM c) AS BIGINT) AS step_click,
      |       CAST((SELECT count(*) FROM p) AS BIGINT) AS step_purchase""".stripMargin

  val qFunnel = QueryDef("q_funnel",
    (s, dir) => {
      Tables.events(s, dir).createOrReplaceTempView("events")
      s.sql(funnelSparkSql)
    },
    Some(
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
        |v AS (SELECT user_id, min(us) AS t1 FROM e WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT e.user_id, min(e.us) AS t2 FROM e JOIN v ON e.user_id = v.user_id
        |      WHERE e.event_type = 'click' AND e.us > v.t1 AND e.us <= v.t1 + 21600000000 GROUP BY 1),
        |p AS (SELECT e.user_id, min(e.us) AS t3 FROM e JOIN c ON e.user_id = c.user_id
        |      WHERE e.event_type = 'purchase' AND e.us > c.t2 AND e.us <= c.t2 + 21600000000 GROUP BY 1)
        |SELECT CAST((SELECT count(*) FROM v) AS BIGINT) AS step_view,
        |       CAST((SELECT count(*) FROM c) AS BIGINT) AS step_click,
        |       CAST((SELECT count(*) FROM p) AS BIGINT) AS step_purchase""".stripMargin))

  private val cohortSparkSql =
    """WITH s AS (SELECT user_id, min(CAST(ts AS DATE)) AS d0 FROM events
      |           WHERE event_type = 'signup' GROUP BY 1),
      |e AS (SELECT user_id, CAST(ts AS DATE) AS d FROM events WHERE event_type = 'purchase'),
      |act AS (SELECT DISTINCT e.user_id,
      |          CAST(floor(datediff(e.d, s.d0) / 7) AS BIGINT) AS week_n,
      |          CAST(floor(datediff(s.d0, DATE '2024-01-01') / 7) AS BIGINT) AS cohort_w
      |        FROM e JOIN s ON e.user_id = s.user_id WHERE e.d >= s.d0)
      |SELECT cohort_w, week_n, CAST(count(*) AS BIGINT) AS n_active
      |FROM act GROUP BY cohort_w, week_n ORDER BY cohort_w, week_n""".stripMargin

  val qCohortRetention = QueryDef("q_cohort_retention",
    (s, dir) => {
      Tables.events(s, dir).createOrReplaceTempView("events")
      s.sql(cohortSparkSql)
    },
    Some(
      """WITH s AS (SELECT user_id, min(CAST(ts AS DATE)) AS d0 FROM events
        |           WHERE event_type = 'signup' GROUP BY 1),
        |e AS (SELECT user_id, CAST(ts AS DATE) AS d FROM events WHERE event_type = 'purchase'),
        |act AS (SELECT DISTINCT e.user_id,
        |          CAST(floor(date_diff('day', s.d0, e.d) / 7) AS BIGINT) AS week_n,
        |          CAST(floor(date_diff('day', DATE '2024-01-01', s.d0) / 7) AS BIGINT) AS cohort_w
        |        FROM e JOIN s ON e.user_id = s.user_id WHERE e.d >= s.d0)
        |SELECT cohort_w, week_n, CAST(count(*) AS BIGINT) AS n_active
        |FROM act GROUP BY cohort_w, week_n ORDER BY cohort_w, week_n""".stripMargin))

  /** Nanoseconds for 2025-07-01T00:00:00Z. */
  private val SentinelNs = 1751328000000000000L

  /** Stage events + one far-future sentinel (no filters sit between the
    * source and the watermark here, so a single generic sentinel
    * advances the tracker). */
  private def stageWithSentinel(s: SparkSession, dir: String): String = {
    val stageDir = Tables.stageEventsDir(dir, "graft_ssw_src")
    import s.implicits._
    // sentinel ts in the fixture's raw unit (nanos or micros)
    val nsToRaw = 1000L / Tables.eventsTsDiv(s, dir)
    val tmp = Files.createTempDirectory("graft_ssw_sent").toString
    Seq((-1L, SentinelNs / nsToRaw, -1L)).toDF("event_id", "ts", "user_id")
      .coalesce(1).write.mode("overwrite").parquet(tmp)
    val listing = Files.list(Paths.get(tmp))
    val part = try listing.toArray.map(_.toString)
      .filter(p => p.endsWith(".parquet") && !p.contains("_SUCCESS")).head
    finally listing.close()
    Files.copy(Paths.get(part), Paths.get(stageDir, "zz_sentinel.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    stageDir
  }

  /** Native session_window aggregation in streaming append mode: a
    * session (30-minute gap) emits only once the watermark passes its
    * end. The sentinel drains every real session; its own open session
    * stays in state (the terminal condition for the wait loop). Oracle
    * = the batch lag/gap sessionization (q_sessionize's discipline):
    * session end is last event + gap, exactly session_window's end. */
  val qStreamSessionWindow = QueryDef("q_stream_session_window",
    // 4 shuffle partitions: session-window state stores are per-
    // partition fixed cost per micro-batch (32 would commit 32 stores)
    (s, dir) => Tables.streaming(s) {
      val stageDir = stageWithSentinel(s, dir)
      val tsDiv = Tables.eventsTsDiv(s, dir)
      val src = s.readStream
        .schema("event_id LONG, ts LONG, user_id LONG")
        .parquet(stageDir)
        .withColumn("ets", timestamp_micros(expr(s"ts div $tsDiv")))
        .withWatermark("ets", "1 hour")
      val q = src
        .groupBy(col("user_id"), session_window(col("ets"), "30 minutes"))
        .agg(count(lit(1)).cast("long").as("n"))
        .select(col("user_id"),
          unix_micros(col("session_window.start")).as("start_us"),
          unix_micros(col("session_window.end")).as("end_us"), col("n"))
        .writeStream.outputMode("append")
        .format("memory").queryName("graft_ssw_out").start()
      Tables.drainStateTo(q, targetRows = 1)
      q.stop()
      s.table("graft_ssw_out").where(col("user_id") >= 0)
        .orderBy("user_id", "start_us")
    },
    Some(
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us FROM events),
        |x AS (SELECT user_id, us, lag(us) OVER (PARTITION BY user_id ORDER BY us) AS prev FROM e),
        |y AS (SELECT user_id, us,
        |        CASE WHEN prev IS NULL OR us - prev > 1800000000 THEN 1 ELSE 0 END AS brk FROM x),
        |z AS (SELECT user_id, us,
        |        sum(brk) OVER (PARTITION BY user_id ORDER BY us
        |                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM y)
        |SELECT user_id, min(us) AS start_us, max(us) + 1800000000 AS end_us,
        |       CAST(count(*) AS BIGINT) AS n
        |FROM z GROUP BY user_id, sid ORDER BY user_id, start_us""".stripMargin))

  /** Last-touch attribution: each purchase as-of joins its user's most
    * recent click (union+window AsOfJoin — ONE shuffle of |P|+|C|, no
    * pair blowup), attributed only within a 24 h lookback; revenue
    * aggregated decimal-exactly per attribution bucket. */
  val qAttribution = QueryDef("q_attribution",
    (s, dir) => {
      val ev = Tables.events(s, dir)
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      val clicks = ev.where(col("event_type") === "click")
        .select(col("user_id").as("c_uid"), col("ts").as("c_ts"),
          col("event_id").as("click_id"))
      graft.operators.AsOfJoin.asOf(purchases, clicks,
        leftKey = "user_id", rightKey = "c_uid",
        leftTime = "ts", rightTime = "c_ts",
        rightTie = "click_id", rightVals = Seq("click_id", "c_ts"))
        .withColumn("attributed",
          (col("click_id").isNotNull &&
            unix_micros(col("ts")) - unix_micros(col("c_ts")) <= 86400000000L)
            .cast("int"))
        .groupBy("attributed")
        .agg(count(lit(1)).cast("long").as("n"),
          sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
            .cast("double").as("revenue"))
        .orderBy("attributed")
    },
    Some(
      """WITH p AS (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT user_id AS c_uid, ts AS c_ts, event_id AS click_id FROM events WHERE event_type = 'click'),
        |j AS (SELECT p.event_id, p.value, l.click_id, l.c_ts, p.ts FROM p LEFT JOIN LATERAL (
        |  SELECT click_id, c_ts FROM c WHERE c_uid = p.user_id AND c_ts <= p.ts
        |  ORDER BY c_ts DESC, click_id DESC LIMIT 1) l ON TRUE),
        |a AS (SELECT CAST(CASE WHEN click_id IS NOT NULL
        |         AND epoch_us(ts) - epoch_us(c_ts) <= 86400000000
        |         THEN 1 ELSE 0 END AS INTEGER) AS attributed, value FROM j)
        |SELECT attributed, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM a GROUP BY attributed ORDER BY attributed""".stripMargin))

  val all: Seq[QueryDef] = Seq(qFunnel, qCohortRetention, qStreamSessionWindow,
    qAttribution)
}
