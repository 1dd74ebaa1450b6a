package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, IntegerType, LongType}

import graft.catalog.GraftViews
import graft.core.Tables
import graft.plans.GlobalRank
import graft.plans.GlobalRank.Key
import graft.queries.Queries.QueryDef

/** Hundred-eighth wave — justified under the r7
  * no-new-wave-without-new-surface rule (SURVEY §7.2): the distributed
  * exact-rank primitive ([[graft.plans.PartitionedRank]], VERDICT r11 task 1
  * — the EXECUTED form of the `WindowWhitelist` ENTITY-class entries'
  * documented 100 TB alternative).
  *
  *  - `q_rfm_ranked`: the q_rfm RFM segmentation routed through
  *    [[GlobalRank.globalRowNumber]] instead of three unpartitioned
  *    `ntile` windows. Same statistic, same oracle, bit-equal output
  *    (GlobalRankSpec pins equality against q_rfm itself) — but the
  *    plan has NO unpartitioned WindowExec: each score is a
  *    range-partitioned two-pass exact rank, and the `ntile(4)` bucket
  *    is recomputed from (rank, n) with the standard first-`n % k`-
  *    buckets-get-the-extra-row rule, in pure integer arithmetic.
  *    PlanShapeSpec pins the shape: zero WindowExec, three
  *    PartitionedRankExec, no single-partition exchange anywhere.
  *
  *  - `q_dsv2_views`: the DSv2 VIEW CATALOG tier (VERDICT r11 task 2;
  *    [[graft.catalog.GraftViewCatalogSupport]] + the analyzer wiring
  *    Spark 4.1 lacks): a catalog table is built from the orders
  *    slice, a view over it is CREATEd with a deliberately wrong body
  *    and then `ALTER VIEW ... AS`-replaced with the real rollup, and
  *    the final SELECT aggregates THROUGH the view — create,
  *    replace-body, and view substitution all sit on the oracle-checked
  *    path. The full DDL surface (OR REPLACE, DROP, SHOW, properties,
  *    rename, aliases, view-on-view) is pinned in Dsv2ViewSpec.
  */
object R108Queries {

  /** ntile(k)-from-rank, SQL-standard bucket fill (first `n % k`
    * buckets take `n DIV k + 1` rows): pure BIGINT arithmetic on the
    * global row_number `rank` and total row count `n_total`. The ELSE
    * branch divides by `n DIV k` — only reachable when rank exceeds
    * rem*(q+1), impossible for n < k, so the divisor is ≥ 1 there. */
  private def tileOf(rank: String, k: Int): String =
    s"""CAST(CASE WHEN $rank <= (n_total % $k) * (n_total DIV $k + 1)
       |  THEN ($rank - 1) DIV (n_total DIV $k + 1) + 1
       |  ELSE (n_total % $k)
       |    + ($rank - 1 - (n_total % $k) * (n_total DIV $k + 1))
       |      DIV (n_total DIV $k) + 1
       |END AS INT)""".stripMargin

  val qRfmRanked = QueryDef("q_rfm_ranked",
    (s, dir) => {
      val orders = Tables.load(s, dir, "orders")
      // base: identical per-customer rollup to q_rfm's `base` CTE
      val base = orders.groupBy(col("o_custkey")).agg(
        datediff(lit(java.sql.Date.valueOf("2001-09-01")),
          max(col("o_orderdate").cast("date"))).cast(LongType).as("recency"),
        count(lit(1)).cast(LongType).as("frequency"),
        sum(col("o_totalprice").cast(DecimalType(18, 2)))
          .cast(DoubleType).as("monetary"))
      // three chained distributed exact ranks — the scale twin of the
      // three ntile windows; each is its own range exchange, every
      // partition working, ties broken by the unique o_custkey
      val r1 = GlobalRank.globalRowNumber(base, "r_rank",
        Seq(Key("recency"), Key("o_custkey")))
      val r2 = GlobalRank.globalRowNumber(r1, "f_rank",
        Seq(Key("frequency", desc = true), Key("o_custkey")))
      val r3 = GlobalRank.globalRowNumber(r2, "m_rank",
        Seq(Key("monetary", desc = true), Key("o_custkey")))
      // n for the tile formula: one-row aggregate, broadcast — the
      // groupBy exchange is shared with `base` via ReuseExchange
      val n = base.agg(count(lit(1)).cast(LongType).as("n_total"))
      r3.crossJoin(broadcast(n))
        .select(col("monetary"),
          expr(tileOf("r_rank", 4)).as("r_score"),
          expr(tileOf("f_rank", 4)).as("f_score"),
          expr(tileOf("m_rank", 4)).as("m_score"))
        .groupBy("r_score", "f_score", "m_score")
        .agg(count(lit(1)).cast(LongType).as("n_customers"),
          sum(col("monetary").cast(DecimalType(18, 2)))
            .cast(DoubleType).as("segment_value"))
        .orderBy("r_score", "f_score", "m_score")
    },
    // identical statistic, so the oracle IS q_rfm's oracle: DuckDB's
    // own ntile over the same per-customer rollup
    Some(
      """WITH base AS (
        |  SELECT o_custkey,
        |    CAST(date_diff('day', max(CAST(o_orderdate AS DATE)), DATE '2001-09-01') AS BIGINT) AS recency,
        |    CAST(count(*) AS BIGINT) AS frequency,
        |    sum(CAST(o_totalprice AS DECIMAL(18,2))) AS monetary
        |  FROM orders GROUP BY 1),
        |scored AS (SELECT o_custkey, recency, frequency, CAST(monetary AS DOUBLE) AS monetary,
        |    CAST(ntile(4) OVER (ORDER BY recency, o_custkey) AS INT) AS r_score,
        |    CAST(ntile(4) OVER (ORDER BY frequency DESC, o_custkey) AS INT) AS f_score,
        |    CAST(ntile(4) OVER (ORDER BY monetary DESC, o_custkey) AS INT) AS m_score
        |  FROM base)
        |SELECT r_score, f_score, m_score, CAST(count(*) AS BIGINT) AS n_customers,
        |  CAST(sum(CAST(monetary AS DECIMAL(18,2))) AS DOUBLE) AS segment_value
        |FROM scored GROUP BY r_score, f_score, m_score
        |ORDER BY r_score, f_score, m_score""".stripMargin))

  val qDsv2Views = QueryDef("q_dsv2_views",
    (s, dir) => {
      s.conf.set("spark.sql.catalog.graft_tab",
        "graft.catalog.GraftTableCatalog")
      val sv = GraftViews.sessionWithViews(s)
      sv.conf.set("spark.sql.catalog.graft_tab",
        "graft.catalog.GraftTableCatalog")
      val tbl = "graft_tab.v12.orders_slim"
      // idempotent per invocation (bench runs sub-second queries twice)
      sv.sql(s"DROP TABLE IF EXISTS $tbl")
      sv.sql(s"CREATE TABLE $tbl (o_custkey BIGINT, cents BIGINT)")
      Tables.load(sv, dir, "orders")
        .where(col("o_orderkey") % 3 === 0)
        .select(col("o_custkey"),
          expr("CAST(round(o_totalprice * 100.0) AS BIGINT)").as("cents"))
        .writeTo(tbl).append()
      sv.sql("DROP VIEW IF EXISTS graft_tab.v12.cust_rollup")
      // CREATE with a deliberately wrong slice, then replace the body —
      // both legs of the view lifecycle feed the oracle-checked result
      sv.sql("CREATE VIEW graft_tab.v12.cust_rollup AS " +
        "SELECT o_custkey, CAST(count(*) AS BIGINT) AS cnt, " +
        s"CAST(sum(cents) AS BIGINT) AS cents_sum FROM $tbl " +
        "WHERE o_custkey < 0 GROUP BY o_custkey")
      sv.sql("ALTER VIEW graft_tab.v12.cust_rollup AS " +
        "SELECT o_custkey, CAST(count(*) AS BIGINT) AS cnt, " +
        s"CAST(sum(cents) AS BIGINT) AS cents_sum FROM $tbl " +
        "GROUP BY o_custkey")
      sv.sql(
        """SELECT cnt AS n_orders, CAST(count(*) AS BIGINT) AS n_customers,
          |  CAST(sum(cents_sum) AS BIGINT) AS cents_total
          |FROM graft_tab.v12.cust_rollup
          |GROUP BY cnt ORDER BY n_orders""".stripMargin)
    },
    Some(
      """WITH slim AS (
        |  SELECT o_custkey, CAST(round(o_totalprice * 100.0) AS BIGINT) AS cents
        |  FROM orders WHERE o_orderkey % 3 = 0),
        |cust_rollup AS (
        |  SELECT o_custkey, CAST(count(*) AS BIGINT) AS cnt,
        |    CAST(sum(cents) AS BIGINT) AS cents_sum
        |  FROM slim GROUP BY o_custkey)
        |SELECT cnt AS n_orders, CAST(count(*) AS BIGINT) AS n_customers,
        |  CAST(sum(cents_sum) AS BIGINT) AS cents_total
        |FROM cust_rollup GROUP BY cnt ORDER BY n_orders""".stripMargin))

  val all: Seq[QueryDef] = Seq(qRfmRanked, qDsv2Views)
}
