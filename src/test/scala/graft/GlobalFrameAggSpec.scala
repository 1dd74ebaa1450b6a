package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.{GlobalFrameAggExec, PartitionedRunningAggExec}
import graft.rules.RewriteGlobalRankWindows

/** [[graft.plans.GlobalFrameAgg]] — the whole-frame global aggregate
  * (`agg(e) OVER ()` / `UNBOUNDED PRECEDING .. UNBOUNDED FOLLOWING`,
  * the ratio-to-total shape) computed as partial buffers + driver
  * merge + broadcast evaluate, with ZERO shuffle. Pinned against the
  * built-in window: values, schema, null/decimal behavior through the
  * functions' own Catalyst expressions, the no-exchange plan shape,
  * the mixed running+whole-frame stack on one exchange, and the
  * non-rewrites (order-sensitive aggregates stay on WindowExec). */
class GlobalFrameAggSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def noAqePlan(df: DataFrame) = {
    val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try df.queryExecution.executedPlan
    finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("OVER (): sum/min/max/count/avg == built-ins, zero exchange in the plan") {
    val df = spark.range(4000)
      .select(col("id").as("v"),
        when(col("id") % 11 === 0, lit(null)).otherwise(col("id") % 233)
          .as("x"))
    val w = Window.partitionBy() // OVER (): empty spec, whole frame
    def build(d: DataFrame) = d.select(col("v"), col("x"),
      sum("x").over(w).as("tsum"), min("x").over(w).as("tmin"),
      max("x").over(w).as("tmax"), count("x").over(w).as("tcnt"),
      count(lit(1)).over(w).as("tn"), avg("x").over(w).as("tavg"))
    val windowed = build(df)
    val forced = RewriteGlobalRankWindows.force(windowed)
    assert(forced.schema == windowed.schema)
    assert(RowMultiset.of(forced) == RowMultiset.of(windowed))
    val p = noAqePlan(RewriteGlobalRankWindows.force(windowed))
    assert(p.collect { case x: WindowExec => x }.isEmpty, p.toString)
    assert(p.collect { case g: GlobalFrameAggExec => g }.size == 1, p.toString)
    assert(p.collect { case e: ShuffleExchangeExec => e }.isEmpty,
      s"whole-frame aggregate must introduce NO exchange:\n$p")
  }

  test("explicit ROWS/RANGE UNBOUNDED..UNBOUNDED with ORDER BY also rewrites") {
    val df = spark.range(600).select((col("id") * 17 % 251).as("v"),
      (col("id") % 43).as("x"))
    df.createOrReplaceTempView("fa_t")
    val sqlText =
      """SELECT v, x,
        |  sum(x) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS t1,
        |  max(x) OVER (ORDER BY v RANGE BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS t2
        |FROM fa_t""".stripMargin
    val windowed = spark.sql(sqlText)
    val forced = RewriteGlobalRankWindows.force(windowed)
    assert(forced.schema == windowed.schema)
    assert(RowMultiset.of(forced) == RowMultiset.of(windowed))
    val p = noAqePlan(RewriteGlobalRankWindows.force(spark.sql(sqlText)))
    assert(p.collect { case x: WindowExec => x }.isEmpty, p.toString)
    assert(p.collect { case g: GlobalFrameAggExec => g }.size == 1, p.toString)
  }

  test("all-null column, empty input, decimal widening — the functions' own exprs") {
    // all nulls: sum/min/max null, count 0 — on every row
    val nulls = spark.range(50).select(col("id").as("v"),
      lit(null).cast("long").as("x"))
    val w = Window.partitionBy()
    def build(d: DataFrame) = d.select(col("v"),
      sum("x").over(w).as("s"), count("x").over(w).as("c"))
    assert(RowMultiset.of(RewriteGlobalRankWindows.force(build(nulls))) ==
      RowMultiset.of(build(nulls)))
    // empty input: no rows out, no failure from the empty driver merge
    val empty = spark.range(0).select(col("id").as("v"), col("id").as("x"))
    assert(RewriteGlobalRankWindows.force(build(empty)).collect().isEmpty)
    // decimal sum widens precision identically to the built-in
    val dec = Seq(BigDecimal("10.25"), BigDecimal("0.75"),
      BigDecimal("99999.99")).toDF("d")
    def buildDec(x: DataFrame) = x.select(col("d"),
      sum("d").over(w).as("ds"), avg("d").over(w).as("da"))
    val wantDec = buildDec(dec)
    val gotDec = RewriteGlobalRankWindows.force(buildDec(dec))
    assert(gotDec.schema == wantDec.schema)
    assert(RowMultiset.of(gotDec) == RowMultiset.of(wantDec))
  }

  test("ratio-to-total mix: running + whole-frame stack on ONE range exchange") {
    val df = spark.range(900).select((col("id") * 29 % 401).as("v"),
      (col("id") % 37).as("x"))
    df.createOrReplaceTempView("fa_mix")
    val sqlText =
      """SELECT v, x,
        |  sum(x) OVER (ORDER BY v, x) AS cum,
        |  sum(x) OVER (ORDER BY v, x ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS tot
        |FROM fa_mix""".stripMargin
    val windowed = spark.sql(sqlText)
    val forced = RewriteGlobalRankWindows.force(windowed)
    assert(RowMultiset.of(forced) == RowMultiset.of(windowed))
    val p = noAqePlan(RewriteGlobalRankWindows.force(spark.sql(sqlText)))
    assert(p.collect { case x: WindowExec => x }.isEmpty, p.toString)
    assert(p.collect { case g: PartitionedRunningAggExec if g.partKeys.isEmpty => g }.size == 1, p.toString)
    assert(p.collect { case g: GlobalFrameAggExec => g }.size == 1, p.toString)
    assert(p.collect { case e: ShuffleExchangeExec => e }.size == 1,
      s"the whole-frame node must ride the running family's exchange:\n$p")
  }

  test("sketch allowlist: approx_count_distinct OVER () is bit-equal to the built-in") {
    // HLL++ registers are maxima — the merged-partials result is
    // bit-identical to the single-task built-in under ANY partitioning
    val df = spark.range(30000)
      .select((col("id") % 101).as("v"), (col("id") * 2654435761L % 7919L).as("x"))
      .repartition(7)
    val w = Window.partitionBy()
    def build(d: DataFrame) = d.select(col("v"),
      approx_count_distinct(col("x")).over(w).as("acd"),
      approx_count_distinct(col("x"), 0.01).over(w).as("acd_hi"))
    val windowed = build(df)
    val forced = RewriteGlobalRankWindows.force(windowed)
    assert(forced.schema == windowed.schema)
    assert(RowMultiset.of(forced) == RowMultiset.of(windowed))
    val p = noAqePlan(RewriteGlobalRankWindows.force(windowed))
    assert(p.collect { case x: WindowExec => x }.isEmpty, p.toString)
    assert(p.collect { case g: GlobalFrameAggExec => g }.size == 1, p.toString)
    assert(p.collect { case e: ShuffleExchangeExec => e }.size == 1,
      s"only the repartition's own exchange:\n$p")
  }

  test("sketch allowlist: approx_percentile OVER () lands within the GK rank-error bound") {
    val n = 20000
    val df = spark.range(n)
      .select(col("id").as("v"), (col("id") * 48271L % 104729L).as("x"))
      .repartition(9)
    df.createOrReplaceTempView("fa_pct")
    // accuracy 10000 → rank error ≤ n/accuracy = 2 ranks
    val sqlText =
      """SELECT v, approx_percentile(x, 0.5, 10000) OVER () AS med
        |FROM fa_pct""".stripMargin
    val windowed = spark.sql(sqlText)
    val forced = RewriteGlobalRankWindows.force(windowed)
    assert(forced.schema == windowed.schema)
    val got = forced.select("med").distinct().collect()
    assert(got.length == 1)
    val med = got(0).getLong(0)
    // exact rank window: the value must sit within ±(rank error + 1)
    // positions of the true median in the sorted domain
    val sorted = df.select("x").orderBy("x").collect().map(_.getLong(0))
    val target = (0.5 * (n - 1)).toInt
    val lo = sorted(math.max(0, target - 3))
    val hi = sorted(math.min(n - 1, target + 3))
    assert(med >= lo && med <= hi, s"median $med outside [$lo, $hi]")
    val p = noAqePlan(RewriteGlobalRankWindows.force(spark.sql(sqlText)))
    assert(p.collect { case x: WindowExec => x }.isEmpty, p.toString)
    assert(p.collect { case g: GlobalFrameAggExec => g }.size == 1, p.toString)
  }

  test("sketch sub-conf: spark.graft.rewrite.sketchFrameAgg=false keeps sketches on WindowExec") {
    // ADVICE r12: approx_percentile's GK merge order is partition
    // order, so the sketch tier's output is partitioning-dependent
    // (within the rank-error contract) — exact-reproducibility runs
    // can turn off JUST the sketch tier; the exact families still fire
    spark.range(500).select(col("id").as("v"), (col("id") % 71).as("x"))
      .createOrReplaceTempView("fa_subconf")
    val sqlText =
      """SELECT v, approx_percentile(x, 0.5, 1000) OVER () AS med,
        |  sum(x) OVER () AS tot
        |FROM fa_subconf""".stripMargin
    spark.conf.set(RewriteGlobalRankWindows.SketchConfKey, "false")
    try {
      val p = noAqePlan(RewriteGlobalRankWindows.force(spark.sql(sqlText)))
      // the mixed node keeps WindowExec whole (one out-of-family
      // expression pins the node, same as every other family gate)
      assert(p.collect { case g: GlobalFrameAggExec => g }.isEmpty, p.toString)
      assert(p.collect { case x: WindowExec => x }.size == 1, p.toString)
    } finally spark.conf.unset(RewriteGlobalRankWindows.SketchConfKey)
    // back on (default): the same SQL rewrites
    val p2 = noAqePlan(RewriteGlobalRankWindows.force(spark.sql(sqlText)))
    assert(p2.collect { case g: GlobalFrameAggExec => g }.size == 1, p2.toString)
    assert(p2.collect { case x: WindowExec => x }.isEmpty, p2.toString)
  }

  test("non-rewrites: order-dependent whole-frame functions keep WindowExec") {
    val df = spark.range(80).select(col("id").as("v"), (col("id") % 9).as("x"))
    df.createOrReplaceTempView("fa_keep")
    def kept(sql: String): Unit = {
      val p = noAqePlan(RewriteGlobalRankWindows.force(spark.sql(sql)))
      assert(p.collect { case g: GlobalFrameAggExec => g }.isEmpty, sql)
      assert(p.collect { case x: WindowExec => x }.size == 1, sql)
    }
    // first/last over the WHOLE frame depend on the global order, which
    // the frame family never establishes — they stay built-in (the
    // running-frame forms rewrite via GlobalRunningAgg instead)
    kept("SELECT v, first_value(x) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS s FROM fa_keep")
    kept("SELECT v, last_value(x) OVER () AS s FROM fa_keep")
    kept("SELECT v, collect_list(x) OVER () AS s FROM fa_keep")
    // exact percentile routes to GlobalExactPercentile for EVERY
    // admitted input type — wide decimals joined late r13 via the
    // two-phase (high, low)-word selection (GlobalExactPercentileSpec
    // pins the values); the shape check lives there, not here
    val p = noAqePlan(RewriteGlobalRankWindows.force(spark.sql(
      "SELECT v, percentile(CAST(x AS DECIMAL(20,2)), 0.5) OVER () AS s FROM fa_keep")))
    assert(p.collect { case x: WindowExec => x }.isEmpty)
    assert(p.collect {
      case g: graft.plans.GlobalExactPercentileExec => g
    }.size == 1)
  }
}
