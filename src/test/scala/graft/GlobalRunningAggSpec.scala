package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.{PartitionedRankExec, PartitionedRunningAggExec, PartitionedShiftExec}
import graft.rules.RewriteGlobalRankWindows

/** [[graft.plans.GlobalRunningAgg]] — distributed exact global running
  * aggregates (late r12): prefix-merged DeclarativeAggregate buffers.
  * Pinned against the built-in windows: ROWS streaming, RANGE
  * tie-group semantics, decimal widening / null skipping through the
  * functions' own Catalyst expressions, the three-family stack on one
  * exchange, and the non-rewrites. */
class GlobalRunningAggSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def noAqePlan(df: DataFrame) = {
    val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try df.queryExecution.executedPlan
    finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("ROWS frame: running sum/min/max/count/avg == built-ins, many partitions") {
    val df = spark.range(2000)
      .select((col("id") * 48271L % 3001L).as("v"), col("id"),
        (col("id") % 157 - 50).as("x")).repartition(9)
    val w = Window.orderBy("v", "id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    def build(d: DataFrame) = d.select(col("v"), col("id"),
      sum("x").over(w).as("rsum"), min("x").over(w).as("rmin"),
      max("x").over(w).as("rmax"), count("x").over(w).as("rcnt"),
      avg("x").over(w).as("ravg"))
    val windowed = build(df)
    val forced = RewriteGlobalRankWindows.force(windowed)
    assert(forced.schema == windowed.schema)
    assert(RowMultiset.of(forced) == RowMultiset.of(windowed))
    val p = noAqePlan(RewriteGlobalRankWindows.force(windowed))
    assert(p.collect { case x: WindowExec => x }.isEmpty, p.toString)
    assert(p.collect { case g: PartitionedRunningAggExec if g.partKeys.isEmpty => g }.size == 1, p.toString)
  }

  test("RANGE frame (the SQL default) ends at the tie group — exact under heavy ties") {
    val df = spark.range(5000)
      .select((col("id") % 13).as("k"), (col("id") % 97).as("x"))
      .repartition(8)
    // no explicit frame → RANGE UNBOUNDED PRECEDING .. CURRENT ROW:
    // peers share the group-end value, so every row is deterministic
    // even though the tie ORDER is arbitrary
    val w = Window.orderBy("k")
    def build(d: DataFrame) = d.select(col("k"), col("x"),
      sum("x").over(w).as("rsum"), count(lit(1)).over(w).as("rcnt"))
    val windowed = build(df)
    val forced = RewriteGlobalRankWindows.force(windowed)
    assert(RowMultiset.of(forced) == RowMultiset.of(windowed))
  }

  test("decimal sum widens, avg divides, count skips nulls — the functions' own exprs") {
    val df = Seq(
      (1L, Some(BigDecimal("10.25")), Some(5L)),
      (2L, Some(BigDecimal("0.75")), None),
      (3L, None, Some(7L)),
      (4L, Some(BigDecimal("99999.99")), Some(1L)))
      .toDF("v", "d", "n")
    val w = Window.orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    def build(x: DataFrame) = x.select(col("v"),
      sum("d").over(w).as("dsum"), count("n").over(w).as("ncnt"),
      avg("n").over(w).as("navg"))
    val windowed = build(df)
    val forced = RewriteGlobalRankWindows.force(windowed)
    assert(forced.schema == windowed.schema)
    assert(RowMultiset.of(forced) == RowMultiset.of(windowed))
  }

  test("count(*) and three-family stack: rank + shift + running agg on ONE exchange") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val df = spark.range(700)
      .select((col("id") * 31L % 509L).as("v"), (col("id") % 40).as("x"))
    val w = Window.orderBy("v")
    val wr = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val windowed = df.select(col("v"), col("x"),
      row_number().over(w).as("rn"),
      lag("x", 2).over(w).as("prev"),
      count(lit(1)).over(wr).as("rcnt"),
      sum("x").over(wr).as("rsum"))
    val forced = RewriteGlobalRankWindows.force(windowed)
    assert(RowMultiset.of(forced) == RowMultiset.of(windowed))
    val p = noAqePlan(RewriteGlobalRankWindows.force(windowed))
    assert(p.collect { case x: WindowExec => x }.isEmpty, p.toString)
    assert(p.collect { case g: PartitionedRankExec if g.partKeys.isEmpty => g }.size == 1)
    assert(p.collect { case g: PartitionedShiftExec if g.partKeys.isEmpty => g }.size == 1)
    assert(p.collect { case g: PartitionedRunningAggExec if g.partKeys.isEmpty => g }.size == 1)
    assert(p.collect { case e: ShuffleExchangeExec => e }.size == 1,
      s"three families must share one range exchange:\n$p")
  }

  test("bit/bool reducers bit-exact; variance/stddev within ulps of the built-in") {
    val df = spark.range(1200)
      .select((col("id") * 37L % 911L).as("v"), (col("id") % 255).as("b"),
        (col("id") % 11 === 0).as("f")).repartition(6)
    val w = Window.orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // exact family: integer bitwise + boolean reducers
    val exactW = df.select(col("v"),
      expr("bit_and(b)").over(w).as("ba"), expr("bit_or(b)").over(w).as("bo"),
      expr("bit_xor(b)").over(w).as("bx"),
      expr("bool_or(f)").over(w).as("any_f"), expr("bool_and(f)").over(w).as("all_f"))
    val exactF = RewriteGlobalRankWindows.force(exactW)
    assert(exactF.schema == exactW.schema)
    assert(RowMultiset.of(exactF) == RowMultiset.of(exactW))
    assert(noAqePlan(RewriteGlobalRankWindows.force(exactW)).collect {
      case g: PartitionedRunningAggExec if g.partKeys.isEmpty => g
    }.size == 1)
    // moment family: the prefix seed merges partials (Welford combine),
    // so values can differ from the sequential built-in in final ulps —
    // the same reassociation as any partial aggregation; compare with
    // relative tolerance
    val momW = df.select(col("v"),
      stddev("b").over(w).as("sd"), var_samp("b").over(w).as("vs"))
    val momF = RewriteGlobalRankWindows.force(momW)
    val got = momF.orderBy("v").select("sd", "vs")
      .collect().map(r => (r.get(0), r.get(1)))
    val want = momW.orderBy("v").select("sd", "vs")
      .collect().map(r => (r.get(0), r.get(1)))
    assert(got.length == want.length)
    def close(a: Any, b: Any): Boolean = (a, b) match {
      case (null, null) => true
      case (x: Double, y: Double) =>
        x == y || math.abs(x - y) <= 1e-9 * math.max(math.abs(x), math.abs(y))
      case _ => false
    }
    got.zip(want).foreach { case ((g1, g2), (w1, w2)) =>
      assert(close(g1, w1) && close(g2, w2), s"($g1,$g2) vs ($w1,$w2)")
    }
  }

  test("non-rewrites: moving frames and order-sensitive aggs keep WindowExec") {
    val df = spark.range(100).select(col("id").as("v"), (col("id") % 7).as("x"))
    df.createOrReplaceTempView("ra_t")
    def kept(sql: String): Unit = {
      val forced = RewriteGlobalRankWindows.force(spark.sql(sql))
      val p = noAqePlan(forced)
      assert(p.collect { case g: PartitionedRunningAggExec if g.partKeys.isEmpty => g }.isEmpty, sql)
      assert(p.collect { case x: WindowExec => x }.size == 1, sql)
    }
    // (DISTINCT and FILTER window aggregates are rejected by the
    // analyzer itself — the matcher's isDistinct=false / filter=None
    // arms are pure defense)
    // bounded ROWS moving frames route to GlobalMovingAgg since late
    // r12 (GlobalMovingAggSpec); bounded RANGE moving frames on
    // integral ascending keys route to GlobalRangeMovingAgg since r13
    // (GlobalRangeMovingAggSpec pins both directions) — unbounded-
    // buffer imperatives still keep WindowExec
    kept("SELECT v, collect_list(x) OVER (ORDER BY v) AS s FROM ra_t")
    // (moving-lower-bound nth_value routes to the moving rebuffer ring
    // since late r13 — GlobalMovingAggSpec pins it; start-anchored
    // forms rewrite via GlobalNthValue; first_value/last_value rewrite
    // since the r12 ordered-allowlist widening, tested below)
  }

  test("first_value/last_value run distributed: ROWS, RANGE ties, IGNORE NULLS") {
    val df = spark.range(3000)
      .select((col("id") * 131L % 2003L).as("v"), col("id"),
        when(col("id") % 5 === 0, lit(null)).otherwise(col("id") % 89)
          .as("x"))
      .repartition(7)
    // total order: every value deterministic, incl. the tie-free RANGE
    val w = Window.orderBy("v", "id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    def build(d: DataFrame) = d.select(col("v"), col("id"),
      first(col("x")).over(w).as("fv"),
      last(col("x")).over(w).as("lv"),
      first(col("x"), ignoreNulls = true).over(w).as("fvn"),
      last(col("x"), ignoreNulls = true).over(w).as("lvn"))
    val windowed = build(df)
    val forced = RewriteGlobalRankWindows.force(windowed)
    assert(forced.schema == windowed.schema)
    assert(RowMultiset.of(forced) == RowMultiset.of(windowed))
    val p = noAqePlan(RewriteGlobalRankWindows.force(windowed))
    assert(p.collect { case x: WindowExec => x }.isEmpty, p.toString)
    assert(p.collect { case g: PartitionedRunningAggExec if g.partKeys.isEmpty => g }.size == 1, p.toString)
  }

  test("last_value under the default RANGE frame takes the tie-GROUP end") {
    val df = spark.range(900)
      .select((col("id") % 7).as("k"), (col("id") % 7 * 11).as("x"))
      .repartition(5)
    // x is a function of the order key, so the group-end value is
    // deterministic despite arbitrary tie order
    val w = Window.orderBy("k")
    def build(d: DataFrame) = d.select(col("k"),
      last(col("x")).over(w).as("lv"),
      first(col("x")).over(w).as("fv"))
    val windowed = build(df)
    val forced = RewriteGlobalRankWindows.force(windowed)
    assert(RowMultiset.of(forced) == RowMultiset.of(windowed))
  }
}
