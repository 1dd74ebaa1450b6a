package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.{PartitionedMovingAggExec, PartitionedRankExec, PartitionedRunningAggExec, PartitionedShiftExec}
import graft.rules.RewriteGlobalRankWindows

/** [[graft.plans.GlobalMovingAgg]] — distributed exact global
  * moving-frame aggregates (late r12): bounded boundary rows + per-row
  * rebuffering with the functions' own Catalyst expressions. Pinned
  * against the built-in windows: trailing / centered / pure-past /
  * pure-future frames, frames wider than partitions (tail
  * telescoping), empty frames at the global edges, mixed frames in one
  * node, the four-family stack on one exchange, and the non-rewrites
  * (RANGE moving frames, over-cap extents). */
class GlobalMovingAggSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def noAqePlan(df: DataFrame) = {
    val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try df.queryExecution.executedPlan
    finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  private def assertSame(windowed: DataFrame): Unit = {
    val forced = RewriteGlobalRankWindows.force(windowed)
    assert(forced.schema == windowed.schema)
    assert(RowMultiset.of(forced) == RowMultiset.of(windowed))
    val p = noAqePlan(RewriteGlobalRankWindows.force(windowed))
    assert(p.collect { case x: WindowExec => x }.isEmpty, p.toString)
    assert(p.collect { case g: PartitionedMovingAggExec if g.partKeys.isEmpty => g }.size == 1, p.toString)
  }

  test("trailing frame: moving sum/min/max/count/avg == built-ins, many partitions") {
    val df = spark.range(2000)
      .select((col("id") * 48271L % 3001L).as("v"), col("id"),
        (col("id") % 157 - 50).as("x")).repartition(9)
    val w = Window.orderBy("v", "id").rowsBetween(-6, 0)
    assertSame(df.select(col("v"), col("id"),
      sum("x").over(w).as("msum"), min("x").over(w).as("mmin"),
      max("x").over(w).as("mmax"), count("x").over(w).as("mcnt"),
      avg("x").over(w).as("mavg")))
  }

  test("centered, pure-past, pure-future, and mixed frames in ONE node") {
    val df = spark.range(900)
      .select((col("id") * 37L % 701L).as("v"), (col("id") % 83).as("x"))
      .repartition(7)
    val wc = Window.orderBy("v").rowsBetween(-2, 2)
    val wp = Window.orderBy("v").rowsBetween(-5, -2)
    val wf = Window.orderBy("v").rowsBetween(1, 3)
    // three different frames over the same order — Catalyst groups them
    // into one Window node; the rewrite must carry per-function frames
    assertSame(df.select(col("v"), col("x"),
      sum("x").over(wc).as("c_sum"),
      sum("x").over(wp).as("p_sum"), count("x").over(wp).as("p_cnt"),
      sum("x").over(wf).as("f_sum"), min("x").over(wf).as("f_min")))
  }

  test("frames wider than partitions: boundary tails telescope through short partitions") {
    // 120 rows over 40 partitions (~3 rows each) with a ±15-row frame:
    // every frame spans ~10 partitions, so prevTail/nextHead must
    // telescope through many short boundary contributions
    val df = spark.range(120)
      .select((col("id") * 13L % 121L).as("v"), (col("id") % 19).as("x"))
      .repartition(40)
    val w = Window.orderBy("v").rowsBetween(-15, 15)
    assertSame(df.select(col("v"), col("x"),
      sum("x").over(w).as("msum"), count("x").over(w).as("mcnt")))
  }

  test("empty frames at the global edges evaluate the initial buffer (null sum, zero count)") {
    val df = spark.range(4).select(col("id").as("v"), (col("id") + 10).as("x"))
    // pure-past frame on 4 rows: rows 0 and 1 have EMPTY frames
    val w = Window.orderBy("v").rowsBetween(-3, -2)
    val windowed = df.select(col("v"),
      sum("x").over(w).as("s"), count("x").over(w).as("c"))
    assertSame(windowed)
    val got = RewriteGlobalRankWindows.force(windowed)
      .orderBy("v").collect().map(r => (r.get(1), r.getLong(2))).toSeq
    assert(got == Seq((null, 0L), (null, 0L), (10L, 1L), (21L, 2L)))
  }

  test("SQL-parsed PRECEDING/FOLLOWING bounds (UnaryMinus form) rewrite too") {
    spark.range(300)
      .select((col("id") * 7L % 211L).as("v"), (col("id") % 29).as("x"))
      .createOrReplaceTempView("ma_t")
    val windowed = spark.sql(
      """SELECT v, x,
        |  sum(x) OVER (ORDER BY v ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS t_sum,
        |  avg(x) OVER (ORDER BY v ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING) AS c_avg
        |FROM ma_t""".stripMargin)
    assertSame(windowed)
  }

  test("four-family stack: rank + shift + running + moving agg on ONE exchange") {
    val df = spark.range(700)
      .select((col("id") * 31L % 509L).as("v"), (col("id") % 40).as("x"))
    val w = Window.orderBy("v")
    val wr = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wm = w.rowsBetween(-4, 1)
    val windowed = df.select(col("v"), col("x"),
      row_number().over(w).as("rn"),
      lag("x", 2).over(w).as("prev"),
      sum("x").over(wr).as("rsum"),
      sum("x").over(wm).as("msum"))
    val forced = RewriteGlobalRankWindows.force(windowed)
    assert(RowMultiset.of(forced) == RowMultiset.of(windowed))
    val p = noAqePlan(RewriteGlobalRankWindows.force(windowed))
    assert(p.collect { case x: WindowExec => x }.isEmpty, p.toString)
    assert(p.collect { case g: PartitionedRankExec if g.partKeys.isEmpty => g }.size == 1)
    assert(p.collect { case g: PartitionedShiftExec if g.partKeys.isEmpty => g }.size == 1)
    assert(p.collect { case g: PartitionedRunningAggExec if g.partKeys.isEmpty => g }.size == 1)
    assert(p.collect { case g: PartitionedMovingAggExec if g.partKeys.isEmpty => g }.size == 1)
    assert(p.collect { case e: ShuffleExchangeExec => e }.size == 1,
      s"four families must share one range exchange:\n$p")
  }

  test("moving-lower-bound nth_value rides the rebuffer ring (late r13)") {
    // NthValue IS a DeclarativeAggregate — the frame rebuffer runs its
    // own update expressions in frame order, so trailing / centered /
    // pure-future nth_value (incl. IGNORE NULLS) matches the built-in
    // bit-for-bit, including frames clipped at the global edges
    val df = spark.range(1200)
      .select((col("id") * 48271L % 2003L).as("v"), col("id"),
        when(col("id") % 5 === 0, lit(null)).otherwise(col("id") % 61).as("x"))
      .repartition(8)
    val w = Window.orderBy("v", "id")
    assertSame(df.select(col("v"), col("x"),
      expr("nth_value(x, 2)").over(w.rowsBetween(-3, 0)).as("n2t"),
      expr("nth_value(x, 3)").over(w.rowsBetween(-2, 2)).as("n3c"),
      expr("nth_value(x, 1)").over(w.rowsBetween(1, 4)).as("n1f"),
      expr("nth_value(x, 2) IGNORE NULLS").over(w.rowsBetween(-4, 0)).as("n2nn"),
      // a plain aggregate in the same node: mixed admission
      sum("x").over(w.rowsBetween(-3, 0)).as("msum")))
  }

  test("non-rewrites: over-cap extents keep WindowExec") {
    spark.range(100).select(col("id").as("v"), (col("id") % 7).as("x"))
      .createOrReplaceTempView("ma_nr")
    def kept(sql: String): Unit = {
      val p = noAqePlan(RewriteGlobalRankWindows.force(spark.sql(sql)))
      assert(p.collect { case g: PartitionedMovingAggExec if g.partKeys.isEmpty => g }.isEmpty, sql)
      assert(p.collect { case x: WindowExec => x }.size == 1, sql)
    }
    // extent beyond spark.graft.rewrite.maxShiftOffset (default 1024):
    // boundary state scales linearly with it — fall back to the built-in
    kept("SELECT v, sum(x) OVER (ORDER BY v ROWS BETWEEN 5000 PRECEDING AND CURRENT ROW) AS s FROM ma_nr")
    // (integral-key RANGE moving frames rewrote here until r13 grew
    // GlobalRangeMovingAgg — their rewrite and its own non-rewrites
    // are pinned in GlobalRangeMovingAggSpec)
  }
}
