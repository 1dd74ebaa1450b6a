package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.{PartitionedNthValueExec, PartitionedRankExec, PartitionedRunningAggExec}
import graft.rules.RewriteGlobalRankWindows

/** [[graft.plans.GlobalNthValue]] — distributed exact global
  * `nth_value` under frames anchored at the global start: one global
  * constant (the k-th / k-th non-null row of the ordered input) gated
  * per row on the frame reaching k rows. Pinned against the built-in:
  * ROWS / RANGE-tie-group / whole-frame gating, IGNORE NULLS, k past
  * the input end, the multi-family stack on one exchange, and the
  * non-rewrites (moving lower bounds, over-cap k). */
class GlobalNthValueSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def noAqePlan(df: DataFrame) = {
    val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try df.queryExecution.executedPlan
    finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("ROWS frame: plain and IGNORE NULLS nth_value == built-ins, many partitions") {
    val df = spark.range(2500)
      .select((col("id") * 67L % 1999L).as("v"), col("id"),
        when(col("id") % 4 === 0, lit(null)).otherwise(col("id") % 73)
          .as("x"))
      .repartition(8)
    val w = Window.orderBy("v", "id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    def build(d: DataFrame) = d.select(col("v"), col("id"),
      nth_value(col("x"), 7).over(w).as("n7"),
      nth_value(col("x"), 40, ignoreNulls = true).over(w).as("n40nn"),
      nth_value(col("x"), 1).over(w).as("n1"))
    val windowed = build(df)
    val forced = RewriteGlobalRankWindows.force(windowed)
    assert(forced.schema == windowed.schema)
    assert(RowMultiset.of(forced) == RowMultiset.of(windowed))
    val p = noAqePlan(RewriteGlobalRankWindows.force(windowed))
    assert(p.collect { case x: WindowExec => x }.isEmpty, p.toString)
    assert(p.collect { case g: PartitionedNthValueExec if g.partKeys.isEmpty => g }.size == 1, p.toString)
  }

  test("default RANGE frame gates on the tie-GROUP end; whole frame shows everywhere") {
    val df = spark.range(1100)
      .select((col("id") % 11).as("k"), (col("id") % 11 * 13).as("x"))
      .repartition(6)
    // x is a function of the order key → the k-th value and every
    // group-end gate are deterministic despite arbitrary tie order
    val w = Window.orderBy("k")
    val wf = Window.orderBy("k")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    def build(d: DataFrame) = d.select(col("k"), col("x"),
      nth_value(col("x"), 150).over(w).as("n150"),
      nth_value(col("x"), 150).over(wf).as("n150w"),
      nth_value(col("x"), 5000).over(w).as("npast"))
    val windowed = build(df)
    val forced = RewriteGlobalRankWindows.force(windowed)
    assert(forced.schema == windowed.schema)
    assert(RowMultiset.of(forced) == RowMultiset.of(windowed))
    // k past the input end: null on every row (checked against the
    // built-in above, and explicitly here)
    assert(forced.select("npast").distinct().collect().toSeq
      .map(_.get(0)) == Seq(null))
  }

  test("nth_value stacks with rank + running agg on ONE range exchange") {
    val df = spark.range(800)
      .select((col("id") * 53L % 761L).as("v"), (col("id") % 31).as("x"))
    val w = Window.orderBy("v")
    val wr = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val windowed = df.select(col("v"), col("x"),
      row_number().over(w).as("rn"),
      sum("x").over(wr).as("rsum"),
      nth_value(col("x"), 3).over(wr).as("n3"))
    val forced = RewriteGlobalRankWindows.force(windowed)
    assert(RowMultiset.of(forced) == RowMultiset.of(windowed))
    val p = noAqePlan(RewriteGlobalRankWindows.force(windowed))
    assert(p.collect { case x: WindowExec => x }.isEmpty, p.toString)
    assert(p.collect { case g: PartitionedRankExec if g.partKeys.isEmpty => g }.size == 1)
    assert(p.collect { case g: PartitionedRunningAggExec if g.partKeys.isEmpty => g }.size == 1)
    assert(p.collect { case g: PartitionedNthValueExec if g.partKeys.isEmpty => g }.size == 1)
    assert(p.collect { case e: ShuffleExchangeExec => e }.size == 1,
      s"the families must share one range exchange:\n$p")
  }

  test("non-rewrites: moving lower bounds and over-cap k keep WindowExec") {
    val df = spark.range(100).select(col("id").as("v"), (col("id") % 7).as("x"))
    df.createOrReplaceTempView("nv_t")
    def kept(sql: String): Unit = {
      val p = noAqePlan(RewriteGlobalRankWindows.force(spark.sql(sql)))
      assert(p.collect { case g: PartitionedNthValueExec if g.partKeys.isEmpty => g }.isEmpty, sql)
      assert(p.collect { case x: WindowExec => x }.size == 1, sql)
    }
    // a moving lower bound un-anchors the frame start: the k-th frame
    // row is no longer one global constant — since late r13 it rides
    // the moving REBUFFER ring instead of WindowExec (NthValue is a
    // DeclarativeAggregate; GlobalMovingAggSpec pins the values)
    val pm = noAqePlan(RewriteGlobalRankWindows.force(spark.sql(
      "SELECT v, nth_value(x, 2) OVER (ORDER BY v ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS s FROM nv_t")))
    assert(pm.collect { case g: PartitionedNthValueExec if g.partKeys.isEmpty => g }.isEmpty)
    assert(pm.collect {
      case g: graft.plans.PartitionedMovingAggExec if g.partKeys.isEmpty => g
    }.size == 1)
    assert(pm.collect { case x: WindowExec => x }.isEmpty)
    // an unbounded-FOLLOWING end with a moving lower bound still keeps
    // WindowExec (unbounded forward state)
    kept("SELECT v, nth_value(x, 2) OVER (ORDER BY v ROWS BETWEEN 3 PRECEDING AND UNBOUNDED FOLLOWING) AS s FROM nv_t")
    // boundary state is numPartitions * k values — an absurd k falls
    // back rather than bloat the driver
    kept("SELECT v, nth_value(x, 100000) OVER (ORDER BY v) AS s FROM nv_t")
  }
}
