package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.{PartitionedRankExec, PartitionedRunningAggExec}
import graft.rules.RewriteGlobalRankWindows

/** [[graft.plans.PartitionedRunningAgg]] — the skew tier's running
  * aggregate (per-user cumulative totals, the most common skewed
  * window at scale): per-key prefix buffers stitched across a hot
  * key's composite range sub-split. Pinned against the built-in
  * WindowExec on hot-key fixtures, ROWS and RANGE (tie-group) frames,
  * first/last_value's ordered-merge exactness, null keys, and the
  * rank + running-agg stack on one exchange. */
class PartitionedRunningAggSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def noAqePlan(df: DataFrame) = {
    val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try df.queryExecution.executedPlan
    finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  private def assertSame(windowed: DataFrame): Unit = {
    val forced = RewriteGlobalRankWindows.forceSkew(windowed)
    assert(forced.schema == windowed.schema)
    assert(RowMultiset.of(forced) == RowMultiset.of(windowed))
    // fresh force for the plan walk: collecting `forced` above caches
    // an AQE executedPlan, whose AdaptiveSparkPlanExec wrapper hides
    // the inner operators from collect()
    val p = noAqePlan(RewriteGlobalRankWindows.forceSkew(windowed))
    assert(p.collect { case x: WindowExec => x }.isEmpty, p.toString)
    assert(p.collect { case g: PartitionedRunningAggExec if g.partKeys.nonEmpty => g }.size == 1,
      p.toString)
  }

  test("hot key holding half the rows: cumulative sum/min/max/count/avg == built-in (ROWS)") {
    val df = spark.range(4000)
      .select(when(col("id") % 2 === 0, lit(-1L))
        .otherwise(col("id") % 31).as("k"),
        (col("id") * 48271L % 997L).as("v"), col("id"),
        (col("id") % 89 - 30).as("x"))
      .repartition(9)
    val w = Window.partitionBy("k").orderBy(col("v"), col("id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    assertSame(df.select(col("k"), col("v"), col("x"),
      sum("x").over(w).as("cs"), min("x").over(w).as("cmin"),
      max("x").over(w).as("cmax"), count("x").over(w).as("ccnt"),
      avg("x").over(w).as("cavg")))
  }

  test("default RANGE frame: tie-group ends stitch exactly under the hot key") {
    // coarse order key → big tie groups; the default frame (RANGE
    // UNBOUNDED PRECEDING .. CURRENT ROW) takes the GROUP-end value
    val df = spark.range(3000)
      .select(when(col("id") % 3 < 2, lit(0L)).otherwise(col("id") % 11).as("k"),
        (col("id") % 5).as("v"), (col("id") % 13).as("x"))
      .repartition(8)
    val w = Window.partitionBy("k").orderBy("v")
    assertSame(df.select(col("k"), col("v"), col("x"),
      sum("x").over(w).as("rsum"), count("x").over(w).as("rcnt")))
  }

  test("first_value/last_value (incl. IGNORE NULLS): ordered prefix merge stays exact") {
    val df = spark.range(2400)
      .select((col("id") % 2).as("k"), // two keys, each spans partitions
        (col("id") * 17L % 1201L).as("v"), col("id"),
        when(col("id") % 5 === 0, lit(null)).otherwise(col("id") % 67).as("x"))
      .repartition(7)
    val w = Window.partitionBy("k").orderBy(col("v"), col("id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    assertSame(df.select(col("k"), col("v"), col("x"),
      first("x").over(w).as("fv"),
      last("x").over(w).as("lv"),
      first(col("x"), ignoreNulls = true).over(w).as("fvn"),
      last(col("x"), ignoreNulls = true).over(w).as("lvn")))
  }

  test("NULL partition keys form one stitched group") {
    val df = spark.range(1000)
      .select(when(col("id") % 3 === 0, lit(null)).otherwise(col("id") % 7).as("k"),
        (col("id") * 13L % 503L).as("v"), col("id"), (col("id") % 29).as("x"))
      .repartition(6)
    val w = Window.partitionBy("k").orderBy(col("v"), col("id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    assertSame(df.select(col("k"), col("x"), sum("x").over(w).as("cs")))
  }

  test("rank + running agg in one partitioned window: both skew operators on ONE exchange") {
    val df = spark.range(1500)
      .select(when(col("id") % 2 === 0, lit(-1L)).otherwise(col("id") % 19).as("k"),
        (col("id") * 7L % 701L).as("v"), col("id"), (col("id") % 43).as("x"))
      .repartition(5)
    val w = Window.partitionBy("k").orderBy(col("v"), col("id"))
    val wr = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val windowed = df.select(col("k"), col("v"), col("x"),
      row_number().over(w).as("rn"),
      dense_rank().over(w).as("dr"),
      sum("x").over(wr).as("cs"))
    val forced = RewriteGlobalRankWindows.forceSkew(windowed)
    assert(RowMultiset.of(forced) == RowMultiset.of(windowed))
    val p = noAqePlan(RewriteGlobalRankWindows.forceSkew(windowed))
    assert(p.collect { case x: WindowExec => x }.isEmpty, p.toString)
    assert(p.collect { case g: PartitionedRankExec if g.partKeys.nonEmpty => g }.size == 1)
    assert(p.collect { case g: PartitionedRunningAggExec if g.partKeys.nonEmpty => g }.size == 1)
    assert(p.collect {
      case e: ShuffleExchangeExec
        if e.outputPartitioning.isInstanceOf[
          org.apache.spark.sql.catalyst.plans.physical.RangePartitioning] => e
    }.size == 1, s"both skew operators must share one composite exchange:\n$p")
  }

  test("non-rewrites: collect_list keeps WindowExec; moving frames route to the moving member") {
    spark.range(100).select((col("id") % 5).as("k"), col("id").as("v"),
      (col("id") % 7).as("x")).createOrReplaceTempView("pra_nr")
    def kept(sql: String): Unit = {
      val p = noAqePlan(RewriteGlobalRankWindows.forceSkew(spark.sql(sql)))
      assert(p.collect { case g: PartitionedRunningAggExec if g.partKeys.nonEmpty => g }.isEmpty, sql)
      assert(p.collect { case x: WindowExec => x }.size == 1, sql)
    }
    // unbounded-buffer order-sensitive aggregate
    kept("SELECT k, collect_list(x) OVER (PARTITION BY k ORDER BY v) AS s FROM pra_nr")
    // bounded moving frame: NOT this member's shape (no prefix stitch)
    // — since late r13 it routes to PartitionedMovingAgg instead
    // (PartitionedMovingAggSpec pins its values; here only the split)
    val pm = noAqePlan(RewriteGlobalRankWindows.forceSkew(spark.sql(
      "SELECT k, sum(x) OVER (PARTITION BY k ORDER BY v ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS s FROM pra_nr")))
    assert(pm.collect { case g: PartitionedRunningAggExec if g.partKeys.nonEmpty => g }.isEmpty)
    assert(pm.collect {
      case g: graft.plans.PartitionedMovingAggExec if g.partKeys.nonEmpty => g
    }.size == 1)
    assert(pm.collect { case x: WindowExec => x }.isEmpty)
  }
}
