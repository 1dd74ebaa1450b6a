package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.{PartitionedMovingAggExec, PartitionedRankExec, PartitionedRunningAggExec, PartitionedShiftExec}
import graft.rules.RewriteGlobalRankWindows

/** [[graft.plans.PartitionedMovingAgg]] — the skew tier's bounded-ROWS
  * moving-frame member (late r13): segment-tagged frame rings +
  * key-matched boundary chains under the composite range sub-split.
  * Pinned bit-for-bit against the built-in on hot keys spanning many
  * partitions, frames clipping at key edges (empty frames), frames
  * crossing partition boundaries within a key, first/last over moving
  * frames, null keys/values, and the full four-operator skew stack on
  * one exchange. */
class PartitionedMovingAggSpec extends AnyFunSuite {
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
    val p = noAqePlan(RewriteGlobalRankWindows.forceSkew(windowed))
    assert(p.collect { case x: WindowExec => x }.isEmpty, p.toString)
    assert(p.collect { case g: PartitionedMovingAggExec if g.partKeys.nonEmpty => g }.size == 1,
      p.toString)
  }

  test("hot key holding half the rows: trailing/centered/future frames == built-in") {
    val df = spark.range(4000)
      .select(when(col("id") % 2 === 0, lit(-1L))
        .otherwise(col("id") % 37).as("k"),
        (col("id") * 48271L % 997L).as("v"), col("id"),
        (col("id") % 89).as("x"))
      .repartition(9)
    val w = Window.partitionBy("k").orderBy(col("v"), col("id"))
    assertSame(df.select(col("k"), col("v"), col("x"),
      sum("x").over(w.rowsBetween(-6, 0)).as("trail"),
      avg("x").over(w.rowsBetween(-2, 2)).as("ctr"),
      min("x").over(w.rowsBetween(1, 3)).as("fut"),
      count(lit(1)).over(w.rowsBetween(-3, -1)).as("past_n")))
  }

  test("small keys: frames clip at key edges, pure-past/future frames empty") {
    // keys of ~2 rows with 3-wide frames: nearly every frame clips at
    // a key edge; pure-past at the key head and pure-future at the key
    // tail are EMPTY — null sum, zero count, exactly the built-in
    val df = spark.range(600)
      .select((col("id") / 2).as("k"), col("id").as("v"), (col("id") % 7).as("x"))
      .repartition(6)
    val w = Window.partitionBy("k").orderBy(col("v"))
    assertSame(df.select(col("k"), col("x"),
      sum("x").over(w.rowsBetween(-3, -1)).as("past_sum"),
      count(lit(1)).over(w.rowsBetween(1, 3)).as("fut_n"),
      max("x").over(w.rowsBetween(-1, 1)).as("ctr_max")))
  }

  test("frames wider than a sub-split partition chain through key-matched boundaries") {
    // ~12 rows per range partition, one hot key over everything,
    // 30-row frames: boundary chains must telescope through SEVERAL
    // partitions of the same key
    val df = spark.range(480)
      .select(lit(1L).as("k"), col("id").as("v"), (col("id") % 97).as("x"))
      .repartition(40)
    val w = Window.partitionBy("k").orderBy(col("v"))
    assertSame(df.select(col("k"), col("v"),
      sum("x").over(w.rowsBetween(-30, 0)).as("t30"),
      min("x").over(w.rowsBetween(0, 30)).as("f30")))
  }

  test("first/last value over moving frames, IGNORE NULLS included") {
    val df = spark.range(900)
      .select((col("id") % 5).as("k"), col("id").as("v"),
        when(col("id") % 4 === 0, lit(null)).otherwise(col("id") % 31).as("x"))
      .repartition(5)
    val w = Window.partitionBy("k").orderBy(col("v"))
    assertSame(df.select(col("k"), col("v"), col("x"),
      first("x").over(w.rowsBetween(-2, 2)).as("f"),
      last("x").over(w.rowsBetween(-2, 2)).as("l"),
      first("x", ignoreNulls = true).over(w.rowsBetween(-3, 0)).as("fnn")))
  }

  test("per-key moving-lower-bound nth_value rides the segment-gated ring") {
    // the same NthValue rebuffer admission as the global matcher,
    // key-gated: frames clip at key edges, so the n-th frame row is
    // per-key — including across sub-split partition boundaries
    val df = spark.range(1500)
      .select(when(col("id") % 2 === 0, lit(-1L))
        .otherwise(col("id") % 23).as("k"),
        (col("id") * 7L % 997L).as("v"), col("id"),
        when(col("id") % 6 === 0, lit(null)).otherwise(col("id") % 47).as("x"))
      .repartition(7)
    val w = Window.partitionBy("k").orderBy(col("v"), col("id"))
    assertSame(df.select(col("k"), col("v"), col("x"),
      expr("nth_value(x, 2)").over(w.rowsBetween(-3, 0)).as("n2t"),
      expr("nth_value(x, 2) IGNORE NULLS").over(w.rowsBetween(-2, 2)).as("n2nn"),
      sum("x").over(w.rowsBetween(-3, 0)).as("msum")))
  }

  test("NULL partition keys form one frame group") {
    val df = spark.range(900)
      .select(when(col("id") % 4 === 0, lit(null)).otherwise(col("id") % 6).as("k"),
        col("id").as("v"),
        when(col("id") % 9 === 0, lit(null)).otherwise(col("id") % 31).as("x"))
      .repartition(5)
    val w = Window.partitionBy("k").orderBy(col("v"))
    assertSame(df.select(col("k"), col("v"), col("x"),
      sum("x").over(w.rowsBetween(-4, 1)).as("s"),
      count(col("x")).over(w.rowsBetween(-4, 1)).as("n")))
  }

  test("full skew stack: rank + shift + running + moving on ONE composite exchange") {
    val df = spark.range(2000)
      .select(when(col("id") % 2 === 0, lit(-1L)).otherwise(col("id") % 17).as("k"),
        (col("id") * 7L % 997L).as("v"), col("id"), (col("id") % 43).as("x"))
      .repartition(6)
    val w = Window.partitionBy("k").orderBy(col("v"), col("id"))
    val wr = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val windowed = df.select(col("k"), col("v"), col("x"),
      row_number().over(w).as("rn"),
      lag("x", 2).over(w).as("prev"),
      sum("x").over(wr).as("cs"),
      sum("x").over(w.rowsBetween(-5, 0)).as("m5"))
    val forced = RewriteGlobalRankWindows.forceSkew(windowed)
    assert(RowMultiset.of(forced) == RowMultiset.of(windowed))
    val p = noAqePlan(RewriteGlobalRankWindows.forceSkew(windowed))
    assert(p.collect { case x: WindowExec => x }.isEmpty, p.toString)
    assert(p.collect { case g: PartitionedRankExec if g.partKeys.nonEmpty => g }.size == 1)
    assert(p.collect { case g: PartitionedShiftExec if g.partKeys.nonEmpty => g }.size == 1)
    assert(p.collect { case g: PartitionedRunningAggExec if g.partKeys.nonEmpty => g }.size == 1)
    assert(p.collect { case g: PartitionedMovingAggExec if g.partKeys.nonEmpty => g }.size == 1)
    assert(p.collect {
      case e: ShuffleExchangeExec
        if e.outputPartitioning.isInstanceOf[
          org.apache.spark.sql.catalyst.plans.physical.RangePartitioning] => e
    }.size == 1, s"the four skew operators must share one exchange:\n$p")
  }

  test("non-rewrites: over-cap extents keep WindowExec; RANGE routes to the range member") {
    spark.range(100).select((col("id") % 5).as("k"), col("id").as("v"),
      (col("id") % 7).as("x"))
      .createOrReplaceTempView("pma_nr")
    def kept(sql: String): Unit = {
      val p = noAqePlan(RewriteGlobalRankWindows.forceSkew(spark.sql(sql)))
      assert(p.collect { case g: PartitionedMovingAggExec if g.partKeys.nonEmpty => g }.isEmpty, sql)
      assert(p.collect { case x: WindowExec => x }.size == 1, sql)
    }
    // integral bounded RANGE: NOT this member — since late r13 it
    // routes to PartitionedRangeMovingAgg (its spec pins the values)
    val pr = noAqePlan(RewriteGlobalRankWindows.forceSkew(spark.sql(
      """SELECT k, sum(x) OVER (PARTITION BY k ORDER BY v
        |  RANGE BETWEEN 3 PRECEDING AND CURRENT ROW) AS s FROM pma_nr"""
        .stripMargin)))
    assert(pr.collect { case g: PartitionedMovingAggExec if g.partKeys.nonEmpty => g }.isEmpty)
    assert(pr.collect {
      case g: graft.plans.PartitionedRangeMovingAggExec if g.partKeys.nonEmpty => g
    }.size == 1)
    assert(pr.collect { case x: WindowExec => x }.isEmpty)
    spark.conf.set(RewriteGlobalRankWindows.MaxShiftKey, "4")
    try {
      kept("""SELECT k, sum(x) OVER (PARTITION BY k ORDER BY v
             |  ROWS BETWEEN 5 PRECEDING AND CURRENT ROW) AS s FROM pma_nr"""
        .stripMargin)
    } finally spark.conf.unset(RewriteGlobalRankWindows.MaxShiftKey)
  }
}
