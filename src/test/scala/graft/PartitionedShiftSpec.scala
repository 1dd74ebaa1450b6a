package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.{PartitionedRankExec, PartitionedRunningAggExec, PartitionedShiftExec}
import graft.rules.RewriteGlobalRankWindows

/** [[graft.plans.PartitionedShift]] — the skew tier's per-key lead/lag
  * (late r13): key-matched boundary chains + segment-tagged value
  * rings under the composite range sub-split. Pinned bit-for-bit
  * against the built-in on hot keys spanning many partitions, offsets
  * crossing key boundaries (defaults), offsets crossing PARTITION
  * boundaries within a key (the chained tails/heads), non-null
  * defaults, null keys, and the full three-operator skew stack. */
class PartitionedShiftSpec extends AnyFunSuite {
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
    assert(p.collect { case g: PartitionedShiftExec if g.partKeys.nonEmpty => g }.size == 1, p.toString)
  }

  test("hot key holding half the rows: lag/lead at several offsets == built-in") {
    val df = spark.range(4000)
      .select(when(col("id") % 2 === 0, lit(-1L))
        .otherwise(col("id") % 37).as("k"),
        (col("id") * 48271L % 997L).as("v"), col("id"),
        (col("id") % 89).as("x"))
      .repartition(9)
    val w = Window.partitionBy("k").orderBy(col("v"), col("id"))
    assertSame(df.select(col("k"), col("v"), col("x"),
      lag("x", 1).over(w).as("l1"),
      lag("x", 7).over(w).as("l7"),
      lead("x", 1).over(w).as("d1"),
      lead("x", 13).over(w).as("d13"),
      lag("x", 0).over(w).as("cur")))
  }

  test("small keys: every offset crosses the key boundary and defaults") {
    // keys of ~2 rows with offsets 3: nearly every lookup is out of
    // key — the segment gate must default instead of leaking a
    // neighbouring key's value
    val df = spark.range(600)
      .select((col("id") / 2).as("k"), col("id").as("v"), (col("id") % 7).as("x"))
      .repartition(6)
    val w = Window.partitionBy("k").orderBy(col("v"))
    assertSame(df.select(col("k"), col("x"),
      lag("x", 3).over(w).as("l3"), lead("x", 3).over(w).as("d3")))
  }

  test("offsets larger than a sub-split partition chain through key-matched boundaries") {
    // ~12 rows per range partition, one hot key over everything,
    // offsets 30: boundary chains must telescope through SEVERAL
    // partitions of the same key
    val df = spark.range(480)
      .select(lit(1L).as("k"), col("id").as("v"), (col("id") % 97).as("x"))
      .repartition(40)
    val w = Window.partitionBy("k").orderBy(col("v"))
    assertSame(df.select(col("k"), col("v"),
      lag("x", 30).over(w).as("l30"), lead("x", 30).over(w).as("d30")))
  }

  test("non-null defaults evaluate against the current row") {
    val df = spark.range(300)
      .select((col("id") % 5).as("k"), col("id").as("v"), (col("id") % 11).as("x"))
      .repartition(4)
    val w = Window.partitionBy("k").orderBy(col("v"))
    assertSame(df.select(col("k"), col("v"),
      lag(col("x"), 2, -1).over(w).as("l2d"),
      lead(col("x"), 4, 999).over(w).as("d4d")))
  }

  test("NULL partition keys form one shifted group; null values pass through") {
    val df = spark.range(900)
      .select(when(col("id") % 4 === 0, lit(null)).otherwise(col("id") % 6).as("k"),
        col("id").as("v"),
        when(col("id") % 9 === 0, lit(null)).otherwise(col("id") % 31).as("x"))
      .repartition(5)
    val w = Window.partitionBy("k").orderBy(col("v"))
    assertSame(df.select(col("k"), col("v"), col("x"),
      lag("x", 2).over(w).as("l2"), lead("x", 2).over(w).as("d2")))
  }

  test("full skew stack: rank + shift + running agg on ONE composite exchange") {
    val df = spark.range(2000)
      .select(when(col("id") % 2 === 0, lit(-1L)).otherwise(col("id") % 17).as("k"),
        (col("id") * 7L % 997L).as("v"), col("id"), (col("id") % 43).as("x"))
      .repartition(6)
    val w = Window.partitionBy("k").orderBy(col("v"), col("id"))
    val wr = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val windowed = df.select(col("k"), col("v"), col("x"),
      row_number().over(w).as("rn"),
      lag("x", 2).over(w).as("prev"),
      sum("x").over(wr).as("cs"))
    val forced = RewriteGlobalRankWindows.forceSkew(windowed)
    assert(RowMultiset.of(forced) == RowMultiset.of(windowed))
    val p = noAqePlan(RewriteGlobalRankWindows.forceSkew(windowed))
    assert(p.collect { case x: WindowExec => x }.isEmpty, p.toString)
    assert(p.collect { case g: PartitionedRankExec if g.partKeys.nonEmpty => g }.size == 1)
    assert(p.collect { case g: PartitionedShiftExec if g.partKeys.nonEmpty => g }.size == 1)
    assert(p.collect { case g: PartitionedRunningAggExec if g.partKeys.nonEmpty => g }.size == 1)
    assert(p.collect {
      case e: ShuffleExchangeExec
        if e.outputPartitioning.isInstanceOf[
          org.apache.spark.sql.catalyst.plans.physical.RangePartitioning] => e
    }.size == 1, s"the three skew operators must share one exchange:\n$p")
  }

  test("lag IGNORE NULLS: per-segment non-null rings == built-in (late r13)") {
    // nulls in 2-of-3 rows so k=2/k=4 lookups routinely cross partition
    // boundaries within the hot key (the key-matched chained non-null
    // tails) AND key boundaries (ring reset: small keys next to the
    // hot key must default, never leak a neighbour's non-nulls)
    val df = spark.range(3000)
      .select(when(col("id") % 2 === 0, lit(-1L))
        .otherwise(col("id") % 29).as("k"),
        (col("id") * 31L % 997L).as("v"), col("id"),
        when(col("id") % 3 =!= 0, lit(null)).otherwise(col("id") % 53).as("x"))
      .repartition(8)
    val w = Window.partitionBy("k").orderBy(col("v"), col("id"))
    assertSame(df.select(col("k"), col("v"), col("x"),
      lag(col("x"), 2, null, ignoreNulls = true).over(w).as("nn2"),
      lag(col("x"), 4, null, ignoreNulls = true).over(w).as("nn4"),
      lag("x", 1).over(w).as("plain1")))
  }

  test("lag IGNORE NULLS: non-null defaults and all-null keys") {
    val df = spark.range(600)
      .select((col("id") / 40).as("k"), col("id").as("v"),
        // keys 0,2,4,... have ~1/4 non-null; odd keys are ALL NULL
        when((col("id") / 40) % 2 === 0 && col("id") % 4 === 0,
          col("id") % 37).as("x"))
      .repartition(6)
    val w = Window.partitionBy("k").orderBy(col("v"))
    assertSame(df.select(col("k"), col("v"), col("x"),
      lag(col("x"), 2, -1, ignoreNulls = true).over(w).as("nn2d"),
      lag(col("x"), 1, null, ignoreNulls = true).over(w).as("nn1")))
  }

  test("non-rewrites: over-cap offsets keep WindowExec; lead IGNORE NULLS routes to the lookahead") {
    spark.range(100).select((col("id") % 5).as("k"), col("id").as("v"),
      when(col("id") % 3 === 0, col("id")).as("x"))
      .createOrReplaceTempView("ps_nr")
    def kept(sql: String): Unit = {
      val p = noAqePlan(RewriteGlobalRankWindows.forceSkew(spark.sql(sql)))
      assert(p.collect { case g: PartitionedShiftExec if g.partKeys.nonEmpty => g }.isEmpty, sql)
      assert(p.collect { case x: WindowExec => x }.size == 1, sql)
    }
    // lead IGNORE NULLS: NOT this member — since late r13 it routes to
    // the per-key zipped lookahead (PartitionedLookaheadSpec pins its
    // values); lag IGNORE NULLS rides the segment rings (pinned above)
    val pl = noAqePlan(RewriteGlobalRankWindows.forceSkew(spark.sql(
      "SELECT k, lead(x, 1) IGNORE NULLS OVER (PARTITION BY k ORDER BY v) AS s FROM ps_nr")))
    assert(pl.collect { case g: PartitionedShiftExec if g.partKeys.nonEmpty => g }.isEmpty)
    assert(pl.collect {
      case g: graft.plans.PartitionedLookaheadExec if g.partKeys.nonEmpty => g
    }.size == 1)
    assert(pl.collect { case x: WindowExec => x }.isEmpty)
    spark.conf.set(RewriteGlobalRankWindows.MaxShiftKey, "4")
    try {
      kept("SELECT k, lag(x, 5) OVER (PARTITION BY k ORDER BY v) AS s FROM ps_nr")
    } finally spark.conf.unset(RewriteGlobalRankWindows.MaxShiftKey)
  }
}
