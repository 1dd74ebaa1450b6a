package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.PartitionedNthValueExec
import graft.rules.RewriteGlobalRankWindows

/** [[graft.plans.PartitionedNthValue]] — per-key start-anchored
  * nth_value (late r13, the skew tier's LAST member): driver-assembled
  * run constants for edge segments, a group-gated zip lead for
  * interior ones. Pinned bit-for-bit against the built-in on hot keys
  * spanning many partitions (run heads chained), whole-partition /
  * running-ROWS / running-RANGE kinds, IGNORE NULLS over long null
  * runs, small keys (constants null when a key never reaches k), and
  * null group keys. */
class PartitionedNthValueSpec extends AnyFunSuite {
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
    assert(p.collect { case g: PartitionedNthValueExec if g.partKeys.nonEmpty => g }.size == 1,
      p.toString)
  }

  test("hot key across many partitions: running-ROWS and whole-frame kinds == built-in") {
    val df = spark.range(3000)
      .select(when(col("id") % 2 === 0, lit(-1L))
        .otherwise(col("id") % 29).as("k"),
        (col("id") * 31L % 997L).as("v"), col("id"),
        (col("id") % 53).as("x"))
      .repartition(8)
    val w = Window.partitionBy("k").orderBy(col("v"), col("id"))
    assertSame(df.select(col("k"), col("v"), col("x"),
      nth_value(col("x"), 3).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)).as("n3r"),
      nth_value(col("x"), 7).over(
        w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
        .as("n7w")))
  }

  test("IGNORE NULLS: the key's k-th non-null chains across sub-split partitions") {
    // only every 9th value non-null over a hot key split across 40
    // tiny partitions: the k-th non-null routinely lives partitions
    // away from the rows gated on it
    val df = spark.range(480)
      .select(lit(1L).as("k"), col("id").as("v"),
        when(col("id") % 9 =!= 0, lit(null)).otherwise(col("id") % 67).as("x"))
      .repartition(40)
    val w = Window.partitionBy("k").orderBy("v")
    assertSame(df.select(col("k"), col("v"), col("x"),
      nth_value(col("x"), 2, ignoreNulls = true).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)).as("n2nn"),
      nth_value(col("x"), 5, ignoreNulls = true).over(
        w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
        .as("n5nnw")))
  }

  test("running-RANGE kind gates on the tie group's end position") {
    // coarse order values => real tie groups; nth becomes visible to a
    // whole group when the group's END reaches k
    val df = spark.range(1500)
      .select((col("id") % 7).as("k"), (col("id") % 11).as("v"),
        (col("id") % 19).as("x"), col("id"))
      .repartition(6)
    val w = Window.partitionBy("k").orderBy("v")
    val wt = Window.partitionBy("k").orderBy(col("v"), col("id"))
    // RANGE default frame on the tie-heavy order: the gate is the
    // group end. The CONSTANT must be tie-invariant to compare engines
    // under arbitrary tie order — nth input = the ORDER KEY itself
    // (the 4th v of the v-sorted key is a multiset fact, not a tie
    // accident). The ROWS sibling has a different order spec = its own
    // Window node.
    assertSame(df.select(col("k"), col("v"), col("id"),
      nth_value(col("v"), 4).over(w).as("n4range")))
    assertSame(df.select(col("k"), col("v"), col("x"), col("id"),
      nth_value(col("x"), 2).over(
        wt.rowsBetween(Window.unboundedPreceding, Window.currentRow)).as("n2r")))
    // both specs in one select stack TWO nodes, zero WindowExec
    val both = df.select(col("k"), col("v"), col("x"), col("id"),
      nth_value(col("v"), 4).over(w).as("n4range"),
      nth_value(col("x"), 2).over(
        wt.rowsBetween(Window.unboundedPreceding, Window.currentRow)).as("n2r"))
    val forced = RewriteGlobalRankWindows.forceSkew(both)
    assert(RowMultiset.of(forced) == RowMultiset.of(both))
    val p = noAqePlan(RewriteGlobalRankWindows.forceSkew(both))
    assert(p.collect { case x: WindowExec => x }.isEmpty, p.toString)
    assert(p.collect { case g: PartitionedNthValueExec if g.partKeys.nonEmpty => g }.size == 2,
      p.toString)
  }

  test("small keys: constants are null where a key never reaches k") {
    val df = spark.range(600)
      .select((col("id") / 3).as("k"), col("id").as("v"), (col("id") % 13).as("x"))
      .repartition(6)
    val w = Window.partitionBy("k").orderBy("v")
    assertSame(df.select(col("k"), col("v"), col("x"),
      nth_value(col("x"), 2).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)).as("n2"),
      nth_value(col("x"), 4).over(
        w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
        .as("n4w")))
  }

  test("NULL group keys form one group; null inputs are legal constants (plain)") {
    val df = spark.range(900)
      .select(when(col("id") % 4 === 0, lit(null)).otherwise(col("id") % 6).as("k"),
        col("id").as("v"),
        when(col("id") % 5 === 0, lit(null)).otherwise(col("id") % 23).as("x"))
      .repartition(5)
    val w = Window.partitionBy("k").orderBy("v")
    assertSame(df.select(col("k"), col("v"), col("x"),
      // plain nth over a nullable input: the k-th ROW's value, null
      // included — must not be confused with the not-reached-k null
      nth_value(col("x"), 3).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)).as("n3"),
      nth_value(col("x"), 2, ignoreNulls = true).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)).as("n2nn")))
  }

  test("non-rewrites: moving lower bounds route to the moving member, over-cap k keeps WindowExec") {
    spark.range(100).select((col("id") % 5).as("k"), col("id").as("v"),
      (col("id") % 7).as("x")).createOrReplaceTempView("pnv_nr")
    // moving lower bound: the per-key moving rebuffer's shape
    val pm = noAqePlan(RewriteGlobalRankWindows.forceSkew(spark.sql(
      "SELECT k, nth_value(x, 2) OVER (PARTITION BY k ORDER BY v ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS s FROM pnv_nr")))
    assert(pm.collect { case g: PartitionedNthValueExec if g.partKeys.nonEmpty => g }.isEmpty)
    assert(pm.collect {
      case g: graft.plans.PartitionedMovingAggExec if g.partKeys.nonEmpty => g
    }.size == 1)
    // over-cap k falls back
    spark.conf.set(RewriteGlobalRankWindows.MaxShiftKey, "4")
    try {
      val p = noAqePlan(RewriteGlobalRankWindows.forceSkew(spark.sql(
        "SELECT k, nth_value(x, 5) OVER (PARTITION BY k ORDER BY v) AS s FROM pnv_nr")))
      assert(p.collect { case g: PartitionedNthValueExec if g.partKeys.nonEmpty => g }.isEmpty)
      assert(p.collect { case x: WindowExec => x }.size == 1)
    } finally spark.conf.unset(RewriteGlobalRankWindows.MaxShiftKey)
  }
}
