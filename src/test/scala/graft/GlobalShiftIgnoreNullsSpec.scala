package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.PartitionedShiftExec
import graft.rules.RewriteGlobalRankWindows

/** [[graft.plans.PartitionedShift]]'s IGNORE NULLS lag (late r12): the k-th
  * most recent NON-NULL value strictly before the current row, via a
  * k-capacity non-null ring seeded from the telescoped driver
  * boundary. Pinned against the built-in: dense and SPARSE non-nulls
  * (whole partitions with none — the boundary must reach through),
  * explicit defaults, the all-null column, and the mixed node on one
  * exchange. The lead mirror stays on WindowExec
  * (RewriteGlobalRankSpec). */
class GlobalShiftIgnoreNullsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def noAqePlan(df: DataFrame) = {
    val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try df.queryExecution.executedPlan
    finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("lag IGNORE NULLS == built-in: dense, sparse, and clustered nulls") {
    // sparse: only ~1/40 rows non-null, so many range partitions hold
    // ZERO non-nulls and the boundary must telescope through them;
    // clustered: non-nulls only in the low half of the order
    val df = spark.range(4000)
      .select(col("id").as("v"),
        when(col("id") % 5 =!= 0, col("id") % 97).as("dense"),
        when(col("id") % 40 === 0, col("id")).as("sparse"),
        when(col("id") < 200, col("id")).as("clustered"))
      .repartition(9)
    val w = Window.orderBy("v")
    def build(d: DataFrame) = d.select(col("v"),
      lag(col("dense"), 1, null, ignoreNulls = true).over(w).as("d1"),
      lag(col("dense"), 3, null, ignoreNulls = true).over(w).as("d3"),
      lag(col("sparse"), 2, null, ignoreNulls = true).over(w).as("s2"),
      lag(col("clustered"), 5, null, ignoreNulls = true).over(w).as("c5"))
    val windowed = build(df)
    val forced = RewriteGlobalRankWindows.force(windowed)
    assert(forced.schema == windowed.schema)
    assert(RowMultiset.of(forced) == RowMultiset.of(windowed))
    val p = noAqePlan(RewriteGlobalRankWindows.force(windowed))
    assert(p.collect { case x: WindowExec => x }.isEmpty, p.toString)
    assert(p.collect { case g: PartitionedShiftExec if g.partKeys.isEmpty => g }.size == 1, p.toString)
  }

  test("explicit default fires while fewer than k non-nulls precede; all-null column always defaults") {
    val df = spark.range(600)
      .select(col("id").as("v"),
        when(col("id") % 7 === 0, col("id") % 53).as("x"),
        lit(null).cast("long").as("allnull"))
      .repartition(4)
    val w = Window.orderBy("v")
    def build(d: DataFrame) = d.select(col("v"),
      lag(col("x"), 2, -1L, ignoreNulls = true).over(w).as("x2"),
      lag(col("allnull"), 1, -7L, ignoreNulls = true).over(w).as("an"))
    val windowed = build(df)
    val forced = RewriteGlobalRankWindows.force(windowed)
    assert(forced.schema == windowed.schema)
    assert(RowMultiset.of(forced) == RowMultiset.of(windowed))
    // the all-null column never accumulates a non-null → default on
    // every row, on both engines
    assert(forced.select("an").distinct().collect().map(_.get(0)).toSeq == Seq(-7L))
  }

  test("mixed node: plain lag + IGNORE NULLS lag + lead share ONE exchange and ONE exec") {
    val df = spark.range(900)
      .select((col("id") * 13L % 809L).as("v"),
        when(col("id") % 3 === 0, col("id") % 31).as("x"))
    val w = Window.orderBy("v")
    val windowed = df.select(col("v"), col("x"),
      lag("x", 1).over(w).as("p1"),
      lag(col("x"), 2, null, ignoreNulls = true).over(w).as("p2nn"),
      lead("x", 2).over(w).as("n2"))
    val forced = RewriteGlobalRankWindows.force(windowed)
    assert(RowMultiset.of(forced) == RowMultiset.of(windowed))
    val p = noAqePlan(RewriteGlobalRankWindows.force(windowed))
    assert(p.collect { case x: WindowExec => x }.isEmpty, p.toString)
    assert(p.collect { case g: PartitionedShiftExec if g.partKeys.isEmpty => g }.size == 1, p.toString)
    assert(p.collect { case e: ShuffleExchangeExec => e }.size == 1, p.toString)
  }
}
