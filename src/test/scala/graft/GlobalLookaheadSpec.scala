package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.{PartitionedLookaheadExec, PartitionedShiftExec}
import graft.rules.RewriteGlobalRankWindows

/** [[graft.plans.GlobalLookahead]] — distributed `lead(e, k) IGNORE
  * NULLS` (late r13, the offset family's last retired refusal): the
  * zipped lead iterator holds the next k non-null VALUES, never the
  * null-run row gap. Pinned bit-for-bit against the built-in on null
  * runs longer than a partition, boundary chains through empty-ish
  * partitions, non-null defaults, deep k, and the stack with
  * GlobalShift on one exchange. */
class GlobalLookaheadSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def noAqePlan(df: DataFrame) = {
    val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try df.queryExecution.executedPlan
    finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  private def assertSame(windowed: DataFrame, lookaheads: Int): Unit = {
    val forced = RewriteGlobalRankWindows.force(windowed)
    assert(forced.schema == windowed.schema)
    assert(RowMultiset.of(forced) == RowMultiset.of(windowed))
    val p = noAqePlan(RewriteGlobalRankWindows.force(windowed))
    assert(p.collect { case x: WindowExec => x }.isEmpty, p.toString)
    assert(p.collect { case g: PartitionedLookaheadExec if g.partKeys.isEmpty => g }.size == lookaheads,
      p.toString)
  }

  test("lead IGNORE NULLS == built-in: dense, sparse, and clustered nulls") {
    // x null on 2 of every 3 rows; also a long null CLUSTER (ids
    // 1000-1400 all null) that spans several of the 8 partitions — the
    // case the old row-bounded ring could not hold
    val df = spark.range(3000)
      .select(col("id").as("v"),
        when(col("id") % 3 =!= 0 || (col("id") >= 1000 && col("id") < 1400),
          lit(null)).otherwise(col("id") * 7 % 97).as("x"))
      .repartition(8)
    df.createOrReplaceTempView("la_t")
    assertSame(spark.sql(
      """SELECT v, x,
        |  lead(x) IGNORE NULLS OVER (ORDER BY v) AS n1,
        |  lead(x, 3) IGNORE NULLS OVER (ORDER BY v) AS n3
        |FROM la_t""".stripMargin), lookaheads = 2)
  }

  test("deep k chains through partitions with zero non-nulls") {
    // 40 partitions of ~8 rows, non-null only every 16th row: k=7
    // reaches through MANY all-null partitions' heads
    val df = spark.range(320)
      .select(col("id").as("v"),
        when(col("id") % 16 === 0, col("id")).as("x"))
      .repartition(40)
    val w = Window.orderBy("v")
    assertSame(df.select(col("v"), col("x"),
      expr("lead(x, 7) IGNORE NULLS").over(w).as("n7")), lookaheads = 1)
  }

  test("non-null default evaluates against the current row when exhausted") {
    val df = spark.range(60)
      .select(col("id").as("v"),
        when(col("id") % 4 === 0, col("id")).as("x"))
    df.createOrReplaceTempView("la_def")
    assertSame(spark.sql(
      """SELECT v, x,
        |  lead(x, 5, v * 100) IGNORE NULLS OVER (ORDER BY v) AS nd
        |FROM la_def""".stripMargin), lookaheads = 1)
  }

  test("all-null column: every row takes the default") {
    val df = spark.range(50).select(col("id").as("v"),
      lit(null).cast("long").as("x"))
    df.createOrReplaceTempView("la_null")
    assertSame(spark.sql(
      "SELECT v, lead(x) IGNORE NULLS OVER (ORDER BY v) AS n FROM la_null"),
      lookaheads = 1)
  }

  test("lag(x, -k) IGNORE NULLS normalizes to the lookahead too") {
    val df = spark.range(400)
      .select(col("id").as("v"),
        when(col("id") % 5 === 0, col("id") % 43).as("x"))
      .repartition(6)
    df.createOrReplaceTempView("la_lag")
    assertSame(spark.sql(
      "SELECT v, lag(x, -2) IGNORE NULLS OVER (ORDER BY v) AS n FROM la_lag"),
      lookaheads = 1)
  }

  test("stacks with plain lead/lag and lag IGNORE NULLS on ONE exchange") {
    val df = spark.range(900)
      .select(col("id").as("v"),
        when(col("id") % 3 === 0, col("id") % 31).as("x"))
      .repartition(5)
    df.createOrReplaceTempView("la_mix")
    val windowed = spark.sql(
      """SELECT v, x,
        |  lead(x, 2) OVER (ORDER BY v) AS plain,
        |  lag(x, 1) IGNORE NULLS OVER (ORDER BY v) AS lnn,
        |  lead(x, 2) IGNORE NULLS OVER (ORDER BY v) AS fnn
        |FROM la_mix""".stripMargin)
    val forced = RewriteGlobalRankWindows.force(windowed)
    assert(RowMultiset.of(forced) == RowMultiset.of(windowed))
    val p = noAqePlan(RewriteGlobalRankWindows.force(windowed))
    assert(p.collect { case x: WindowExec => x }.isEmpty, p.toString)
    assert(p.collect { case g: PartitionedShiftExec if g.partKeys.isEmpty => g }.size == 1)
    assert(p.collect { case g: PartitionedLookaheadExec if g.partKeys.isEmpty => g }.size == 1)
    assert(p.collect {
      case e: ShuffleExchangeExec
        if e.outputPartitioning.isInstanceOf[
          org.apache.spark.sql.catalyst.plans.physical.RangePartitioning] => e
    }.size == 1, s"shift + lookahead must share one range exchange:\n$p")
  }

  test("non-rewrites: non-literal and over-cap offsets keep WindowExec") {
    spark.range(100).select(col("id").as("v"),
      when(col("id") % 3 === 0, col("id")).as("x"))
      .createOrReplaceTempView("la_nr")
    spark.conf.set(RewriteGlobalRankWindows.MaxShiftKey, "4")
    try {
      val p = noAqePlan(RewriteGlobalRankWindows.force(spark.sql(
        "SELECT v, lead(x, 5) IGNORE NULLS OVER (ORDER BY v) AS n FROM la_nr")))
      assert(p.collect { case g: PartitionedLookaheadExec if g.partKeys.isEmpty => g }.isEmpty, p.toString)
      assert(p.collect { case x: WindowExec => x }.size == 1)
    } finally spark.conf.unset(RewriteGlobalRankWindows.MaxShiftKey)
  }
}
