package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.{PartitionedLookaheadExec, PartitionedShiftExec}
import graft.rules.RewriteGlobalRankWindows

/** [[graft.plans.PartitionedLookahead]] — per-key `lead IGNORE NULLS`
  * (late r13, the per-key offset family's last retired refusal):
  * group-gated zipped lookahead + group-matched chained tails. Pinned
  * bit-for-bit against the built-in on hot keys with long null runs,
  * group-end starvation (defaults, never a neighbour's values),
  * cross-partition chains, non-null defaults, stacked columns, and the
  * lag(e, -k) spelling. */
class PartitionedLookaheadSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def noAqePlan(df: DataFrame) = {
    val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try df.queryExecution.executedPlan
    finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  private def assertSame(windowed: DataFrame, nNodes: Int): Unit = {
    val forced = RewriteGlobalRankWindows.forceSkew(windowed)
    assert(forced.schema == windowed.schema)
    assert(RowMultiset.of(forced) == RowMultiset.of(windowed))
    val p = noAqePlan(RewriteGlobalRankWindows.forceSkew(windowed))
    assert(p.collect { case x: WindowExec => x }.isEmpty, p.toString)
    assert(p.collect { case g: PartitionedLookaheadExec if g.partKeys.nonEmpty => g }.size == nNodes,
      p.toString)
  }

  test("hot key with 2-of-3 nulls: k=1/k=3 lookaheads == built-in") {
    val df = spark.range(3000)
      .select(when(col("id") % 2 === 0, lit(-1L))
        .otherwise(col("id") % 29).as("k"),
        (col("id") * 31L % 997L).as("v"), col("id"),
        when(col("id") % 3 =!= 0, lit(null)).otherwise(col("id") % 53).as("x"))
      .repartition(8)
    val w = Window.partitionBy("k").orderBy(col("v"), col("id"))
    assertSame(df.select(col("k"), col("v"), col("x"),
      lead(col("x"), 1, null, ignoreNulls = true).over(w).as("nn1"),
      lead(col("x"), 3, null, ignoreNulls = true).over(w).as("nn3")),
      nNodes = 2)
  }

  test("group-end starvation: small keys default, never leak a neighbour's non-nulls") {
    // keys of ~3 rows, 2-of-3 null: nearly every lookahead starves at
    // the key end while the NEXT key's non-nulls sit right behind it
    val df = spark.range(900)
      .select((col("id") / 3).as("k"), col("id").as("v"),
        when(col("id") % 3 =!= 0, lit(null)).otherwise(col("id") % 37).as("x"))
      .repartition(6)
    val w = Window.partitionBy("k").orderBy(col("v"))
    assertSame(df.select(col("k"), col("v"), col("x"),
      lead(col("x"), 1, null, ignoreNulls = true).over(w).as("nn1"),
      lead(col("x"), 2, -1, ignoreNulls = true).over(w).as("nn2d")),
      nNodes = 2)
  }

  test("null runs longer than a sub-split partition chain through group-matched tails") {
    // one hot key over 40 tiny partitions, only every 11th value
    // non-null: the k=2 lookahead routinely crosses several partitions
    // through the telescoped chained tails
    val df = spark.range(480)
      .select(lit(1L).as("k"), col("id").as("v"),
        when(col("id") % 11 =!= 0, lit(null)).otherwise(col("id")).as("x"))
      .repartition(40)
    val w = Window.partitionBy("k").orderBy("v")
    assertSame(df.select(col("k"), col("v"), col("x"),
      lead(col("x"), 2, null, ignoreNulls = true).over(w).as("nn2")),
      nNodes = 1)
  }

  test("lag(e, -k) IGNORE NULLS spelling and the mixed shift stack share one exchange") {
    val df = spark.range(1200)
      .select((col("id") % 7).as("k"), col("id").as("v"),
        when(col("id") % 4 === 0, col("id") % 41).as("x"))
      .repartition(5)
    val w = Window.partitionBy("k").orderBy("v")
    val windowed = df.select(col("k"), col("v"), col("x"),
      expr("lag(x, -2) IGNORE NULLS").over(w).as("nn2"),
      lag("x", 1).over(w).as("plain1"))
    val forced = RewriteGlobalRankWindows.forceSkew(windowed)
    assert(RowMultiset.of(forced) == RowMultiset.of(windowed))
    val p = noAqePlan(RewriteGlobalRankWindows.forceSkew(windowed))
    assert(p.collect { case x: WindowExec => x }.isEmpty, p.toString)
    assert(p.collect { case g: PartitionedLookaheadExec if g.partKeys.nonEmpty => g }.size == 1)
    assert(p.collect { case g: PartitionedShiftExec if g.partKeys.nonEmpty => g }.size == 1)
    assert(p.collect {
      case e: ShuffleExchangeExec
        if e.outputPartitioning.isInstanceOf[
          org.apache.spark.sql.catalyst.plans.physical.RangePartitioning] => e
    }.size == 1, s"lookahead and shift must share one composite exchange:\n$p")
  }

  test("NULL group keys form one lookahead group") {
    val df = spark.range(800)
      .select(when(col("id") % 4 === 0, lit(null)).otherwise(col("id") % 5).as("k"),
        col("id").as("v"),
        when(col("id") % 3 === 0, col("id") % 31).as("x"))
      .repartition(5)
    val w = Window.partitionBy("k").orderBy("v")
    assertSame(df.select(col("k"), col("v"), col("x"),
      lead(col("x"), 2, null, ignoreNulls = true).over(w).as("nn2")),
      nNodes = 1)
  }
}
