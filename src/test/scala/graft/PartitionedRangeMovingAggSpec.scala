package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.{PartitionedMovingAggExec, PartitionedRangeMovingAggExec, PartitionedRankExec, PartitionedRunningAggExec}
import graft.rules.RewriteGlobalRankWindows

/** [[graft.plans.PartitionedRangeMovingAgg]] — the skew tier's
  * dense-domain member (late r13): per-key RANGE moving frames on an
  * integral value key via group-matched per-VALUE buffer chains and a
  * group-gated zipped lead. Pinned bit-for-bit against the built-in on
  * hot keys spanning many partitions, gappy value axes (RANGE vs ROWS
  * genuinely differ), dense hot values (many rows per (g, v) — the
  * one-buffer-not-a-million-rows property), frames clipping at group
  * edges, null order values and null group keys, the stack with the
  * other skew operators, and the non-rewrites. */
class PartitionedRangeMovingAggSpec extends AnyFunSuite {
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
    assert(p.collect { case g: PartitionedRangeMovingAggExec if g.partKeys.nonEmpty => g }.size == 1,
      p.toString)
  }

  test("hot key over a gappy value axis: trailing/centered/future RANGE frames == built-in") {
    // v = id*7 % 61 then filtered to v%5<3 — holes in the axis so RANGE
    // and ROWS frames genuinely differ; the hot key holds half the rows
    val df = spark.range(4000)
      .select(when(col("id") % 2 === 0, lit(-1L))
        .otherwise(col("id") % 31).as("g"),
        (col("id") * 7L % 61L).as("v"), (col("id") % 97).as("x"))
      .where(col("v") % 5 < 3)
      .repartition(9)
    val w = Window.partitionBy("g").orderBy("v")
    assertSame(df.select(col("g"), col("v"), col("x"),
      sum("x").over(w.rangeBetween(-6, 0)).as("t6"),
      count(lit(1)).over(w.rangeBetween(-2, 2)).as("c22"),
      min("x").over(w.rangeBetween(1, 3)).as("f13"),
      max("x").over(w.rangeBetween(-4, -1)).as("p41")))
  }

  test("dense hot value: a thousand rows of one (g, v) ride one buffer") {
    // 1000 rows share (g=-1, v=10): the operator ships ONE buffer for
    // them, and every frame touching v=10 aggregates them exactly
    val dense = spark.range(1000).select(lit(-1L).as("g"), lit(10L).as("v"),
      (col("id") % 13).as("x"))
    val sparse = spark.range(800)
      .select((col("id") % 7).as("g"), (col("id") % 25).as("v"),
        (col("id") % 13).as("x"))
    val df = dense.union(sparse).repartition(8)
    val w = Window.partitionBy("g").orderBy("v")
    assertSame(df.select(col("g"), col("v"), col("x"),
      sum("x").over(w.rangeBetween(-3, 1)).as("s"),
      count(lit(1)).over(w.rangeBetween(-3, 1)).as("n")))
  }

  test("frames wider than a sub-split partition chain through group-matched buffers") {
    // one hot group over 40 partitions (~12 rows each), extent 15:
    // boundary buffer chains must telescope through several partitions
    val df = spark.range(480)
      .select(lit(1L).as("g"), (col("id") % 37).as("v"), (col("id") % 97).as("x"))
      .repartition(40)
    val w = Window.partitionBy("g").orderBy("v")
    assertSame(df.select(col("g"), col("v"),
      sum("x").over(w.rangeBetween(-15, 0)).as("t15"),
      min("x").over(w.rangeBetween(0, 15)).as("f15")))
  }

  test("small groups: frames clip at group edges; neighbours never leak") {
    // groups of ~3 rows with extent 4: nearly every frame clips, and
    // adjacent groups share value ranges — the group gate must hold
    val df = spark.range(900)
      .select((col("id") / 3).as("g"), (col("id") % 9).as("v"),
        (col("id") % 11).as("x"))
      .repartition(7)
    val w = Window.partitionBy("g").orderBy("v")
    assertSame(df.select(col("g"), col("v"), col("x"),
      sum("x").over(w.rangeBetween(-4, 4)).as("s"),
      count(lit(1)).over(w.rangeBetween(-4, -1)).as("past_n")))
  }

  test("NULL order values: per-group null tie frames; NULL group keys form one group") {
    val df = spark.range(1200)
      .select(when(col("id") % 5 === 0, lit(null)).otherwise(col("id") % 6).as("g"),
        when(col("id") % 7 === 0, lit(null)).otherwise(col("id") % 19).as("v"),
        when(col("id") % 11 === 0, lit(null)).otherwise(col("id") % 23).as("x"))
      .repartition(6)
    val w = Window.partitionBy("g").orderBy("v")
    assertSame(df.select(col("g"), col("v"), col("x"),
      sum("x").over(w.rangeBetween(-3, 2)).as("s"),
      count(col("x")).over(w.rangeBetween(-3, 2)).as("nx")))
  }

  test("full skew stack: range-moving rides the same composite exchange") {
    val df = spark.range(2000)
      .select(when(col("id") % 2 === 0, lit(-1L)).otherwise(col("id") % 17).as("g"),
        (col("id") % 43).as("v"), col("id"), (col("id") % 29).as("x"))
      .repartition(6)
    val w = Window.partitionBy("g").orderBy(col("v"), col("id"))
    val wv = Window.partitionBy("g").orderBy("v")
    val windowed = df.select(col("g"), col("v"), col("x"),
      row_number().over(w).as("rn"),
      sum("x").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)).as("cs"),
      sum("x").over(wv.rangeBetween(-5, 0)).as("rm5"))
    val forced = RewriteGlobalRankWindows.forceSkew(windowed)
    assert(RowMultiset.of(forced) == RowMultiset.of(windowed))
    val p = noAqePlan(RewriteGlobalRankWindows.forceSkew(windowed))
    assert(p.collect { case x: WindowExec => x }.isEmpty, p.toString)
    // rn/cs share one (g, v, id) window; rm5's (g, v) window is its own
    // node — two composite range exchanges at most, zero WindowExec
    assert(p.collect { case g: PartitionedRankExec if g.partKeys.nonEmpty => g }.size == 1)
    assert(p.collect { case g: PartitionedRunningAggExec if g.partKeys.nonEmpty => g }.size == 1)
    assert(p.collect { case g: PartitionedRangeMovingAggExec if g.partKeys.nonEmpty => g }.size == 1)
  }

  test("one window node mixing ROWS-moving and RANGE-moving members stacks both") {
    val df = spark.range(1000)
      .select((col("id") % 9).as("g"), (col("id") % 21).as("v"),
        (col("id") % 13).as("x"))
      .repartition(5)
    val w = Window.partitionBy("g").orderBy("v")
    val windowed = df.select(col("g"), col("v"), col("x"),
      sum("x").over(w.rangeBetween(-3, 0)).as("rv"),
      count(lit(1)).over(w.rowsBetween(-2, 0)).as("rr"))
    val forced = RewriteGlobalRankWindows.forceSkew(windowed)
    assert(RowMultiset.of(forced) == RowMultiset.of(windowed))
    val p = noAqePlan(RewriteGlobalRankWindows.forceSkew(windowed))
    assert(p.collect { case x: WindowExec => x }.isEmpty, p.toString)
    assert(p.collect { case g: PartitionedMovingAggExec if g.partKeys.nonEmpty => g }.size == 1)
    assert(p.collect { case g: PartitionedRangeMovingAggExec if g.partKeys.nonEmpty => g }.size == 1)
    assert(p.collect {
      case e: ShuffleExchangeExec
        if e.outputPartitioning.isInstanceOf[
          org.apache.spark.sql.catalyst.plans.physical.RangePartitioning] => e
    }.size == 1, s"both moving members must share one composite exchange:\n$p")
  }

  test("per-key DESC / NULLS LAST orders rewrite (late r13 widening)") {
    // per-group trailing null blocks under the descending default;
    // gappy axis so DESC frames genuinely differ
    val df = spark.range(1500)
      .select((col("id") % 7).as("g"),
        when(col("id") % 13 === 0, lit(null))
          .otherwise(col("id") % 21).as("v"),
        (col("id") % 17).as("x"))
      .repartition(6)
    val wd = Window.partitionBy("g").orderBy(col("v").desc)
    assertSame(df.select(col("g"), col("v"), col("x"),
      sum("x").over(wd.rangeBetween(-3, 1)).as("dsum"),
      count(lit(1)).over(wd.rangeBetween(-2, 0)).as("dn")))
    val wnl = Window.partitionBy("g").orderBy(col("v").asc_nulls_last)
    assertSame(df.select(col("g"), col("v"), col("x"),
      sum("x").over(wnl.rangeBetween(-4, 0)).as("s")))
  }

  test("timestamp order key (r14): per-key micros-exact INTERVAL frames == built-in") {
    // hot key -1 holds half the rows; gappy micro-lattice timestamps
    // with cross-group ties; second/minute-pure interval frames, one
    // double-sided — the skew tier's "last 7 days per user" shape at
    // test scale
    spark.range(3000)
      .select(when(col("id") % 2 === 0, lit(-1L))
        .otherwise(col("id") % 23).as("g"),
        timestamp_micros(lit(1704067200000000L) +
          col("id") * 2100000L % 120000000L).as("t"),
        (col("id") % 41 - 11).as("x"))
      .repartition(9)
      .createOrReplaceTempView("prma_ts")
    def assertSameSql(sql: String): Unit =
      assertSame(spark.sql(sql))
    assertSameSql(
      """SELECT g, t, x,
        |  sum(x) OVER (PARTITION BY g ORDER BY t RANGE BETWEEN
        |    INTERVAL 20 SECONDS PRECEDING AND CURRENT ROW) AS s,
        |  count(x) OVER (PARTITION BY g ORDER BY t RANGE BETWEEN
        |    INTERVAL 60 SECONDS PRECEDING AND INTERVAL 30 SECONDS FOLLOWING)
        |    AS c
        |FROM prma_ts""".stripMargin)
    // null timestamps: per-group null tie frames (nulls-first default)
    spark.range(800)
      .select((col("id") % 5).as("g"),
        when(col("id") % 11 === 0, lit(null))
          .otherwise(timestamp_micros(lit(1704067200000000L) +
            col("id") * 900000L % 60000000L)).as("t"),
        (col("id") % 13).as("x"))
      .repartition(7)
      .createOrReplaceTempView("prma_ts_null")
    assertSameSql(
      """SELECT g, t, x,
        |  sum(x) OVER (PARTITION BY g ORDER BY t RANGE BETWEEN
        |    INTERVAL 8 SECONDS PRECEDING AND INTERVAL 8 SECONDS FOLLOWING)
        |    AS s
        |FROM prma_ts_null""".stripMargin)
    // month-bearing bounds stay on WindowExec in the skew tier too
    val kept = RewriteGlobalRankWindows.forceSkew(spark.sql(
      """SELECT g, t, sum(x) OVER (PARTITION BY g ORDER BY t RANGE BETWEEN
        |INTERVAL 1 MONTH PRECEDING AND CURRENT ROW) AS s
        |FROM prma_ts""".stripMargin))
    val kp = noAqePlan(kept)
    assert(kp.collect { case g: PartitionedRangeMovingAggExec if g.partKeys.nonEmpty => g }.isEmpty)
    assert(kp.collect { case x: WindowExec => x }.size == 1)
  }

  test("decimal order key (r14): per-key same-lattice decimal frames == built-in") {
    // hot key -1 holds half the rows; money axis at scale 2 with ties
    spark.range(2400)
      .select(when(col("id") % 2 === 0, lit(-1L))
        .otherwise(col("id") % 19).as("g"),
        (col("id") * 29L % 97L).cast("decimal(10,0)")
          .multiply(org.apache.spark.sql.functions.lit(0.25))
          .cast("decimal(12,2)").as("m"),
        (col("id") % 43 - 13).as("x"))
      .repartition(9)
      .createOrReplaceTempView("prma_dec")
    assertSame(spark.sql(
      """SELECT g, m, x,
        |  sum(x) OVER (PARTITION BY g ORDER BY m RANGE BETWEEN 2.50
        |    PRECEDING AND CURRENT ROW) AS s,
        |  count(x) OVER (PARTITION BY g ORDER BY m RANGE BETWEEN 0.75
        |    PRECEDING AND 0.75 FOLLOWING) AS c
        |FROM prma_dec""".stripMargin))
  }

  test("non-rewrites: non-integral orders and First/Last keep WindowExec") {
    spark.range(100).select((col("id") % 5).as("g"), (col("id") % 11).as("v"),
      (col("id") % 20).cast("double").as("d"), (col("id") % 7).as("x"))
      .createOrReplaceTempView("prm_nr")
    def kept(sql: String): Unit = {
      val p = noAqePlan(RewriteGlobalRankWindows.forceSkew(spark.sql(sql)))
      assert(p.collect { case g: PartitionedRangeMovingAggExec if g.partKeys.nonEmpty => g }.isEmpty, sql)
      assert(p.collect { case x: WindowExec => x }.size == 1, sql)
    }
    // (descending/nulls-last orders rewrite since late r13 — pinned
    // positively above; value-bounded RANGE frames are single-key by
    // the analyzer's own rules)
    kept("""SELECT g, sum(x) OVER (PARTITION BY g ORDER BY d
           |  RANGE BETWEEN 3 PRECEDING AND CURRENT ROW) AS s FROM prm_nr"""
      .stripMargin)
    kept("""SELECT g, first_value(x) OVER (PARTITION BY g ORDER BY v
           |  RANGE BETWEEN 3 PRECEDING AND CURRENT ROW) AS s FROM prm_nr"""
      .stripMargin)
  }
}
