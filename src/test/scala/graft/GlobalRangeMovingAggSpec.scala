package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.{PartitionedMovingAggExec, PartitionedRangeMovingAggExec}
import graft.rules.RewriteGlobalRankWindows

/** [[graft.plans.GlobalRangeMovingAgg]] — distributed exact global
  * RANGE-frame moving aggregates (r13, VERDICT r12 task 3, the
  * dense-domain tier): per-key partial buffers bounded by the VALUE
  * extent, a zipped lead/lag pass-2 pair, no density-bounded state
  * anywhere. Every value is pinned bit-for-bit against the built-in
  * WindowExec on fixtures that exercise the boundary machinery: key
  * gaps wider than the frame, tie groups, frames wider than
  * partitions (key telescoping), NULL keys, per-function frames,
  * pure-past/pure-future frames, date keys, and the remaining
  * non-rewrites. */
class GlobalRangeMovingAggSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def noAqePlan(df: DataFrame) = {
    val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try df.queryExecution.executedPlan
    finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  /** The forced plan must equal the built-in's result EXACTLY (sorted
    * row-by-row, not set compare — row multiplicity matters; ADVICE
    * r12), use zero WindowExec and exactly one range-moving node. */
  private def assertSame(windowed: DataFrame): Unit = {
    val forced = RewriteGlobalRankWindows.force(windowed)
    assert(forced.schema == windowed.schema)
    val sortCols = windowed.columns.map(col).toSeq
    assert(forced.sort(sortCols: _*).collect().toSeq ==
      windowed.sort(sortCols: _*).collect().toSeq)
    val p = noAqePlan(forced)
    assert(p.collect { case x: WindowExec => x }.isEmpty, p.toString)
    assert(p.collect { case g: PartitionedRangeMovingAggExec if g.partKeys.isEmpty => g }.size == 1,
      p.toString)
  }

  test("trailing RANGE frame: sum/min/max/count/avg == built-ins across partitions") {
    // long keys with gaps AND ties: v = (id*13)%211 repeats and skips
    val df = spark.range(1500)
      .select((col("id") * 13L % 211L).as("v"), (col("id") % 97 - 30).as("x"))
      .repartition(9)
    val w = Window.orderBy("v").rangeBetween(-5, 0)
    assertSame(df.select(col("v"), col("x"),
      sum("x").over(w).as("rs"), min("x").over(w).as("rmin"),
      max("x").over(w).as("rmax"), count("x").over(w).as("rcnt"),
      avg("x").over(w).as("ravg")))
  }

  test("RANGE vs ROWS divergence: gaps in the key domain make them differ (fixture sanity)") {
    // guard against a fixture where RANGE degenerates to ROWS — the
    // whole point of the tier is value-bounded frames over gappy keys
    val df = spark.range(200)
      .select((col("id") * 7L % 143L).as("v"), (col("id") % 11).as("x"))
    val rangeW = Window.orderBy("v").rangeBetween(-3, 0)
    val rowsW = Window.orderBy("v").rowsBetween(-3, 0)
    val a = df.select(sum("x").over(rangeW).as("s")).collect().map(_.getLong(0)).sorted
    val b = df.select(sum("x").over(rowsW).as("s")).collect().map(_.getLong(0)).sorted
    assert(!(a sameElements b), "fixture must distinguish RANGE from ROWS")
  }

  test("centered, pure-past, pure-future, and mixed frames in ONE node") {
    val df = spark.range(900)
      .select((col("id") * 37L % 401L).as("v"), (col("id") % 83).as("x"))
      .repartition(7)
    val wc = Window.orderBy("v").rangeBetween(-2, 2)
    val wp = Window.orderBy("v").rangeBetween(-7, -3)
    val wf = Window.orderBy("v").rangeBetween(1, 4)
    assertSame(df.select(col("v"), col("x"),
      sum("x").over(wc).as("c"), sum("x").over(wp).as("p"),
      count("x").over(wf).as("f")))
  }

  test("frames wider than partitions: per-key boundary buffers telescope") {
    // 40 partitions over 300 rows with keys 0..59 and a frame of ±30:
    // most frames span several partitions' key ranges
    val df = spark.range(300)
      .select((col("id") % 60L).as("v"), (col("id") % 17 - 4).as("x"))
      .repartition(40)
    val w = Window.orderBy("v").rangeBetween(-30, 30)
    assertSame(df.select(col("v"), col("x"), sum("x").over(w).as("s"),
      count("x").over(w).as("c")))
  }

  test("NULL order keys: the null block's frame is the null block (built-in parity)") {
    val df = spark.range(400)
      .select(when(col("id") % 11 === 0, lit(null))
        .otherwise(col("id") * 3L % 101L).as("v"),
        (col("id") % 19).as("x"))
      .repartition(6)
    val w = Window.orderBy("v").rangeBetween(-4, 1)
    assertSame(df.select(col("v"), col("x"),
      sum("x").over(w).as("s"), count("x").over(w).as("c"),
      avg("x").over(w).as("a")))
  }

  test("empty frames (gaps wider than the extent) evaluate the initial buffer") {
    // keys spaced 100 apart with a ±3 frame: every frame is exactly the
    // current tie group; pure-future frames at the end are EMPTY (null
    // sum, zero count) — must match the built-in's empty-frame values
    val df = spark.range(50)
      .select((col("id") * 100L).as("v"), col("id").as("x"))
      .repartition(5)
    val wf = Window.orderBy("v").rangeBetween(1, 3)
    assertSame(df.select(col("v"), col("x"),
      sum("x").over(wf).as("s"), count("x").over(wf).as("c")))
  }

  test("date order key: INTERVAL-day RANGE frames (int-days domain)") {
    // the analyzer requires interval-typed bounds over DATE orders —
    // the matcher folds day-pure intervals to the int-days domain
    spark.range(500)
      .select(date_add(lit("2024-01-01").cast("date"),
        (col("id") * 5 % 97).cast("int")).as("d"),
        (col("id") % 23).as("x"))
      .repartition(8)
      .createOrReplaceTempView("rma_dates")
    assertSame(spark.sql(
      """SELECT d, x,
        |  sum(x) OVER (ORDER BY d RANGE BETWEEN INTERVAL 7 DAYS PRECEDING
        |               AND CURRENT ROW) AS s,
        |  avg(x) OVER (ORDER BY d RANGE BETWEEN INTERVAL 7 DAYS PRECEDING
        |               AND INTERVAL 2 DAYS FOLLOWING) AS a
        |FROM rma_dates""".stripMargin))
  }

  test("timestamp order key (r14): micros-exact INTERVAL frames == built-in") {
    // gappy micro-lattice timestamps WITH ties: step 1500 us, modulo
    // wrap; frames are second/minute-pure intervals (exact micro
    // counts), one of them double-sided and one future-only
    spark.range(1200)
      .select(timestamp_micros(lit(1704067200000000L) +
        col("id") * 1500000L % 90000000L).as("t"),
        (col("id") % 29 - 7).as("x"))
      .repartition(9)
      .createOrReplaceTempView("rma_ts")
    assertSame(spark.sql(
      """SELECT t, x,
        |  sum(x) OVER (ORDER BY t RANGE BETWEEN INTERVAL 10 SECONDS
        |               PRECEDING AND CURRENT ROW) AS s,
        |  count(x) OVER (ORDER BY t RANGE BETWEEN INTERVAL 60 SECONDS
        |               PRECEDING AND INTERVAL 30 SECONDS FOLLOWING) AS c,
        |  min(x) OVER (ORDER BY t RANGE BETWEEN INTERVAL 3 SECONDS
        |               FOLLOWING AND INTERVAL 45 SECONDS FOLLOWING) AS m
        |FROM rma_ts""".stripMargin))
    // DESC order: the bitwise-NOT reversal carries to the micros domain
    assertSame(spark.sql(
      """SELECT t, x,
        |  sum(x) OVER (ORDER BY t DESC RANGE BETWEEN INTERVAL 15 SECONDS
        |               PRECEDING AND CURRENT ROW) AS s
        |FROM rma_ts""".stripMargin))
    // NULL timestamps: the null block's frame is itself
    spark.range(400)
      .select(when(col("id") % 13 === 0, lit(null))
        .otherwise(timestamp_micros(lit(1704067200000000L) +
          col("id") * 777000L % 50000000L)).as("t"),
        (col("id") % 19).as("x"))
      .repartition(6)
      .createOrReplaceTempView("rma_ts_null")
    assertSame(spark.sql(
      """SELECT t, x,
        |  sum(x) OVER (ORDER BY t RANGE BETWEEN INTERVAL 5 SECONDS
        |               PRECEDING AND INTERVAL 5 SECONDS FOLLOWING) AS s
        |FROM rma_ts_null""".stripMargin))
  }

  test("decimal order key (r14): same-lattice decimal/integer bounds == built-in") {
    // money axis at scale 2 with gaps and ties; frames in whole
    // currency units and sub-unit (0.25) steps — all exact on the
    // unscaled-cents lattice
    spark.range(1000)
      .select((col("id") * 37L % 173L).cast("decimal(10,0)")
        .multiply(org.apache.spark.sql.functions.lit(0.25))
        .cast("decimal(12,2)").as("m"),
        (col("id") % 31 - 9).as("x"))
      .repartition(8)
      .createOrReplaceTempView("rma_dec")
    assertSame(spark.sql(
      """SELECT m, x,
        |  sum(x) OVER (ORDER BY m RANGE BETWEEN 2.00 PRECEDING
        |               AND CURRENT ROW) AS s,
        |  count(x) OVER (ORDER BY m RANGE BETWEEN 0.75 PRECEDING
        |               AND 0.50 FOLLOWING) AS c,
        |  min(x) OVER (ORDER BY m RANGE BETWEEN 0.25 FOLLOWING
        |               AND 3.00 FOLLOWING) AS f
        |FROM rma_dec""".stripMargin))
    // integer-literal bounds fold through the same lattice (1 == 100
    // unscaled steps at scale 2); DESC reads the bitwise-NOT reversal
    assertSame(spark.sql(
      """SELECT m, x,
        |  sum(x) OVER (ORDER BY m DESC RANGE BETWEEN 1 PRECEDING
        |               AND CURRENT ROW) AS s
        |FROM rma_dec""".stripMargin))
  }

  test("decimal non-rewrites (r14): wide precision, sub-lattice bounds, over-cap") {
    spark.range(100)
      .select((col("id") % 41).cast("decimal(12,2)").as("m"),
        (col("id") % 40).cast("decimal(25,2)").as("wide"),
        (col("id") % 7).as("x"))
      .createOrReplaceTempView("rma_dec_nr")
    def kept(sql: String): Unit = {
      val p = noAqePlan(RewriteGlobalRankWindows.force(spark.sql(sql)))
      assert(p.collect { case g: PartitionedRangeMovingAggExec if g.partKeys.isEmpty => g }.isEmpty, sql)
      assert(p.collect { case x: WindowExec => x }.size == 1, sql)
    }
    // wide decimal key: int128 unscaled, no long lattice
    kept("""SELECT wide, sum(x) OVER (ORDER BY wide RANGE BETWEEN 2.00
           |PRECEDING AND CURRENT ROW) AS s FROM rma_dec_nr""".stripMargin)
    // past the unscaled-step cap (42.00 at scale 2 = 4200 > 1024)
    kept("""SELECT m, sum(x) OVER (ORDER BY m RANGE BETWEEN 42.00
           |PRECEDING AND CURRENT ROW) AS s FROM rma_dec_nr""".stripMargin)
    // a bound finer than the key lattice never reaches the matcher:
    // the ANALYZER coerces it to the key's scale (0.005 -> 0.01 at
    // scale 2) before any rule runs, so the built-in and the rewrite
    // see the same rounded bound — a positive differential case, not
    // a refusal
    assertSame(spark.sql(
      """SELECT m, x, sum(x) OVER (ORDER BY m RANGE BETWEEN 0.005
        |PRECEDING AND CURRENT ROW) AS s FROM rma_dec_nr""".stripMargin))
  }

  test("timestamp non-rewrites (r14): month-bearing bounds, over-cap day extents") {
    spark.range(100)
      .select(timestamp_micros(lit(1704067200000000L) +
        col("id") * 1000000L).as("t"), (col("id") % 7).as("x"))
      .createOrReplaceTempView("rma_ts_nr")
    def kept(sql: String): Unit = {
      val p = noAqePlan(RewriteGlobalRankWindows.force(spark.sql(sql)))
      assert(p.collect { case g: PartitionedRangeMovingAggExec if g.partKeys.isEmpty => g }.isEmpty, sql)
      assert(p.collect { case x: WindowExec => x }.size == 1, sql)
    }
    // a month is not a fixed micro count
    kept("""SELECT t, sum(x) OVER (ORDER BY t RANGE BETWEEN INTERVAL 1 MONTH
           |PRECEDING AND CURRENT ROW) AS s FROM rma_ts_nr""".stripMargin)
    // past the maxShiftOffset-DAYS micro cap (1024 days default)
    kept("""SELECT t, sum(x) OVER (ORDER BY t RANGE BETWEEN INTERVAL 2000 DAYS
           |PRECEDING AND CURRENT ROW) AS s FROM rma_ts_nr""".stripMargin)
  }

  test("tie groups share one frame value (and row multiplicity is preserved)") {
    // only 5 distinct keys over 1000 rows: huge tie groups, and the
    // per-key buffer is the WHOLE group — frames hold millions of rows
    // at scale but ship as one buffer (the design claim, miniaturized)
    val df = spark.range(1000)
      .select((col("id") % 5L).as("v"), (col("id") % 13).as("x"))
      .repartition(6)
    val w = Window.orderBy("v").rangeBetween(-1, 1)
    assertSame(df.select(col("v"), col("x"), sum("x").over(w).as("s"),
      count("x").over(w).as("c")))
  }

  test("stacks with the ROWS moving family on ONE shared range exchange") {
    val df = spark.range(600)
      .select((col("id") * 11L % 301L).as("v"), (col("id") % 29).as("x"))
      .repartition(5)
    val wRange = Window.orderBy("v").rangeBetween(-3, 0)
    val wRows = Window.orderBy("v").rowsBetween(-3, 0)
    val windowed = df.select(col("v"), col("x"),
      sum("x").over(wRange).as("vr"), sum("x").over(wRows).as("rr"))
    val forced = RewriteGlobalRankWindows.force(windowed)
    assert(forced.sort("v", "x", "vr", "rr").collect().toSeq ==
      windowed.sort("v", "x", "vr", "rr").collect().toSeq)
    val p = noAqePlan(forced)
    assert(p.collect { case x: WindowExec => x }.isEmpty, p.toString)
    assert(p.collect { case g: PartitionedRangeMovingAggExec if g.partKeys.isEmpty => g }.size == 1)
    assert(p.collect { case g: PartitionedMovingAggExec if g.partKeys.isEmpty => g }.size == 1)
    // exactly ONE range exchange (the fixture's own round-robin
    // repartition sits below it and doesn't count)
    assert(p.collect {
      case e: ShuffleExchangeExec
        if e.outputPartitioning.isInstanceOf[
          org.apache.spark.sql.catalyst.plans.physical.RangePartitioning] => e
    }.size == 1, s"both moving families must share one range exchange:\n$p")
  }

  test("DESC and NULLS LAST orders rewrite (late r13: bitwise-NOT reversal + one-shot null frames)") {
    // gappy axis with nulls: descending frames genuinely differ from
    // ascending ones, and the null block sits at the stream TAIL under
    // the descending default (NULLS LAST) — the exact case the old
    // nulls-first restriction refused
    val df = spark.range(1500)
      .select(when(col("id") % 13 === 0, lit(null))
        .otherwise(col("id") * 7L % 61L).as("v"),
        (col("id") % 97).as("x"))
      .where(col("v").isNull || col("v") % 5 < 3)
      .repartition(7)
    val wd = Window.orderBy(col("v").desc)
    assertSame(df.select(col("v"), col("x"),
      sum("x").over(wd.rangeBetween(-3, 1)).as("dsum"),
      count(lit(1)).over(wd.rangeBetween(-2, 0)).as("dn"),
      min("x").over(wd.rangeBetween(1, 2)).as("dmin")))
    // ASC NULLS LAST: ascending keys, trailing null block
    val wnl = Window.orderBy(col("v").asc_nulls_last)
    assertSame(df.select(col("v"), col("x"),
      sum("x").over(wnl.rangeBetween(-4, 0)).as("s")))
    // DESC NULLS FIRST (non-default): leading null block, reversed keys
    val wdnf = Window.orderBy(col("v").desc_nulls_first)
    assertSame(df.select(col("v"), col("x"),
      sum("x").over(wdnf.rangeBetween(-3, 0)).as("s")))
  }

  test("non-rewrites: non-integral, half-unbounded, over-cap, first_value") {
    spark.range(100).select(col("id").as("v"),
      (col("id") % 7).as("x"), (col("id") * 1.5).as("d"))
      .createOrReplaceTempView("rma_nr")
    def kept(sql: String): Unit = {
      val p = noAqePlan(RewriteGlobalRankWindows.force(spark.sql(sql)))
      assert(p.collect { case g: PartitionedRangeMovingAggExec if g.partKeys.isEmpty => g }.isEmpty, sql)
      assert(p.collect { case x: WindowExec => x }.size == 1, sql)
    }
    // (descending and nulls-last orders rewrite since late r13 —
    // pinned positively above)
    // double key: not a dense domain
    kept("SELECT d, sum(x) OVER (ORDER BY d RANGE BETWEEN 3 PRECEDING AND CURRENT ROW) AS s FROM rma_nr")
    // offset-anchored half-unbounded frame (the CURRENT ROW-anchored
    // form rewrites via the r14 suffix mirror — SuffixRunningSpec —
    // but an offset start mirrors onto another refusal and stays)
    kept("SELECT v, sum(x) OVER (ORDER BY v RANGE BETWEEN 3 PRECEDING AND UNBOUNDED FOLLOWING) AS s FROM rma_nr")
    // over-cap value extent (boundary buffers scale with it)
    kept("SELECT v, sum(x) OVER (ORDER BY v RANGE BETWEEN 5000 PRECEDING AND CURRENT ROW) AS s FROM rma_nr")
    // order-SENSITIVE aggregate: per-key buffers make first_value
    // undefined here (the ROWS families' ordered widening doesn't apply)
    kept("SELECT v, first_value(x) OVER (ORDER BY v RANGE BETWEEN 3 PRECEDING AND CURRENT ROW) AS s FROM rma_nr")
  }
}
