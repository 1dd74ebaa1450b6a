package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.PartitionedRankExec
import graft.rules.RewriteGlobalRankWindows

/** [[graft.plans.PartitionedRank]] — skew-aware PARTITIONED rank
  * windows (r13, VERDICT r12 task 6): a hot key's rows range-sub-split
  * over a contiguous partition run under the composite `(k, v)` range
  * exchange, per-key offsets stitched at the boundaries. Pinned
  * bit-for-bit against the built-in WindowExec on fixtures where the
  * hot key spans MANY partitions — the case the built-in physically
  * cannot spread. */
class PartitionedRankSpec extends AnyFunSuite {
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
    val sortCols = windowed.columns.map(col).toSeq
    assert(forced.sort(sortCols: _*).collect().toSeq ==
      windowed.sort(sortCols: _*).collect().toSeq)
    val p = noAqePlan(forced)
    assert(p.collect { case x: WindowExec => x }.isEmpty, p.toString)
    assert(p.collect { case g: PartitionedRankExec if g.partKeys.nonEmpty => g }.size == 1, p.toString)
  }

  test("one hot key holding half the rows: rank/dense_rank/row_number == built-in") {
    // key -1 holds ~50% of 4000 rows; with 32 shuffle partitions the
    // hot key MUST span many partitions — the stitching under test
    val df = spark.range(4000)
      .select(when(col("id") % 2 === 0, lit(-1L))
        .otherwise(col("id") % 37).as("k"),
        (col("id") * 48271L % 997L).as("v"), col("id"))
      .repartition(11)
    val w = Window.partitionBy("k").orderBy(col("v"), col("id"))
    assertSame(df.select(col("k"), col("v"), col("id"),
      row_number().over(w).as("rn"),
      rank().over(w).as("rk"),
      dense_rank().over(w).as("dr")))
  }

  test("ties within the hot key: rank gaps and dense_rank compaction stitch exactly") {
    // coarse v (many ties) over a hot key: tie groups sit at partition
    // seams of the sub-split; (k, v) tie containment keeps them whole
    val df = spark.range(3000)
      .select(when(col("id") % 3 < 2, lit(0L)).otherwise(col("id") % 13).as("k"),
        (col("id") % 7).as("v"))
      .repartition(8)
    val w = Window.partitionBy("k").orderBy("v")
    assertSame(df.select(col("k"), col("v"),
      rank().over(w).as("rk"), dense_rank().over(w).as("dr")))
  }

  test("single key = the whole input (the global case degenerates correctly)") {
    val df = spark.range(2000)
      .select(lit(7L).as("k"), (col("id") * 31L % 503L).as("v"), col("id"))
      .repartition(6)
    val w = Window.partitionBy("k").orderBy(col("v"), col("id"))
    assertSame(df.select(col("k"), col("v"),
      row_number().over(w).as("rn"), dense_rank().over(w).as("dr")))
  }

  test("NULL partition keys group together; null order values rank nulls-first") {
    val df = spark.range(1200)
      .select(when(col("id") % 4 === 0, lit(null)).otherwise(col("id") % 9).as("k"),
        when(col("id") % 17 === 0, lit(null)).otherwise(col("id") % 23).as("v"),
        col("id"))
      .repartition(7)
    val w = Window.partitionBy("k").orderBy(col("v"), col("id"))
    assertSame(df.select(col("k"), col("v"),
      row_number().over(w).as("rn"), rank().over(w).as("rk")))
  }

  test("multi-column partition keys and descending order") {
    val df = spark.range(1500)
      .select((col("id") % 3).as("k1"), (col("id") % 2).as("k2"),
        (col("id") * 13L % 97L).as("v"), col("id"))
      .repartition(9)
    val w = Window.partitionBy("k1", "k2").orderBy(col("v").desc, col("id"))
    assertSame(df.select(col("k1"), col("k2"), col("v"),
      rank().over(w).as("rk"), dense_rank().over(w).as("dr")))
  }

  test("plan: ONE composite range exchange, no hash-clustered funnel, no WindowExec") {
    val df = spark.range(800)
      .select((col("id") % 5).as("k"), col("id").as("v"))
    val w = Window.partitionBy("k").orderBy("v")
    val p = noAqePlan(RewriteGlobalRankWindows.forceSkew(
      df.select(col("k"), col("v"), row_number().over(w).as("rn"))))
    assert(p.collect { case x: WindowExec => x }.isEmpty, p.toString)
    val exchanges = p.collect { case e: ShuffleExchangeExec => e }
    assert(exchanges.size == 1, p.toString)
    assert(exchanges.head.outputPartitioning.isInstanceOf[
      org.apache.spark.sql.catalyst.plans.physical.RangePartitioning],
      s"the skew tier must range-partition, not hash-cluster:\n$p")
  }

  test("total-dependent modes: percent_rank/cume_dist/ntile == built-in under a hot key") {
    // keys' totals come from BOTH stitching directions (the hot key
    // straddles many partitions) and from the zipped key/group leads
    // (interior keys); heavy ties exercise cume_dist's group sizes
    val df = spark.range(3000)
      .select(when(col("id") % 2 === 0, lit(-1L))
        .otherwise(col("id") % 23).as("k"),
        (col("id") % 9).as("v"), col("id"))
      .repartition(8)
    val w = Window.partitionBy("k").orderBy(col("v"))
    val wT = Window.partitionBy("k").orderBy(col("v"), col("id"))
    assertSame(df.select(col("k"), col("v"), col("id"),
      percent_rank().over(w).as("pr"),
      cume_dist().over(w).as("cd"),
      rank().over(w).as("rk")))
    // ntile is positional — its own TOTAL order (and thus its own
    // window node / operator)
    assertSame(df.select(col("k"), col("v"), col("id"),
      ntile(4).over(wT).as("nt")))
  }

  test("total-dependent modes: single-row keys, single-key corpus, interior-only keys") {
    // edge denominators: n_k = 1 (percent_rank must be 0.0), one key
    // spanning everything, and keys that never touch a boundary
    val df = spark.range(500)
      .select((col("id") % 120).as("k"), col("id").as("v"))
      .repartition(7)
    val w = Window.partitionBy("k").orderBy(col("v"))
    assertSame(df.select(col("k"), col("v"),
      percent_rank().over(w).as("pr"), cume_dist().over(w).as("cd")))
    val one = spark.range(800).select(lit(3L).as("k"), col("id").as("v"))
      .repartition(6)
    assertSame(one.select(col("k"), col("v"),
      percent_rank().over(w).as("pr"), cume_dist().over(w).as("cd"),
      ntile(7).over(w).as("nt")))
  }

  test("non-rewrites: aggregate-misfits keep WindowExec; force() never fires the skew tier") {
    spark.range(100).select((col("id") % 5).as("k"), col("id").as("v"))
      .createOrReplaceTempView("pr_nr")
    def kept(sql: String): Unit = {
      val p = noAqePlan(RewriteGlobalRankWindows.forceSkew(spark.sql(sql)))
      assert(p.collect { case g: PartitionedRankExec if g.partKeys.nonEmpty => g }.isEmpty, sql)
      assert(p.collect { case x: WindowExec => x }.size == 1, sql)
    }
    // (offsets route to PartitionedShift, running aggregates to
    // PartitionedRunningAgg, bounded ROWS frames to
    // PartitionedMovingAgg, integral bounded RANGE frames to
    // PartitionedRangeMovingAgg and whole-frame aggregates to the
    // window-to-join rewrite since late r13 — their own specs pin both
    // directions; an unbounded-buffer imperative matches NO skew
    // member, pinned here)
    kept("SELECT k, collect_list(v) OVER (PARTITION BY k ORDER BY v) AS s FROM pr_nr")
    // the plain force() path must NOT reroute partitioned windows — the
    // skew route is an explicit choice (flat histograms prefer the
    // built-in's hash exchange)
    val pf = noAqePlan(RewriteGlobalRankWindows.force(spark.sql(
      "SELECT k, row_number() OVER (PARTITION BY k ORDER BY v) AS s FROM pr_nr")))
    assert(pf.collect { case g: PartitionedRankExec if g.partKeys.nonEmpty => g }.isEmpty)
    assert(pf.collect { case x: WindowExec => x }.size == 1)
  }

  test("session-conf path: spark.graft.rewrite.partitionedRankWindows routes automatically") {
    // the conf path rides the GraftExtensions pre-CBO injection, so it
    // needs an extensions-built session (same pattern as the global
    // rewrite's conf-gate test in RewriteGlobalRankSpec)
    import org.apache.spark.sql.SparkSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s2 = SparkSession.builder()
      .master("local[2]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "false")
      .withExtensions(new graft.rules.GraftExtensions)
      .getOrCreate()
    try {
      import s2.implicits._
      (0L until 300L).map(i => (i % 4, i)).toDF("k", "v")
        .createOrReplaceTempView("pr_conf")
      val sql = "SELECT k, v, dense_rank() OVER (PARTITION BY k ORDER BY v) AS dr FROM pr_conf"
      val off = s2.sql(sql)
      assert(off.queryExecution.executedPlan.collect {
        case x: WindowExec => x
      }.size == 1, "default off must keep WindowExec")
      val expected = off.collect().toSet
      s2.conf.set(RewriteGlobalRankWindows.SkewConfKey, "true")
      val on = s2.sql(sql)
      val p = on.queryExecution.executedPlan
      assert(p.collect { case g: PartitionedRankExec if g.partKeys.nonEmpty => g }.size == 1, p.toString)
      assert(p.collect { case x: WindowExec => x }.isEmpty, p.toString)
      assert(on.collect().toSet == expected)
    } finally {
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
  }
}
