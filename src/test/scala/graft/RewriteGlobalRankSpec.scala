package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.PartitionedRankExec
import graft.rules.{GraftExtensions, RewriteGlobalRankWindows}

/** [[graft.rules.RewriteGlobalRankWindows]] — the conf-gated optimizer
  * rule that rewrites unpartitioned rank-family windows into the
  * distributed [[graft.plans.GlobalRankNode]]: equivalence against the
  * built-in WindowExec forms (total order, heavy ties), the plan shape
  * (zero WindowExec, one GlobalRankExec per window node), the
  * non-rewrites (partitioned windows, out-of-family functions), and the
  * session-conf gate through a GraftExtensions deployment. */
class RewriteGlobalRankSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def noAqePlan(df: DataFrame) = {
    val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try df.queryExecution.executedPlan
    finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("force(): all five functions equal the built-ins under a total order") {
    val df = spark.range(2000)
      .select((col("id") * 48271L % 1999L).as("v"), col("id")).repartition(7)
    val w = Window.orderBy("v", "id")
    val windowed = df
      .withColumn("rn", row_number().over(w))
      .withColumn("rnk", rank().over(w))
      .withColumn("drnk", dense_rank().over(w))
      .withColumn("prnk", percent_rank().over(w))
      .withColumn("cd", cume_dist().over(w))
      .withColumn("nt", ntile(6).over(w))
    val forced = RewriteGlobalRankWindows.force(windowed)
    // user-visible schema unchanged: built-in INT / DOUBLE types survive
    assert(forced.schema == windowed.schema)
    assert(RowMultiset.of(forced) == RowMultiset.of(windowed))
  }

  test("force(): tie-aware functions exact under heavy ties; positional ones consistent") {
    // 5000 rows, 11 distinct keys → giant tie groups across partitions
    val df = spark.range(5000).select((col("id") % 11).as("k"), col("id"))
      .repartition(8)
    val w = Window.orderBy("k")
    val windowed = df
      .withColumn("rn", row_number().over(w))
      .withColumn("rnk", rank().over(w))
      .withColumn("drnk", dense_rank().over(w))
      .withColumn("prnk", percent_rank().over(w))
      .withColumn("cd", cume_dist().over(w))
    val forced = RewriteGlobalRankWindows.force(windowed)
    // rank/dense_rank/percent_rank/cume_dist are functions of the order
    // KEY — deterministic despite arbitrary tie order
    val keyed = forced.select("k", "rnk", "drnk", "prnk", "cd").distinct()
      .as[(Long, Int, Int, Double, Double)].collect().toSet
    val want = windowed.select("k", "rnk", "drnk", "prnk", "cd").distinct()
      .as[(Long, Int, Int, Double, Double)].collect().toSet
    assert(keyed == want)
    assert(keyed.size == 11)
    // row_number under ties is an arbitrary tie order but must still be
    // a permutation of 1..n with ranks consistent inside each tie group
    val rns = forced.select("rn").as[Int].collect().sorted.toSeq
    assert(rns == (1 to 5000))
    val grouped = forced.select("k", "rn", "rnk").as[(Long, Int, Int)]
      .collect().groupBy(_._1)
    grouped.foreach { case (_, rows) =>
      val rank = rows.head._3
      assert(rows.forall(_._3 == rank))
      assert(rows.map(_._2).min == rank) // rank = first position of group
    }
  }

  test("plan shape: zero WindowExec, ONE GlobalRankExec for a multi-function window") {
    val df = spark.range(100).select(col("id").as("v"))
    val w = Window.orderBy("v")
    // one SELECT → the analyzer groups same-spec functions into one
    // Window node → one GlobalRankNode (chained withColumn calls build
    // separate analyzed Window nodes and rewrite separately — still
    // zero WindowExec, and the later ranks ride the first's range
    // partitioning, but the single-node shape is the interesting pin)
    val forced = RewriteGlobalRankWindows.force(
      df.select(col("v"), row_number().over(w).as("rn"),
        ntile(4).over(w).as("nt")))
    val p = noAqePlan(forced)
    assert(p.collect { case x: WindowExec => x }.isEmpty, p.toString)
    assert(p.collect { case g: PartitionedRankExec if g.partKeys.isEmpty => g }.size == 1, p.toString)
  }

  test("non-rewrites: partitioned windows and out-of-family functions are left alone") {
    val df = spark.range(100).select((col("id") % 5).as("g"), col("id").as("v"))
    // partitioned window: scales fine, must NOT be rewritten
    val part = df.withColumn("rn",
      row_number().over(Window.partitionBy("g").orderBy("v")))
    val p1 = noAqePlan(RewriteGlobalRankWindows.force(part))
    assert(p1.collect { case x: WindowExec => x }.size == 1, p1.toString)
    assert(p1.collect { case g: PartitionedRankExec if g.partKeys.isEmpty => g }.isEmpty)
    // a window NODE carrying an out-of-family function (collect_list is
    // order-sensitive — no family handles it) keeps ALL its expressions
    // on the WindowExec path — one SELECT so both functions share one
    // analyzed Window node
    val w = Window.orderBy("v")
    val mixed = df.select(col("g"), col("v"),
      row_number().over(w).as("rn"),
      collect_list("v").over(w).as("vs"))
    val p2 = noAqePlan(RewriteGlobalRankWindows.force(mixed))
    assert(p2.collect { case g: PartitionedRankExec if g.partKeys.isEmpty => g }.isEmpty, p2.toString)
    assert(RowMultiset.of(RewriteGlobalRankWindows.force(mixed)) ==
      RowMultiset.of(mixed))
  }

  test("conf gate: default off keeps WindowExec; flag on rewrites SQL windows") {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s2 = SparkSession.builder()
      .master("local[2]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    try {
      import s2.implicits._
      Seq((3L, "c"), (1L, "a"), (2L, "b"), (2L, "bb"))
        .toDF("v", "s").createOrReplaceTempView("rw_t")
      val sql = "SELECT s, row_number() OVER (ORDER BY v, s) AS rn, " +
        "rank() OVER (ORDER BY v, s) AS rnk FROM rw_t"
      // default: flag unset → untouched
      val off = s2.sql(sql)
      assert(off.queryExecution.executedPlan.collect {
        case x: WindowExec => x
      }.size == 1)
      // flag on: same SQL plans through GlobalRankExec, same rows
      s2.conf.set(RewriteGlobalRankWindows.ConfKey, "true")
      val on = s2.sql(sql)
      val p = on.queryExecution.executedPlan
      assert(p.collect { case x: WindowExec => x }.isEmpty, p.toString)
      assert(p.collect { case g: PartitionedRankExec if g.partKeys.isEmpty => g }.size == 1, p.toString)
      assert(RowMultiset.of(on) == RowMultiset.of(off))
      assert(on.schema == off.schema)
    } finally {
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
  }

  test("offset family: lag/lead with defaults rewrite to GlobalShiftExec, equal results") {
    import graft.plans.PartitionedShiftExec
    val df = spark.range(1500)
      .select((col("id") * 7919L % 6007L).as("v"), (col("id") % 251).as("x"))
      .repartition(7)
    val w = Window.orderBy("v")
    val windowed = df.select(col("v"), col("x"),
      lag("x", 3).over(w).as("l3"),
      lead("x", 2).over(w).as("d2"),
      lag(col("x"), 5, -1).over(w).as("l5d"),
      // negative lag IS a lead — sign normalization path
      lag("x", -4).over(w).as("neg"))
    val forced = RewriteGlobalRankWindows.force(windowed)
    assert(forced.schema == windowed.schema)
    assert(RowMultiset.of(forced) == RowMultiset.of(windowed))
    // fresh force(): the lazy executedPlan above was already realized
    // under AQE, which hides the exec from a plain collect
    val p = noAqePlan(RewriteGlobalRankWindows.force(windowed))
    assert(p.collect { case x: WindowExec => x }.isEmpty, p.toString)
    assert(p.collect { case g: PartitionedShiftExec if g.partKeys.isEmpty => g }.size == 1, p.toString)
  }

  test("mixed rank + offset window: stacked nodes share ONE range exchange") {
    import graft.plans.PartitionedShiftExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val df = spark.range(800)
      .select((col("id") * 131L % 1009L).as("v"), (col("id") % 50).as("x"))
    val w = Window.orderBy("v")
    val windowed = df.select(col("v"), col("x"),
      row_number().over(w).as("rn"),
      dense_rank().over(w).as("drnk"),
      lag("x", 1).over(w).as("prev"),
      lead("x", 1).over(w).as("nxt"))
    val forced = RewriteGlobalRankWindows.force(windowed)
    assert(RowMultiset.of(forced) == RowMultiset.of(windowed))
    val p = noAqePlan(RewriteGlobalRankWindows.force(windowed))
    assert(p.collect { case x: WindowExec => x }.isEmpty, p.toString)
    assert(p.collect { case g: PartitionedRankExec if g.partKeys.isEmpty => g }.size == 1, p.toString)
    assert(p.collect { case g: PartitionedShiftExec if g.partKeys.isEmpty => g }.size == 1, p.toString)
    // the stacked nodes declare the same OrderedDistribution and pass
    // partitioning through — ONE shuffle serves both
    assert(p.collect { case e: ShuffleExchangeExec => e }.size == 1,
      s"rank+shift must share one range exchange:\n$p")
  }

  test("offset non-rewrites: over-cap offsets keep WindowExec (lead IGNORE NULLS rewrites since r13)") {
    import graft.plans.{PartitionedLookaheadExec, PartitionedShiftExec}
    val df = spark.range(100).select(col("id").as("v"),
      when(col("id") % 3 === 0, col("id")).as("x"))
    df.createOrReplaceTempView("rw_shift_t")
    // LEAD with IGNORE NULLS was the "unbounded lookahead" refusal —
    // the r13 GlobalLookahead zipped tier retired it (its own parity
    // pins live in GlobalLookaheadSpec); only the over-cap form keeps
    // WindowExec now
    val ign = RewriteGlobalRankWindows.force(spark.sql(
      "SELECT v, lead(x) IGNORE NULLS OVER (ORDER BY v) AS p FROM rw_shift_t"))
    val p1 = noAqePlan(ign)
    assert(p1.collect { case g: PartitionedLookaheadExec if g.partKeys.isEmpty => g }.size == 1, p1.toString)
    assert(p1.collect { case x: WindowExec => x }.isEmpty, p1.toString)
    // an offset past spark.graft.rewrite.maxShiftOffset must fall back
    // (boundary state scales with the offset)
    spark.conf.set(RewriteGlobalRankWindows.MaxShiftKey, "4")
    try {
      val over = RewriteGlobalRankWindows.force(
        df.withColumn("p", lag("x", 5).over(Window.orderBy("v"))))
      val p2 = noAqePlan(over)
      assert(p2.collect { case g: PartitionedShiftExec if g.partKeys.isEmpty => g }.isEmpty, p2.toString)
      val under = RewriteGlobalRankWindows.force(
        df.withColumn("p", lag("x", 4).over(Window.orderBy("v"))))
      assert(noAqePlan(under).collect {
        case g: PartitionedShiftExec if g.partKeys.isEmpty => g
      }.size == 1)
    } finally spark.conf.unset(RewriteGlobalRankWindows.MaxShiftKey)
  }

  test("chained different orders: each window node rewrites to its own rank") {
    val df = spark.range(500).select(
      (col("id") * 7L % 101L).as("a"), (col("id") * 13L % 103L).as("b"),
      col("id"))
    val windowed = df
      .withColumn("ra", row_number().over(Window.orderBy(col("a"), col("id"))))
      .withColumn("rb", row_number().over(Window.orderBy(col("b").desc, col("id"))))
    val forced = RewriteGlobalRankWindows.force(windowed)
    val p = noAqePlan(forced)
    assert(p.collect { case x: WindowExec => x }.isEmpty, p.toString)
    assert(p.collect { case g: PartitionedRankExec if g.partKeys.isEmpty => g }.size == 2, p.toString)
    assert(RowMultiset.of(forced) == RowMultiset.of(windowed))
  }

  test("force over a pinned intermediate reuses the cache (r16 regression pin)") {
    // r15's chain merge ran CollapseProject over the raw analyzed plan;
    // merging a Project INTO a persisted subtree changed it, the
    // CacheManager sameResult lookup missed, and the pinned pipeline
    // silently recomputed (q_bootstrap_ci's md5 replicate pass ran
    // twice — JobStats shuffle records doubled). force() now
    // substitutes cached subtrees first, so the rewritten plan scans
    // the InMemoryRelation.
    val base = spark.range(300).select(
      (col("id") % 37L).as("g"), (col("id") * 11L % 97L).as("x"))
    val pinned = graft.core.Pins.pin(
      base.groupBy("g").agg(sum("x").as("sx"))
        .select(col("g"), (col("sx") * 2L).as("m")))
    try {
      val forced = RewriteGlobalRankWindows.force(
        pinned.withColumn("rk",
          row_number().over(Window.orderBy(col("m"), col("g")))))
      val analyzed = forced.queryExecution.withCachedData
      assert(analyzed.collect {
        case r: org.apache.spark.sql.execution.columnar.InMemoryRelation => r
      }.nonEmpty, s"pinned subtree not served from cache:\n$analyzed")
      val p = noAqePlan(forced)
      assert(p.collect { case x: WindowExec => x }.isEmpty, p.toString)
    } finally pinned.unpersist(blocking = true)
  }
}
