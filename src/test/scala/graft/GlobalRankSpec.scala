package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.{GlobalRank, PartitionedRankExec}
import graft.plans.GlobalRank.Key

/** [[graft.plans.GlobalRank]] — the distributed exact-rank primitive
  * (r12, VERDICT r11 task 1): semantics pinned against the built-in
  * `row_number()` window, multi-partition offsets, chaining, type
  * independence, and the q_rfm_ranked == q_rfm equality that makes it
  * the EXECUTED scale twin of the WindowWhitelist ENTITY entries. */
class GlobalRankSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("globalRowNumber == row_number window under a total order") {
    val df = Seq((5L, "e"), (1L, "a"), (3L, "c"), (2L, "b"), (4L, "d"),
      (3L, "cc"), (0L, "z")).toDF("v", "s").repartition(5)
    val got = GlobalRank.globalRowNumber(df, "rk",
      Seq(Key("v"), Key("s")))
      .select("v", "s", "rk").collect().toSet
    val want = df.withColumn("rk",
      row_number().over(Window.orderBy("v", "s")).cast("long"))
      .select("v", "s", "rk").collect().toSet
    assert(got == want)
  }

  test("descending keys + many partitions: ranks are exactly 1..n in sort order") {
    // 10k rows over the 4-partition shuffle default — several range
    // partitions, none empty by construction, offsets must telescope
    val df = spark.range(10000).select(
      (col("id") * 2654435761L % 99991L).as("k"), col("id"))
    val out = GlobalRank.globalRowNumber(df, "rk",
      Seq(Key("k", desc = true), Key("id"))).orderBy("rk")
      .select("rk", "k", "id").as[(Long, Long, Long)].collect()
    assert(out.map(_._1).toSeq == (1L to 10000L))
    // sorted by rank must mean sorted by (k desc, id asc)
    val resorted = out.sortBy(r => (-r._2, r._3)).toSeq
    assert(out.toSeq == resorted)
  }

  test("chained ranks: each column ranks independently, output arity grows") {
    val df = Seq((1L, 9L), (2L, 8L), (3L, 7L)).toDF("a", "b")
    val r = GlobalRank.globalRowNumber(
      GlobalRank.globalRowNumber(df, "ra", Seq(Key("a"))),
      "rb", Seq(Key("b")))
    assert(r.columns.toSeq == Seq("a", "b", "ra", "rb"))
    val rows = r.orderBy("a").as[(Long, Long, Long, Long)].collect().toSeq
    assert(rows == Seq((1L, 9L, 1L, 3L), (2L, 8L, 2L, 2L), (3L, 7L, 3L, 1L)))
  }

  test("empty input and single row") {
    val empty = spark.emptyDataset[Long].toDF("v")
    assert(GlobalRank.globalRowNumber(empty, "rk", Seq(Key("v"))).count() == 0)
    val one = Seq(42L).toDF("v")
    assert(GlobalRank.globalRowNumber(one, "rk", Seq(Key("v")))
      .select("rk").as[Long].collect().toSeq == Seq(1L))
  }

  test("any sortable type: decimal and string order keys (no window type whitelist)") {
    val df = Seq(("b", BigDecimal("2.50")), ("a", BigDecimal("10.00")),
      ("c", BigDecimal("2.50"))).toDF("s", "d")
    val byDec = GlobalRank.globalRowNumber(df, "rk",
      Seq(Key("d", desc = true), Key("s")))
      .orderBy("rk").select("s").as[String].collect().toSeq
    assert(byDec == Seq("a", "b", "c"))
  }

  test("nulls follow SQL sort defaults (nulls first ascending), like Window.orderBy") {
    val df = Seq[(java.lang.Long, String)]((3L, "x"), (null, "y"), (1L, "z"))
      .toDF("v", "s")
    val got = GlobalRank.globalRowNumber(df, "rk", Seq(Key("v"), Key("s")))
      .orderBy("rk").select("s").as[String].collect().toSeq
    assert(got == Seq("y", "z", "x"))
  }

  test("unknown / ambiguous order column and duplicate rank name are rejected") {
    val df = Seq(1L).toDF("v")
    intercept[IllegalArgumentException] {
      GlobalRank.globalRowNumber(df, "rk", Seq(Key("nope")))
    }
    intercept[IllegalArgumentException] {
      GlobalRank.globalRowNumber(df, "rk", Seq.empty)
    }
    intercept[IllegalArgumentException] {
      GlobalRank.globalRowNumber(df, "v", Seq(Key("v"))) // name collision
    }
  }

  test("rank/dense_rank/percent_rank == built-in windows under heavy ties, many partitions") {
    import graft.plans.GlobalRank.RankMode
    // 10k rows, only 7 distinct order keys → giant tie groups; the
    // range exchange must keep each group in ONE partition and the
    // per-partition group counts must telescope into exact offsets
    val df = spark.range(10000)
      .select((col("id") % 7).as("k"), col("id")).repartition(8)
    val got = GlobalRank.globalRanks(df,
      Seq("rnk" -> RankMode.Rank, "drnk" -> RankMode.DenseRank,
        "prnk" -> RankMode.PercentRank, "cd" -> RankMode.CumeDist),
      Seq(Key("k")))
      .select("k", "rnk", "drnk", "prnk", "cd").distinct()
      .as[(Long, Long, Long, Double, Double)].collect().toSet
    val w = Window.orderBy("k")
    val want = df
      .withColumn("rnk", rank().over(w).cast("long"))
      .withColumn("drnk", dense_rank().over(w).cast("long"))
      .withColumn("prnk", percent_rank().over(w))
      .withColumn("cd", cume_dist().over(w))
      .select("k", "rnk", "drnk", "prnk", "cd").distinct()
      .as[(Long, Long, Long, Double, Double)].collect().toSet
    // rank-family values are functions of the order KEY alone, so the
    // distinct sets are deterministic despite arbitrary tie order
    assert(got == want)
    assert(got.size == 7)
  }

  test("ntile == built-in ntile under a total order; all six modes in ONE node") {
    import graft.plans.GlobalRank.RankMode
    import graft.plans.PartitionedRankExec
    val df = spark.range(1000)
      .select((col("id") * 48271L % 99991L).as("v"), col("id")).repartition(6)
    val all = GlobalRank.globalRanks(df,
      Seq("rn" -> RankMode.RowNumber, "rnk" -> RankMode.Rank,
        "drnk" -> RankMode.DenseRank, "prnk" -> RankMode.PercentRank,
        "cd" -> RankMode.CumeDist,
        "nt" -> RankMode.NTile(7)), Seq(Key("v"), Key("id")))
    // one operator, one scan pair — NOT five (AQE off so the tree is
    // inspectable without executing)
    val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try assert(all.queryExecution.executedPlan.collect {
      case g: PartitionedRankExec if g.partKeys.isEmpty => g
    }.size == 1)
    finally spark.conf.set("spark.sql.adaptive.enabled", prev)
    val got = all.select("v", "id", "rn", "rnk", "drnk", "prnk", "cd", "nt")
      .as[(Long, Long, Long, Long, Long, Double, Double, Long)].collect().toSet
    val w = Window.orderBy("v", "id")
    val want = df
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("rnk", rank().over(w).cast("long"))
      .withColumn("drnk", dense_rank().over(w).cast("long"))
      .withColumn("prnk", percent_rank().over(w))
      .withColumn("cd", cume_dist().over(w))
      .withColumn("nt", ntile(7).over(w).cast("long"))
      .select("v", "id", "rn", "rnk", "drnk", "prnk", "cd", "nt")
      .as[(Long, Long, Long, Long, Long, Double, Double, Long)].collect().toSet
    assert(got == want)
  }

  test("ntile edge cases: more buckets than rows, and n not divisible by k") {
    import graft.plans.GlobalRank.RankMode
    val tiny = Seq(10L, 20L, 30L).toDF("v")
    val t = GlobalRank.globalRanks(tiny, Seq("nt" -> RankMode.NTile(5)),
      Seq(Key("v"))).orderBy("v").select("nt").as[Long].collect().toSeq
    assert(t == Seq(1L, 2L, 3L)) // first n buckets get one row each
    // 10 rows, 3 buckets → sizes 4,3,3 (first n%k buckets padded)
    val ten = spark.range(10).toDF("v")
    val sizes = GlobalRank.globalRanks(ten, Seq("nt" -> RankMode.NTile(3)),
      Seq(Key("v"))).groupBy("nt").count()
      .orderBy("nt").select("count").as[Long].collect().toSeq
    assert(sizes == Seq(4L, 3L, 3L))
  }

  test("percent_rank edges: single row is 0.0; ties share the value") {
    import graft.plans.GlobalRank.RankMode
    val one = Seq(5L).toDF("v")
    assert(GlobalRank.globalRanks(one, Seq("p" -> RankMode.PercentRank),
      Seq(Key("v"))).select("p").as[Double].collect().toSeq == Seq(0.0))
    val tied = Seq(1L, 1L, 2L).toDF("v")
    val ps = GlobalRank.globalRanks(tied, Seq("p" -> RankMode.PercentRank),
      Seq(Key("v"))).orderBy("v").select("p").as[Double].collect().toSeq
    assert(ps == Seq(0.0, 0.0, 1.0))
  }

  test("cume_dist edges: single row is 1.0; whole-group values at group end") {
    import graft.plans.GlobalRank.RankMode
    val one = Seq(5L).toDF("v")
    assert(GlobalRank.globalRanks(one, Seq("cd" -> RankMode.CumeDist),
      Seq(Key("v"))).select("cd").as[Double].collect().toSeq == Seq(1.0))
    // 2-2-1 tie groups: cume = 0.4, 0.8, 1.0
    val tied = Seq(1L, 1L, 2L, 2L, 3L).toDF("v").repartition(3)
    val got = GlobalRank.globalRanks(tied, Seq("cd" -> RankMode.CumeDist),
      Seq(Key("v"))).orderBy("v").select("v", "cd")
      .as[(Long, Double)].collect().toSeq
    assert(got == Seq((1L, 0.4), (1L, 0.4), (2L, 0.8), (2L, 0.8), (3L, 1.0)))
  }

  test("duplicate rank column names are rejected") {
    import graft.plans.GlobalRank.RankMode
    val df = Seq(1L).toDF("v")
    intercept[IllegalArgumentException] {
      GlobalRank.globalRanks(df,
        Seq("r" -> RankMode.Rank, "r" -> RankMode.DenseRank), Seq(Key("v")))
    }
  }

  test("q_rfm_ranked == q_rfm: the scale twin reproduces the whitelisted form bit-for-bit") {
    val dir = "/root/testdata/sf0.001"
    val ranked = SparkEntry.queries("q_rfm_ranked")(spark, dir).collect().toSeq
    val window = SparkEntry.queries("q_rfm")(spark, dir).collect().toSeq
    assert(ranked.nonEmpty)
    assert(ranked.map(normalize) == window.map(normalize))
  }

  private def normalize(r: Row): Seq[Any] = r.toSeq

  test("physical plan: GlobalRankExec above a range exchange, both passes reuse one shuffle") {
    val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
      import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
      // descending order over range: the source's natural ascending
      // RangePartitioning does NOT satisfy it → exchange inserted
      val df = GlobalRank.globalRowNumber(
        spark.range(100).toDF("id"), "rk", Seq(Key("id", desc = true)))
      val p = df.queryExecution.executedPlan
      assert(p.collect { case g: PartitionedRankExec if g.partKeys.isEmpty => g }.size == 1, p.toString)
      val range = p.collect {
        case e: ShuffleExchangeExec
          if e.outputPartitioning.isInstanceOf[RangePartitioning] => e
      }
      assert(range.size == 1, s"rank must ride ONE range exchange:\n$p")
      assert(range.head.outputPartitioning.numPartitions > 1,
        "range exchange must fan out, not funnel")
      // ...and when the child is ALREADY range-partitioned the right
      // way (spark.range reports ascending RangePartitioning),
      // EnsureRequirements inserts NO exchange at all — the operator
      // composes with existing partitioning instead of re-shuffling
      val aligned = GlobalRank.globalRowNumber(
        spark.range(100).toDF("id"), "rk", Seq(Key("id")))
        .queryExecution.executedPlan
      assert(aligned.collect { case e: ShuffleExchangeExec => e }.isEmpty,
        s"aligned child must not reshuffle:\n$aligned")
      // ...and the rank node passes the range partitioning + ordering
      // THROUGH: a downstream sort on the same keys reuses them — no
      // second exchange, no re-sort
      val downstream = df.orderBy(col("id").desc).queryExecution.executedPlan
      assert(downstream.collect {
        case e: ShuffleExchangeExec => e
      }.size == 1, s"downstream same-key sort must reuse the rank's exchange:\n$downstream")
      assert(downstream.collect {
        case s: org.apache.spark.sql.execution.SortExec => s
      }.size == 1, s"one sort total (the rank's own):\n$downstream")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("empty-key row_number: ONE count job, over all but the last partition, sorting nothing") {
    // the empty-key fast path: the row-count pass reads the exchange
    // output BELOW the per-partition sort and skips the last partition
    // (its offset needs only the others' counts); the output pass sorts
    import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
    import scala.jdk.CollectionConverters._
    val nParts = 5
    val confs = Seq("spark.sql.adaptive.enabled" -> "false",
      "spark.sql.shuffle.partitions" -> nParts.toString)
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    val tagKey = "graft.test.job.tag"
    val tag = java.util.UUID.randomUUID().toString
    // (final stage id, its task count) per job of this test's thread —
    // the input has 2 partitions, so the range sampling job never
    // looks like the nParts - 1 task count job
    val jobs = new ConcurrentLinkedQueue[(Int, Int)]()
    val peakMem = new ConcurrentHashMap[Int, java.lang.Long]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(tagKey) == tag) {
          val last = e.stageInfos.maxBy(_.stageId)
          jobs.add((last.stageId, last.numTasks))
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null)
          peakMem.merge(e.stageId, java.lang.Long.valueOf(e.taskMetrics.peakExecutionMemory),
            (a: java.lang.Long, b: java.lang.Long) => java.lang.Long.valueOf(a + b))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val df = spark.range(0, 20000, 1, 2)
        .select((col("id") * 7919L % 10007L).as("v"), col("id"))
      val ranked = GlobalRank.globalRowNumber(df, "rk", Seq(Key("v"), Key("id")))
      spark.sparkContext.setLocalProperty(tagKey, tag)
      val n = try ranked.collect().length
        finally spark.sparkContext.setLocalProperty(tagKey, null)
      assert(n == 20000)
      org.apache.spark.sql.GraftSqlBridge.waitForListenerBus(spark)
      val all = jobs.asScala.toSeq
      val counts = all.filter(_._2 == nParts - 1)
      assert(counts.size == 1, s"expected ONE count job over ${nParts - 1} partitions: $all")
      def peak(stage: Int): Long = Option(peakMem.get(stage)).map(_.longValue).getOrElse(0L)
      assert(peak(counts.head._1) == 0L, "the count job sorted its partitions")
      // control: the output pass is where the per-partition sort runs
      val outputs = all.filter(_._2 == nParts)
      assert(outputs.nonEmpty && outputs.forall(j => peak(j._1) > 0L),
        s"the output pass must sort (control): $all")
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
  }
}
