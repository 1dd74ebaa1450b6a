package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.GlobalRank.Key
import graft.plans.{PartitionedShift, PartitionedShiftExec}
import graft.plans.PartitionedShift.Shift

/** [[graft.plans.PartitionedShift]] under the EMPTY key — distributed exact global lead/lag
  * (late r12): equality against the built-in offset windows under a
  * total order, boundary crossing over many range partitions, offsets
  * larger than any partition, nulls in the shifted column, and the
  * no-WindowExec plan shape. */
class GlobalShiftSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("lag/lead == built-in windows under a total order, many partitions") {
    val df = spark.range(3000)
      .select((col("id") * 48271L % 9973L).as("v"), col("id"),
        (col("id") * 3L).as("x")).repartition(8)
    val got = PartitionedShift.globalShift(df,
      Seq(Shift("lag1", "x", -1), Shift("lag7", "x", -7),
        Shift("lead1", "x", 1), Shift("lead13", "x", 13),
        Shift("cur", "x", 0)),
      Seq(Key("v"), Key("id")))
      .select("v", "id", "lag1", "lag7", "lead1", "lead13", "cur")
      .collect().toSet
    val w = Window.orderBy("v", "id")
    val want = df
      .withColumn("lag1", lag("x", 1).over(w))
      .withColumn("lag7", lag("x", 7).over(w))
      .withColumn("lead1", lead("x", 1).over(w))
      .withColumn("lead13", lead("x", 13).over(w))
      .withColumn("cur", lag("x", 0).over(w))
      .select("v", "id", "lag1", "lag7", "lead1", "lead13", "cur")
      .collect().toSet
    assert(got == want)
  }

  test("offsets larger than any range partition still resolve (boundary chains)") {
    // 4 shuffle partitions of ~50 rows each; offset 120 must chain
    // through MULTIPLE partitions' boundary state
    val df = spark.range(200).select(col("id").as("v"), (col("id") % 97).as("x"))
    val got = PartitionedShift.globalShift(df,
      Seq(Shift("b", "x", -120), Shift("f", "x", 120)), Seq(Key("v")))
      .select("v", "b", "f").collect().toSet
    val w = Window.orderBy("v")
    val want = df
      .withColumn("b", lag("x", 120).over(w))
      .withColumn("f", lead("x", 120).over(w))
      .select("v", "b", "f").collect().toSet
    assert(got == want)
  }

  test("nulls in the shifted column pass through; out-of-range is null") {
    val df = Seq[(Long, java.lang.Long)]((1L, 10L), (2L, null), (3L, 30L))
      .toDF("v", "x")
    val got = PartitionedShift.globalShift(df,
      Seq(Shift("p", "x", -1), Shift("n", "x", 1)), Seq(Key("v")))
      .orderBy("v").select("p", "n")
      .collect().map(r => (r.get(0), r.get(1))).toSeq
    assert(got == Seq((null, null), (10L, 30L), (null, null)))
  }

  test("empty input, single row, and offset beyond the data") {
    val empty = spark.emptyDataset[Long].toDF("v")
    assert(PartitionedShift.globalShift(empty,
      Seq(Shift("s", "v", -1)), Seq(Key("v"))).count() == 0)
    val one = Seq(42L).toDF("v")
    val r = PartitionedShift.globalShift(one,
      Seq(Shift("b", "v", -1), Shift("f", "v", 1)), Seq(Key("v")))
      .select("b", "f").collect().head
    assert(r.isNullAt(0) && r.isNullAt(1))
    val tiny = Seq(1L, 2L, 3L).toDF("v")
    val far = PartitionedShift.globalShift(tiny,
      Seq(Shift("f", "v", 99)), Seq(Key("v")))
      .select("f").collect()
    assert(far.forall(_.isNullAt(0)))
  }

  test("descending order and string values") {
    val df = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("v", "s")
    val got = PartitionedShift.globalShift(df,
      Seq(Shift("p", "s", -1)), Seq(Key("v", desc = true)))
      .orderBy(col("v").desc).select("p").as[String].collect().toSeq
    assert(got == Seq(null, "c", "b"))
  }

  test("plan shape: GlobalShiftExec, zero WindowExec, range exchange fans out") {
    val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
      import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
      val df = PartitionedShift.globalShift(
        spark.range(100).toDF("id"), Seq(Shift("p", "id", -1)),
        Seq(Key("id", desc = true)))
      val p = df.queryExecution.executedPlan
      assert(p.collect { case g: PartitionedShiftExec if g.partKeys.isEmpty => g }.size == 1, p.toString)
      assert(p.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }.isEmpty)
      val range = p.collect {
        case e: ShuffleExchangeExec
          if e.outputPartitioning.isInstanceOf[RangePartitioning] => e
      }
      assert(range.size == 1, s"shift must ride ONE range exchange:\n$p")
      assert(range.head.outputPartitioning.numPartitions > 1,
        "range exchange must fan out, not funnel")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("unknown column, duplicate and colliding names are rejected") {
    val df = Seq(1L).toDF("v")
    intercept[IllegalArgumentException] {
      PartitionedShift.globalShift(df, Seq(Shift("s", "nope", -1)), Seq(Key("v")))
    }
    intercept[IllegalArgumentException] {
      PartitionedShift.globalShift(df,
        Seq(Shift("s", "v", -1), Shift("s", "v", 1)), Seq(Key("v")))
    }
    intercept[IllegalArgumentException] {
      PartitionedShift.globalShift(df, Seq(Shift("v", "v", -1)), Seq(Key("v")))
    }
    intercept[IllegalArgumentException] {
      PartitionedShift.globalShift(df, Seq.empty, Seq(Key("v")))
    }
  }
}
