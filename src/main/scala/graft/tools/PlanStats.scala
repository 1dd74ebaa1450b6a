package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.window.WindowExec

import graft.plans.KeyedWindowExec

/** Plan-budget dump: `runMain graft.tools.PlanStats <sfDir> <query>...`
  * prints, per named SparkEntry query, the counts PlanShapeSpec pins —
  * hash-partitioned shuffles, broadcast-hash / sort-merge / shuffled-hash
  * joins, cartesian products, nested-loop joins, and the window
  * operators (WindowExec, unpartitioned WindowExec, and each keyed
  * window family as `Family=emptyKey/keyed`) — on the pre-AQE
  * executedPlan, cached subtrees included. The empirical source for
  * new plan pins. */
object PlanStats {
  /** Every node of `p`, including the plan behind each cached relation
    * (a pinned subtree runs too — a plain `collect` stops at the
    * `InMemoryTableScanExec`). */
  private def nodes(p: SparkPlan): Seq[SparkPlan] =
    p.collect { case n => n }.flatMap {
      case s: InMemoryTableScanExec => s +: nodes(s.relation.cachedPlan)
      case n => Seq(n)
    }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq
                else graft.SparkEntry.queries.keys.toSeq.sorted
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      try {
        val p = graft.SparkEntry.queries(n)(spark, sfDir)
          .queryExecution.executedPlan
        val ns = nodes(p)
        def count(f: PartialFunction[SparkPlan, Boolean]): Int = ns.count(f.applyOrElse(_, (_: SparkPlan) => false))
        val hashShuffles = count {
          case e: ShuffleExchangeExec => e.outputPartitioning.isInstanceOf[HashPartitioning]
        }
        val bhj = count { case _: BroadcastHashJoinExec => true }
        val smj = count { case _: SortMergeJoinExec => true }
        val shj = count { case _: ShuffledHashJoinExec => true }
        val cart = count { case _: CartesianProductExec => true }
        val bnl = count { case _: BroadcastNestedLoopJoinExec => true }
        // window-operator exec counts (r15): the empirical source for
        // PlanShapeSpec's retired-whitelist pins
        val winExec = count { case _: WindowExec => true }
        // unpartitioned (or constant-key) window execs — each one is a
        // single-partition funnel that logs "No Partition Defined" at
        // runtime; the empirical source for the r16 warning-site sweep
        val winGlobal = count { case w: WindowExec => w.partitionSpec.forall(_.foldable) }
        val frame = count { case _: graft.plans.GlobalFrameAggExec => true }
        // the keyed window tier per family, as EMPTY-key (global
        // window) / keyed (PARTITION BY) operator counts
        val keyedWin = ns.collect { case k: KeyedWindowExec => k }
          .groupBy(_.nodeName.stripPrefix("Partitioned").stripSuffix("Exec"))
          .toSeq.sortBy(_._1).map { case (family, ks) =>
            val empty = ks.count(_.partKeys.isEmpty)
            s"$family=$empty/${ks.size - empty}"
          }
        println(s"PLANSTATS $n hashShuffles=$hashShuffles bhj=$bhj " +
          s"smj=$smj shj=$shj cartesian=$cart bnl=$bnl " +
          s"winExec=$winExec winGlobal=$winGlobal frame=$frame" +
          keyedWin.map(" " + _).mkString)
      } catch { case t: Throwable => println(s"PLANSTATS $n FAIL: $t") }
    }
    spark.stop()
  }
}
