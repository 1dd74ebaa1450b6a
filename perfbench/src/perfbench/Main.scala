package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The measuring side of the benchmark: one JVM, one client thread, a
  * closed loop of query executions. `run.py` starts it and turns the
  * records it writes into metrics.
  *
  * {{{
  * perfbench.Main --sf DIR --plan FILE --out FILE --seed N
  *                (--seconds S | --passes P) [--warmup W]
  *                [--trace 0|1] [--launch-us T]
  * }}}
  *
  * The plan file has one `pool\t<name>` line per member of every frozen
  * pool (each must resolve in `SparkEntry.queries`) and one
  * `run\t<name>` line per query of a pass. `--warmup` untimed passes
  * warm the JVM; timed passes then repeat, and the run stops at the first
  * pass boundary after `--seconds` (or after exactly `--passes` passes),
  * so every timed pass runs whole.
  * The seed fixes each pass's order. With `--trace 1`, timed passes
  * alternate traced and untraced in an ABBA pattern, so the run measures
  * its own tracing overhead. */
object Main {
  final case class Exec(id: Long, name: String, pass: Int, traced: Boolean,
                        startUs: Long, buildUs: Long, actionUs: Long,
                        rows: Long, sum: String, xor: Long, error: String)

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val sf = args("sf")
    val seed = args("seed").toLong
    val trace = args.get("trace").contains("1")
    val seconds = args.get("seconds").map(_.toDouble)
    val passes = args.get("passes").map(_.toInt)
    val warmups = args.get("warmup").map(_.toInt).getOrElse(1)
    val lines = Files.readAllLines(Paths.get(args("plan")), UTF_8).toArray.toSeq
      .map(_.toString.split("\t", 2)).collect { case Array(k, v) => (k, v) }
    val pool = lines.collect { case ("pool", n) => n }
    val t00 = System.nanoTime()
    val registry = graft.SparkEntry.queries
    val runNames = lines.collect { case ("run", n) => n } match {
      case Seq("*") => registry.keys.toSeq.sorted
      case ns => ns
    }

    // a renamed or removed query must fail the run, not shrink a workload
    val missing = (pool ++ runNames).distinct.filterNot(registry.contains)
    if (missing.nonEmpty) {
      System.err.println(s"perfbench: not in SparkEntry.queries: ${missing.mkString(", ")}")
      sys.exit(3)
    }

    val baseUs = System.currentTimeMillis() * 1000L
    val baseNs = System.nanoTime()
    def nowUs(): Long = baseUs + (System.nanoTime() - baseNs) / 1000L

    // the session graft.Bench builds
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    System.err.println(f"perfbench: session ready after ${(System.nanoTime() - t00) / 1e9}%.2f s")
    val sc = spark.sparkContext
    val listeners = new Listeners
    sc.addSparkListener(listeners.spark)
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .listenerManager.register(listeners.queries)
    spark.streams.addListener(listeners.streams)

    val execs = mutable.ArrayBuffer.empty[Exec]
    var nextId = 0L
    def execute(name: String, pass: Int, traced: Boolean): Unit = {
      val id = nextId; nextId += 1
      val fn = registry(name)
      val t0 = nowUs()
      listeners.begin(id, t0, traced)
      sc.setLocalProperty(listeners.ExecKey, id.toString)
      sc.setLocalProperty(listeners.PhaseKey, "build")
      var t1 = t0; var t2 = t0
      val e = try {
        val df = fn(spark, sf)
        t1 = nowUs()
        sc.setLocalProperty(listeners.PhaseKey, "action")
        val (rows, sum, xor) = checksum(df)
        t2 = nowUs()
        Exec(id, name, pass, traced, t0, t1 - t0, t2 - t1, rows, sum, xor, "")
      } catch {
        case t: Throwable =>
          val now = nowUs()
          if (t1 == t0) t1 = now
          t2 = now
          Exec(id, name, pass, traced, t0, t1 - t0, t2 - t1, -1, "", 0, t.toString)
      } finally {
        sc.setLocalProperty(listeners.ExecKey, null)
        sc.setLocalProperty(listeners.PhaseKey, null)
      }
      spark.catalog.clearCache()
      if (traced) {
        listeners.addSpan(Span(s"query$id", "", id, "query", t0, t2))
        listeners.addSpan(Span(s"build$id", s"query$id", id, "queries.build", t0, t1))
        listeners.addSpan(Span(s"action$id", s"query$id", id, "queries.action", t1, t2))
      }
      if (e.error.nonEmpty) System.err.println(s"perfbench: $name failed: ${e.error}")
      execs += e
    }
    def order(pass: Int): Seq[String] =
      new Random(seed * 1000003L + pass).shuffle(runNames)

    // untimed warm-up passes (all numbered 0): class loading, first-in-JVM
    // jobs, and JIT compilation, which keeps speeding the second pass up
    for (w <- 1 to warmups) order(-w).foreach(execute(_, 0, trace))
    val firstTimedUs = nowUs()
    val deadline = firstTimedUs + seconds.getOrElse(0.0) * 1e6
    // a run times at least one pass, and a traced run one traced and one plain
    val minPasses = passes.getOrElse(if (trace) 2 else 1)
    var pass = 0
    while (pass < minPasses || (passes.isEmpty && nowUs() < deadline)) {
      pass += 1
      // A B B A B A A B ...: traced and plain passes alternate their order;
      // a fixed number of passes (a probe) traces them all
      val traced = trace && (passes.isDefined || Integer.bitCount(pass - 1) % 2 == 0)
      order(pass).foreach(execute(_, pass, traced))
    }
    val endUs = nowUs()
    GraftSqlBridge.waitForListenerBus(spark)
    spark.stop()
    write(Paths.get(args("out")), args.get("launch-us").map(_.toLong).getOrElse(baseUs),
      firstTimedUs, endUs, execs.toSeq, listeners, trace)
  }

  /** The timed final action: every output column feeds an order-insensitive
    * checksum (row count, the exact sum and the xor of a 64-bit row hash),
    * so no column can be pruned away as a bare `count()` would allow. */
  def checksum(df: DataFrame): (Long, String, Long) = {
    val n = df.columns.length
    if (n == 0) return (df.count(), "0", 0L)
    val named = df.toDF((0 until n).map(i => s"c$i"): _*)
    val cols = named.schema.fields.toSeq.map { f =>
      if (hasMap(f.dataType)) to_json(struct(col(f.name))) else col(f.name)
    }
    val r = named.select(xxhash64(cols: _*).as("h"))
      .agg(count(lit(1)), sum(col("h").cast(DecimalType(38, 0))), bit_xor(col("h")))
      .head()
    (r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"),
      if (r.isNullAt(2)) 0L else r.getLong(2))
  }

  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case a: ArrayType => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }

  private def q(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  private def write(out: java.nio.file.Path, launchUs: Long, firstTimedUs: Long,
                    endUs: Long, execs: Seq[Exec], l: Listeners, trace: Boolean): Unit = {
    val graftStage = l.graftStageRunMs
    val sb = new StringBuilder
    sb ++= s"""{"kind":"run","launch_us":$launchUs,"first_timed_us":$firstTimedUs,"end_us":$endUs}\n"""
    for (e <- execs) {
      val c = l.countersOf(e.id)
      val end = e.startUs + e.buildUs + e.actionUs
      val idleUs = if (!e.traced) 0L else {
        // query wall with no job running: the wall minus the union of
        // the job intervals clipped to it
        var covered = 0L; var reach = e.startUs
        for ((a, b) <- c.jobSpans.sortBy(_._1)) {
          val s = math.max(a, reach); val t = math.min(b, end)
          if (t > s) { covered += t - s; reach = t }
        }
        (end - e.startUs) - covered
      }
      val funnels = l.funnelsByExec.get(e.id).toSeq.flatMap(_.values).map(q)
        .mkString("[", ",", "]")
      sb ++= s"""{"kind":"exec","id":${e.id},"name":${q(e.name)},"pass":${e.pass},""" +
        s""""traced":${e.traced},"start_us":${e.startUs},"build_us":${e.buildUs},""" +
        s""""action_us":${e.actionUs},"rows":${e.rows},"sum":${q(e.sum)},"xor":${e.xor},""" +
        s""""error":${q(e.error)},"peak_bytes":${c.peakBytes},"jobs":${c.jobs},""" +
        s""""build_jobs":${c.buildJobs},"stages":${c.stages},"tasks":${c.tasks},""" +
        s""""empty_tasks":${c.emptyTasks},"run_ms":${c.runMs},"cpu_ns":${c.cpuNs},""" +
        s""""gc_ms":${c.gcMs},"shuffle_records":${c.shuffleRecords},""" +
        s""""shuffle_bytes":${c.shuffleBytes},"spill_bytes":${c.spillBytes},""" +
        s""""read_bytes":${c.readBytes},"write_bytes":${c.writeBytes},""" +
        s""""pinned_bytes":${c.pinnedBytes},"actions":${c.actions},""" +
        s""""analysis_ms":${c.analysisMs},"optimize_ms":${c.optimizeMs},""" +
        s""""planning_ms":${c.planningMs},"graft_ops":${c.graftOps},""" +
        s""""window_ops":${c.windowOps},"window_unpartitioned":${c.windowUnpartitioned},""" +
        s""""funnels":$funnels,"rows_out":${c.rowsOut},""" +
        s""""graft_stage_run_ms":${graftStage.getOrElse(e.id, 0L)},""" +
        s""""batches":${c.batches},"empty_batches":${c.emptyBatches},""" +
        s""""add_batch_ms":${c.addBatchMs},"idle_us":$idleUs}""" + "\n"
    }
    if (trace) {
      // spans that carry no parent (SQL executions, micro-batches) hang
      // under the builder or action span of their execution that covers them
      val phases = execs.filter(_.traced).flatMap { e =>
        Seq((e.id, s"build${e.id}", e.startUs, e.startUs + e.buildUs),
          (e.id, s"action${e.id}", e.startUs + e.buildUs, e.startUs + e.buildUs + e.actionUs))
      }.groupBy(_._1)
      for (s <- l.allSpans) {
        val parent = if (s.parent.nonEmpty || s.name == "query") s.parent
          else phases.getOrElse(s.exec, Nil).find(p => p._3 <= s.startUs && s.startUs < p._4)
            .map(_._2).getOrElse(s"query${s.exec}")
        sb ++= s"""{"kind":"span","id":${q(s.id)},"parent":${q(parent)},"exec":${s.exec},""" +
          s""""name":${q(s.name)},"start_us":${s.startUs},"end_us":${s.endUs}}""" + "\n"
      }
    }
    Files.write(out, sb.toString.getBytes(UTF_8))
  }
}
