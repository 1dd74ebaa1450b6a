package perfbench

import java.util.concurrent.ConcurrentSkipListMap

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.BlockId

/** Per-execution totals, filled by the listeners below. Every field is a
  * count or a sum over the Spark events attributed to one query
  * execution (builder call plus final action). */
final class Counters {
  var jobs, buildJobs, stages, tasks, emptyTasks = 0L
  var runMs, cpuNs, gcMs = 0L
  var shuffleRecords, shuffleBytes, spillBytes = 0L
  var readBytes, writeBytes, pinnedBytes = 0L
  var liveBytes, peakBytes = 0L
  var actions, analysisMs, optimizeMs, planningMs = 0L
  var graftOps, windowOps, windowUnpartitioned, rowsOut = 0L
  var batches, emptyBatches, addBatchMs = 0L
  val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
}

final case class Span(id: String, parent: String, exec: Long, name: String,
                      startUs: Long, endUs: Long)

/** What one walk over an executed plan found. */
final case class PlanFacts(graftOps: Int, windowOps: Int, rowsOut: Long,
                           graftNodeNames: Set[String],
                           funnels: Seq[(Int, String)])

object PlanFacts {
  private def isGraft(p: SparkPlan) = p.getClass.getName.startsWith("graft.")

  /** Walks the AQE final plan, every query stage, every subquery and the
    * cached plan behind each `InMemoryTableScanExec`; a reused exchange
    * is counted once, where it was built. `funnels` lists every window
    * operator with no (or a constant) partition key, and whether it sat
    * inside a cached plan. */
  def of(root: SparkPlan): PlanFacts = {
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[AnyRef, java.lang.Boolean])
    var graft, window = 0; var rows = 0L
    val names = mutable.Set.empty[String]
    val funnels = mutable.ArrayBuffer.empty[(Int, String)]
    def go(p: SparkPlan, cached: Boolean): Unit = if (seen.add(p)) {
      if (isGraft(p)) {
        graft += 1; names += p.nodeName
        val simple = p.getClass.getSimpleName
        if (simple.startsWith("Global") || simple.startsWith("Partitioned"))
          window += 1
        p.metrics.get("numOutputRows").foreach(m => rows += m.value)
      }
      p match {
        case w: WindowExec if w.partitionSpec.forall(_.foldable) =>
          funnels += System.identityHashCode(w) ->
            (s"${if (cached) "cached:" else ""}" + w.windowExpression.map(_.sql).mkString(","))
        case _ =>
      }
      p match {
        case a: AdaptiveSparkPlanExec => go(a.executedPlan, cached)
        case s: QueryStageExec => go(s.plan, cached)
        case i: InMemoryTableScanExec => go(i.relation.cachedPlan, true)
        case _: ReusedExchangeExec =>
        case _ =>
      }
      p.children.foreach(go(_, cached))
      p.subqueries.foreach(go(_, cached))
    }
    go(root, cached = false)
    PlanFacts(graft, window, rows, names.toSet, funnels.toSeq)
  }
}

/** All listeners the benchmark registers: a `SparkListener` (jobs,
  * stages, tasks, block updates, SQL executions), a
  * `QueryExecutionListener` (actions, phase times, plan facts) and a
  * `StreamingQueryListener` (micro-batches). Events are attributed to a
  * query execution through the `perfbench.exec` local property the
  * client thread sets, which jobs (and stream threads) inherit; events
  * that carry no properties are attributed by time. Executions that are
  * not traced only keep the storage book-keeping. */
final class Listeners {
  val ExecKey = "perfbench.exec"
  val PhaseKey = "perfbench.phase"

  private val counters = mutable.Map.empty[Long, Counters]
  private val traced = mutable.Set.empty[Long]
  /** execution start (us since epoch) -> execution id, for attribution
    * by time; written by the client thread. */
  private val starts = new ConcurrentSkipListMap[java.lang.Long, java.lang.Long]

  // all event-side state is guarded by `this`
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stageOwner = mutable.Map.empty[Int, (Long, Int)]  // stage -> (exec, job)
  private val jobOwner = mutable.Map.empty[Int, Long]           // job -> exec
  private val stageRunMs = mutable.Map.empty[(Int, Int), Long]
  private val stageScopes = mutable.Map.empty[(Int, Int), Set[String]]
  private val graftNames = mutable.Set.empty[String]
  private val sqlStart = mutable.Map.empty[Long, Long]          // sql id -> start us
  private val open = mutable.Map.empty[String, Int]             // span id -> index
  private val blocks = mutable.Map.empty[BlockId, (Long, Long)] // -> (bytes, exec)
  private var busExec = -1L
  /** distinct unpartitioned window operators per execution: a cached
    * plan is walked again by every action that reads it */
  val funnelsByExec = mutable.Map.empty[Long, mutable.Map[Int, String]]

  def begin(exec: Long, startUs: Long, trace: Boolean): Unit = synchronized {
    counters(exec) = new Counters
    if (trace) traced += exec
    starts.put(startUs, exec)
  }

  def execAt(us: Long): Long = {
    val e = starts.floorEntry(us)
    if (e == null) -1L else e.getValue.longValue
  }

  def countersOf(exec: Long): Counters = synchronized(counters(exec))
  def allSpans: Seq[Span] = synchronized(spans.toSeq)
  def addSpan(s: Span): Unit = synchronized(spans += s)

  /** Executor time of the stages whose RDD scopes name a graft operator,
    * per execution. Resolved at the end of the run, when every plan has
    * been walked and so every graft operator name is known. */
  def graftStageRunMs: Map[Long, Long] = synchronized {
    val names = graftNames.toSet
    stageRunMs.toSeq.collect {
      case (key, ms) if stageScopes.getOrElse(key, Set.empty).exists(names) =>
        stageOwner.get(key._1).map(_._1 -> ms)
    }.flatten.groupMapReduce(_._1)(_._2)(_ + _)
  }

  private def tracedExec(e: Long) = e >= 0 && traced.contains(e)
  private def ms2us(ms: Long) = ms * 1000L

  val spark: SparkListener = new SparkListener {
    override def onJobStart(j: SparkListenerJobStart): Unit = Listeners.this.synchronized {
      val props = Option(j.properties)
      val exec = props.flatMap(p => Option(p.getProperty(ExecKey)))
        .map(_.toLong).getOrElse(execAt(ms2us(j.time)))
      busExec = exec
      jobOwner(j.jobId) = exec
      j.stageIds.foreach(s => stageOwner(s) = (exec, j.jobId))
      if (tracedExec(exec)) {
        val c = counters(exec)
        c.jobs += 1
        if (props.exists(p => p.getProperty(PhaseKey) == "build")) c.buildJobs += 1
        val sql = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        val parent = sql.filter(s => sqlStart.contains(s.toLong)).map("sql" + _)
          .orElse(props.flatMap(p => Option(p.getProperty(PhaseKey)))
            .map(ph => s"$ph$exec")).getOrElse(s"query$exec")
        open(s"job${j.jobId}") = spans.size
        spans += Span(s"job${j.jobId}", parent, exec, "job", ms2us(j.time), -1L)
      }
    }

    override def onJobEnd(j: SparkListenerJobEnd): Unit = Listeners.this.synchronized {
      jobOwner.remove(j.jobId).flatMap(counters.get).foreach(c =>
        c.peakBytes = math.max(c.peakBytes, c.liveBytes))
      open.remove(s"job${j.jobId}").foreach { i =>
        val s = spans(i).copy(endUs = ms2us(j.time))
        spans(i) = s
        counters(s.exec).jobSpans += ((s.startUs, s.endUs))
      }
    }

    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = Listeners.this.synchronized {
      val info = s.stageInfo
      stageOwner.get(info.stageId).filter(o => tracedExec(o._1)).foreach { case (exec, job) =>
        counters(exec).stages += 1
        stageScopes((info.stageId, info.attemptNumber())) =
          info.rddInfos.flatMap(_.scope).map(_.name).toSet
        for (a <- info.submissionTime; b <- info.completionTime)
          spans += Span(s"stage${info.stageId}.${info.attemptNumber()}", s"job$job",
            exec, "stage", ms2us(a), ms2us(b))
      }
    }

    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = Listeners.this.synchronized {
      val m = t.taskMetrics
      stageOwner.get(t.stageId).filter(o => tracedExec(o._1) && m != null).foreach { o =>
        val c = counters(o._1)
        c.tasks += 1
        val in = m.inputMetrics.recordsRead
        val sr = m.shuffleReadMetrics
        if (in == 0 && sr.recordsRead == 0) c.emptyTasks += 1
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleRecords += sr.recordsRead
        c.shuffleBytes += sr.totalBytesRead
        c.spillBytes += m.diskBytesSpilled
        c.readBytes += m.inputMetrics.bytesRead
        c.writeBytes += m.outputMetrics.bytesWritten
        val key = (t.stageId, t.stageAttemptId)
        stageRunMs(key) = stageRunMs.getOrElse(key, 0L) + m.executorRunTime
      }
    }

    /** Storage held in the block manager by persisted and checkpointed
      * RDD blocks and by broadcast pieces. A block is charged to the
      * execution that was running when it appeared, and each execution
      * keeps the peak of what it holds, so blocks of an earlier query that
      * wait for the context cleaner do not count. The peak is sampled at
      * job ends: an asynchronous unpersist issued between two jobs has
      * landed by then, where sampling every update would race it. A
      * broadcast piece counts until its execution ends, as its release
      * waits for the garbage collector. `pinnedBytes` counts the RDD
      * blocks alone. */
    override def onBlockUpdated(b: SparkListenerBlockUpdated): Unit = Listeners.this.synchronized {
      val info = b.blockUpdatedInfo
      info.blockId match {
        case id if id.isRDD || id.isBroadcast =>
          val size = info.memSize + info.diskSize
          if (id.isRDD) blocks.remove(id).foreach { case (old, e) =>
            counters.get(e).foreach(_.liveBytes -= old) }
          if (info.storageLevel.isValid && size > 0 && busExec >= 0 &&
              !blocks.contains(id)) {
            blocks(id) = (size, busExec)
            counters.get(busExec).foreach { c =>
              c.liveBytes += size
              if (id.isRDD) c.pinnedBytes += size
            }
          }
        case _ =>
      }
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => Listeners.this.synchronized {
        val exec = execAt(ms2us(s.time))
        if (tracedExec(exec)) {
          sqlStart(s.executionId) = ms2us(s.time)
          open(s"sql${s.executionId}") = spans.size
          spans += Span(s"sql${s.executionId}", "", exec, "sql", ms2us(s.time), -1L)
        }
      }
      case s: SparkListenerSQLExecutionEnd => Listeners.this.synchronized {
        open.remove(s"sql${s.executionId}").foreach(i =>
          spans(i) = spans(i).copy(endUs = ms2us(s.time)))
      }
      case _ =>
    }
  }

  val queries: QueryExecutionListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases
      if (phases.isEmpty) return
      val exec = execAt(ms2us(phases.values.map(_.startTimeMs).min))
      Listeners.this.synchronized {
        if (tracedExec(exec)) {
          val c = counters(exec)
          c.actions += 1
          def ms(p: String) = phases.get(p).map(_.durationMs).getOrElse(0L)
          c.analysisMs += ms("analysis"); c.optimizeMs += ms("optimization")
          c.planningMs += ms("planning")
          val f = PlanFacts.of(qe.executedPlan)
          c.graftOps += f.graftOps; c.windowOps += f.windowOps
          c.rowsOut += f.rowsOut
          graftNames ++= f.graftNodeNames
          if (f.funnels.nonEmpty) {
            val seen = funnelsByExec.getOrElseUpdate(exec, mutable.Map.empty)
            seen ++= f.funnels
            c.windowUnpartitioned = seen.size
          }
        }
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
  }

  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val startUs = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000L
      val exec = execAt(startUs)
      Listeners.this.synchronized {
        if (tracedExec(exec)) {
          val c = counters(exec)
          c.batches += 1
          if (p.numInputRows == 0) c.emptyBatches += 1
          val add = Option(p.durationMs.get("addBatch")).map(_.longValue).getOrElse(0L)
          c.addBatchMs += add
          spans += Span(s"batch${p.id}.${p.batchId}", "", exec, "batch",
            startUs, startUs + p.batchDuration * 1000L)
        }
      }
    }
  }
}
