package graft

import org.scalatest.funsuite.AnyFunSuite

/** Smoke: the driver contract holds — entry returns rows, every declared
  * query runs at sf0.001, every oracle key has a query. (Value-level
  * correctness is the driver's DuckDB compare, exercised via
  * graft.Verify + the project verify skill.) */
class QueriesSmokeSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  test("entry returns >0 rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("oracleSql keys are a subset of queries keys") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle without query: $missing")
  }

  // Every registered query whose stream started outside
  // graft.core.Tables.streaming. onQueryStarted runs before start()
  // returns, while the caller's scope (or its absence) is still in force.
  @volatile private var running: Option[String] = None
  private val streamsSeen = new java.util.concurrent.atomic.AtomicInteger
  private val unscoped = new java.util.concurrent.ConcurrentLinkedQueue[String]
  private lazy val scopeWatch = spark.streams.addListener(
    new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = running.foreach { n =>
        streamsSeen.incrementAndGet()
        if (!spark.conf.getOption(graft.core.Tables.CheckpointFileManagerKey)
            .contains(classOf[graft.streaming.LocalCheckpointFileManager].getName))
          unscoped.add(n)
      }
      override def onQueryProgress(e: QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    })
  private var queriesRun = 0

  for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
    test(s"$name runs at sf0.001") {
      scopeWatch
      running = Some(name)
      try {
        val df = fn(spark, sf)
        assert(df.columns.nonEmpty)
        df.count() // materializes; throws on broken plans
      } finally { running = None; queriesRun += 1 }
    }
  }

  test("every registered stream query starts inside Tables.streaming") {
    assert(queriesRun == 0 || streamsSeen.get > 0,
      "the registered queries ran but no stream start was observed")
    assert(unscoped.isEmpty,
      s"streams started outside Tables.streaming: ${unscoped.toArray.distinct.mkString(", ")}")
  }
}
