package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * All engine queries read these via `spark.read.parquet` so that
  * Catalyst's parquet source handles column pruning + predicate pushdown
  * (visible as `PushedFilters`/`ReadSchema` in `.explain("formatted")`).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Stage the single-file events fixture into a tmp DIRECTORY (Spark's
    * file-stream sources require a directory, not a file), keyed by the
    * dataset dir so concurrent runs over different sf dirs never collide.
    * `copies` names the file(s) to create — passing more than one name
    * duplicates the fixture (used by the streaming-dedup demo). */
  def stageEventsDir(dir: String, prefix: String,
                     copies: Seq[String] = Seq("events.parquet")): String = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val stageDir = Paths.get(sys.props("java.io.tmpdir"),
      prefix + "_" + math.abs(dir.hashCode))
    Files.createDirectories(stageDir)
    copies.foreach { n =>
      Files.copy(Paths.get(dir, "events.parquet"), stageDir.resolve(n),
        StandardCopyOption.REPLACE_EXISTING)
    }
    stageDir.toString
  }

  /** Deterministic per-sfDir temp path (same recipe as
    * [[stageEventsDir]]): reruns against the same data dir reuse —
    * and therefore overwrite — the same staging location. */
  def tmpPath(prefix: String, dir: String): String =
    java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      prefix + "_" + math.abs(dir.hashCode)).toString

  /** Recursively delete a staging directory. File-dump sinks re-ingested
    * via directory-globbing sources (wholetext/binaryFile) MUST start from
    * an empty dir: stale files from an earlier code version with different
    * filenames would otherwise ride along into the read-back. */
  def clearDir(path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(p)) {
      val walk = java.nio.file.Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => java.nio.file.Files.deleteIfExists(f))
      finally walk.close()
    }
  }

  /** Drain a finite stream until its stateful operators hold at most
    * `targetRows` rows (the watermark-sentinel termination idiom: the
    * sentinels' own state is the load-independent terminal condition).
    * Watermark-triggered flushes ride no-data micro-batches that
    * `processAllAvailable` alone may not wait for, hence the poll. */
  def drainStateTo(q: org.apache.spark.sql.streaming.StreamingQuery,
                   targetRows: Long, timeoutSec: Long = 60): Unit = {
    q.processAllAvailable()
    val deadline = System.nanoTime() + timeoutSec * 1000L * 1000 * 1000
    def stateRows: Long = Option(q.lastProgress)
      .map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(Long.MaxValue)
    while (stateRows > targetRows && System.nanoTime() < deadline) {
      q.processAllAvailable()
      // 25 ms: the poll only waits for the no-data watermark batch the
      // engine triggers itself — at 100 ms the sleep dominated drain time
      Thread.sleep(25)
    }
  }

  /** Run `body` with the RocksDB state store provider active —
    * required by every `transformWithState` operator (typed state
    * variables map to column families the HDFS-backed store lacks) and
    * the production backend for all stateful streaming. Restores the
    * previous provider even on failure. */
  def withRocksDbStateStore[T](spark: SparkSession)(body: => T): T =
    withConfs(spark, "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")(body)

  /** The scope every streaming query runs in: builds and runs `body`
    * with two session settings, and restores both even on failure. Both
    * are read once at `start()` (a stream runs on a clone of the session
    * conf), so wrapping query construction and execution is enough.
    *  - `spark.sql.shuffle.partitions` = 4. A stateful operator
    *    materializes one state store per shuffle partition, and every
    *    micro-batch pays commit/snapshot bookkeeping for each; at the
    *    bench's 32 partitions that fixed cost dwarfs the (tiny) data.
    *    Results are partitioning-independent.
    *  - `spark.sql.streaming.checkpointFileManagerClass` =
    *    [[graft.streaming.LocalCheckpointFileManager]]: offset, commit
    *    and state files are written without the forked `chmod` and
    *    `readlink` Hadoop's local file system pays per file when
    *    libhadoop is absent. */
  def streaming[T](spark: SparkSession)(body: => T): T =
    withConfs(spark,
      "spark.sql.shuffle.partitions" -> "4",
      CheckpointFileManagerKey ->
        classOf[graft.streaming.LocalCheckpointFileManager].getName)(body)

  /** The session key naming the streaming checkpoint file manager. */
  val CheckpointFileManagerKey = "spark.sql.streaming.checkpointFileManagerClass"

  private def withConfs[T](spark: SparkSession, kvs: (String, String)*)(body: => T): T = {
    val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** `events` with a proper TimestampType `ts`. The fixture's physical
    * type has varied by generator version: TIMESTAMP(NANOS) (no native
    * Spark type — sessions set `spark.sql.legacy.parquet.nanosAsLong=true`
    * and this loader converts the long), or TIMESTAMP(MICROS) without
    * timezone (read as TimestampNTZType — cast to TimestampType; sessions
    * run in UTC so the instant is unchanged). Queries always see
    * session-zoned TimestampType either way. */
  /** Divisor turning the events fixture's raw INT64 `ts` into
    * MICROSECONDS for readers that request `ts LONG` explicitly
    * (streaming sources can't infer): 1000 when the file stores
    * TIMESTAMP(NANOS) (surfaced as LongType under the legacy conf),
    * 1 when it stores TIMESTAMP(MICROS) (physical int64 micros).
    * Probed once per call from the batch schema of the same file. */
  def eventsTsDiv(spark: SparkSession, dir: String): Long =
    load(spark, dir, "events").schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => 1000L
      case _ => 1L
    }

  def events(spark: SparkSession, dir: String): DataFrame = {
    val raw = load(spark, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // integer division: ns values exceed double's 2^53 mantissa, a
        // floating divide here would corrupt microseconds
        raw.withColumn("ts", org.apache.spark.sql.functions
          .timestamp_micros(org.apache.spark.sql.functions.expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", org.apache.spark.sql.functions.col("ts")
          .cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  }
}
