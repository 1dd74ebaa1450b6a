package graft

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.LocalCheckpointFileManager

/** Production-streaming behaviors beyond the query surface: exactly-once
  * resume from a checkpoint (a restarted job must not reprocess files the
  * previous run committed), and watermark-bounded streaming dedup
  * (`dropDuplicatesWithinWatermark` — state is evicted once the watermark
  * passes, so dedup state stays bounded on an unbounded stream; plain
  * streaming `dropDuplicates` keys grow forever at 100 TB/day).
  */
class StreamingRestartSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("v", LongType)))

  test("checkpointed file stream resumes exactly-once across restarts") {
    val in = Files.createTempDirectory("graft_restart_in").toString
    val out = Files.createTempDirectory("graft_restart_out").toString
    val ckpt = Files.createTempDirectory("graft_restart_ckpt").toString

    def runOnce(): Unit = {
      val q = spark.readStream.schema(schema).parquet(in)
        .withColumn("v2", col("v") * 2)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
      assert(!q.isActive)
    }

    (0L until 50L).map(i => (i, i)).toDF("id", "v")
      .coalesce(1).write.mode("append").parquet(in)
    runOnce()
    assert(spark.read.parquet(out).count() == 50)

    // second batch of source files, then restart the SAME query/checkpoint
    (50L until 80L).map(i => (i, i)).toDF("id", "v")
      .coalesce(1).write.mode("append").parquet(in)
    runOnce()
    val rows = spark.read.parquet(out)
    // 50 + 30, NOT 50 + 80: the first run's files are committed in the
    // checkpoint and must not be reprocessed
    assert(rows.count() == 80)
    assert(rows.select(countDistinct("id")).as[Long].head() == 80)
    assert(rows.filter(col("v2") =!= col("v") * 2).isEmpty)
  }

  test("stateful stream in the streaming scope restarts exactly-once from its own state deltas") {
    val in = Files.createTempDirectory("graft_scope_in").toString
    val ckpt = Files.createTempDirectory("graft_scope_ckpt").toString
    // every byte the scope's checkpoint manager moves is counted here;
    // no other file system in the JVM reports under this class
    @annotation.nowarn("cat=deprecation")
    val io = FileSystem.getStatistics("file",
      classOf[LocalCheckpointFileManager.NioRawLocalFileSystem])

    // (result table, input rows the run read)
    def runOnce(): (Map[Long, (Long, Long)], Long) = graft.core.Tables.streaming(spark) {
      val q = spark.readStream.schema(schema).parquet(in)
        .groupBy((col("id") % 5).as("k"))
        .agg(count(lit(1)).as("n"), sum("v").as("s"))
        .writeStream.format("memory").queryName("graft_scope_restart")
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
      assert(!q.isActive)
      (spark.table("graft_scope_restart").as[(Long, Long, Long)].collect()
        .map { case (k, n, s) => k -> (n, s) }.toMap,
        q.recentProgress.map(_.numInputRows).sum)
    }
    def expected(ids: Seq[Long]): Map[Long, (Long, Long)] =
      ids.groupBy(_ % 5).map { case (k, xs) => k -> (xs.size.toLong, xs.sum) }
    def deltaBytes: Long = {
      val walk = Files.walk(Paths.get(ckpt, "state"))
      try walk.iterator.asScala.filter(_.getFileName.toString.endsWith(".delta"))
        .map(Files.size).sum
      finally walk.close()
    }

    (0L until 50L).map(i => (i, i)).toDF("id", "v")
      .coalesce(1).write.mode("append").parquet(in)
    val written0 = io.getBytesWritten
    assert(runOnce() == (expected(0L until 50L), 50L))
    val deltas = deltaBytes
    assert(deltas > 0, "the first run wrote no state delta files")
    assert(io.getBytesWritten - written0 >= deltas,
      "the state deltas were not written by the scope's checkpoint manager")

    (50L until 80L).map(i => (i, i)).toDF("id", "v")
      .coalesce(1).write.mode("append").parquet(in)
    val read0 = io.getBytesRead
    // the restart reads only the 30 new rows (no committed file replayed),
    // and complete mode re-emits the whole state: totals over all 80 rows
    // mean it reloaded the first run's counts
    assert(runOnce() == (expected(0L until 80L), 30L))
    assert(io.getBytesRead - read0 >= deltas,
      "the restart did not reload its state through the scope's manager")
  }

  test("dropDuplicatesWithinWatermark dedups across micro-batches with bounded state") {
    val in = Files.createTempDirectory("graft_ddww_in").toString
    def ts(m: Int) = new Timestamp(1700000000000L + m * 60000L)
    // duplicates of key 1 and 2 appear in BOTH files (separate
    // micro-batches under maxFilesPerTrigger=1)
    Seq((1L, ts(0)), (2L, ts(1)), (3L, ts(2)))
      .toDF("k", "t").coalesce(1).write.mode("append").parquet(in)
    Seq((1L, ts(3)), (2L, ts(4)), (4L, ts(5)))
      .toDF("k", "t").coalesce(1).write.mode("append").parquet(in)

    val q = spark.readStream
      .schema(StructType(Seq(StructField("k", LongType),
        StructField("t", TimestampType))))
      .option("maxFilesPerTrigger", "1")
      .parquet(in)
      .withWatermark("t", "1 hour") // delay >> fixture span: nothing evicted
      .dropDuplicatesWithinWatermark("k")
      .writeStream.format("memory").queryName("graft_ddww")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    assert(!q.isActive)
    val keys = spark.sql("SELECT k FROM graft_ddww").as[Long].collect().sorted
    assert(keys.toSeq == Seq(1L, 2L, 3L, 4L))
  }

  test("late data beyond the watermark is dropped, and the drop is observable") {
    val in = Files.createTempDirectory("graft_late_in").toString
    val t0 = 1699999200L // seconds, 5-minute aligned
    def ts(offsetSec: Long) = new Timestamp((t0 + offsetSec) * 1000L)
    // batch 1: one on-time event in window t0, plus a driver event 2 h
    // ahead — after this batch the watermark (1 h delay) sits at
    // t0+3600, past window t0's end
    Seq((1L, ts(60)), (2L, ts(7200)))
      .toDF("k", "t").coalesce(1).write.mode("append").parquet(in)

    val q = spark.readStream
      .schema(StructType(Seq(StructField("k", LongType),
        StructField("t", TimestampType))))
      .parquet(in)
      .withWatermark("t", "1 hour")
      .groupBy(window(col("t"), "5 minutes"))
      .agg(count(lit(1)).as("n"))
      .writeStream.format("memory").queryName("graft_late_out")
      .outputMode("append")
      .start()
    q.processAllAvailable()
    // batch 2: a LATE event for window t0 — arrives after the watermark
    // passed that window; a correct engine discards it instead of
    // resurrecting closed state (reopening would double-emit in append
    // mode), and reports the drop in stateOperators metrics
    Seq((3L, ts(120)))
      .toDF("k", "t").coalesce(1).write.mode("append").parquet(in)
    q.processAllAvailable()
    // flush remaining windows so the assertion sees window t0's final row
    Seq((4L, ts(31536000L)))
      .toDF("k", "t").coalesce(1).write.mode("append").parquet(in)
    graft.core.Tables.drainStateTo(q, targetRows = 1)
    val dropped = q.recentProgress
      .flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum
    q.stop()
    assert(dropped >= 1, s"expected ≥1 watermark-dropped row, got $dropped")
    val winT0 = spark.table("graft_late_out")
      .where(unix_micros(col("window.start")) === t0 * 1000000L)
      .select(col("n")).as[Long].collect().toSeq
    assert(winT0 == Seq(1L), // the late row did NOT count
      s"window t0 should hold only the on-time event, got $winT0")
  }
}
