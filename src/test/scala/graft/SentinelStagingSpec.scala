package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.R8Queries

/** The streaming queries' sentinel staging memoises one written
  * sentinel parquet file per data dir; a memo whose file has since
  * been deleted must be re-written, not copied from. */
class SentinelStagingSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** A data dir holding a tiny `events.parquet` FILE (the staging copies
    * the file). */
  private def eventsDir(): String = {
    val dir = Files.createTempDirectory("graft_sentinel_spec")
    val tmp = dir.resolve("events_tmp").toString
    Seq((1L, 1000000000L, 7L, "view")).toDF("event_id", "ts", "user_id", "event_type")
      .coalesce(1).write.parquet(tmp)
    val listing = Files.list(Paths.get(tmp))
    val part = try listing.toArray.map(_.toString).filter(_.endsWith(".parquet")).head
      finally listing.close()
    Files.copy(Paths.get(part), dir.resolve("events.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    dir.toString
  }

  test("stageWithSentinel re-writes the memoised sentinel file once it is deleted") {
    val dir = eventsDir()
    val staged = R8Queries.stageWithSentinel(spark, dir, "graft_sentinel_spec")
    val sentinel = Paths.get(staged, "zz_sentinel12.parquet")
    assert(Files.exists(sentinel))
    val memo = R8Queries.sentinelFileByDir.get(dir)
    assert(memo != null && Files.exists(Paths.get(memo)))
    Files.delete(Paths.get(memo))
    Files.delete(sentinel)
    val again = R8Queries.stageWithSentinel(spark, dir, "graft_sentinel_spec")
    assert(again == staged)
    assert(Files.exists(sentinel))
    assert(Files.exists(Paths.get(R8Queries.sentinelFileByDir.get(dir))))
    val ids = spark.read.parquet(sentinel.toString).select("event_id")
      .as[Long].collect().sorted.toSeq
    assert(ids == Seq(-2L, -1L))
  }
}
