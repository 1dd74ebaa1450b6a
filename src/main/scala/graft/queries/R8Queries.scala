package graft.queries

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.queries.Queries.QueryDef

/** Eighth wave — the remaining streaming-join quadrant and mergeable
  * sketches:
  *
  *  - stream-stream LEFT OUTER join: unmatched left rows are held in
  *    state and emitted null-padded only once the watermark proves no
  *    match can arrive. A sentinel event far past the fixture advances
  *    the watermark so the final no-data micro-batch flushes every
  *    pending row — making the finite stream's output equal the batch
  *    left join, hash-checked against DuckDB.
  *  - DataSketches HLL: per-group sketches, estimates, and a sketch
  *    UNION rollup (`hll_union_agg`) — the mergeable-summary shape that
  *    lets 1000 executors sketch independently and combine losslessly.
  *    Sketch internals are engine-specific, so this is a rows-only
  *    contract query; HllSketchSpec pins the estimates to within 5% of
  *    exact.
  */
object R8Queries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Nanoseconds for 2025-07-01T00:00:00Z — far beyond the fixture's
    * last event plus join window plus watermark delay. */
  private[queries] val SentinelNs = 1751328000000000000L

  /** Process-lifetime memo of the staged sentinel parquet FILE per data
    * dir (r16). The two sentinel rows are constants of (SentinelNs,
    * nsToRaw) — identical for every streaming query over the same
    * fixture — yet each of the four stageWithSentinel consumers paid a
    * full Spark write job to regenerate them. The first call per dir
    * still computes and writes from scratch (nothing persists across
    * JVM runs — this is input STAGING, the same cadence as
    * [[graft.core.Tables.stageEventsDir]]'s deterministic tmp reuse);
    * later calls copy the one-file result, and re-write it if the
    * memoised file has since been deleted. */
  private[graft] val sentinelFileByDir =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Stage the events fixture plus two one-row sentinel files whose
    * event times flush all outer-join state.
    *
    * The subtlety: Catalyst pushes each join side's filters below the
    * `EventTimeWatermark` node into the scan, and the global watermark
    * is the MIN over both sides' trackers — so a sentinel only advances
    * the watermark if it SURVIVES that side's pushed filter. One
    * sentinel therefore impersonates each side ('view' and 'purchase',
    * in-range user); their negative event_ids keep them out of the
    * result. */
  private[graft] def stageWithSentinel(s: SparkSession, dir: String,
                                       prefix: String = "graft_slo_src"): String = {
    val stageDir = Tables.stageEventsDir(dir, prefix)
    // drop sentinels from any previous layout so reruns see exactly ours
    val stale = Files.list(Paths.get(stageDir))
    try stale.toArray.map(_.toString).filter(_.contains("zz_sentinel"))
      .foreach(p => Files.deleteIfExists(Paths.get(p)))
    finally stale.close()
    // r15: ONE staging write for both sentinel rows (they ride one
    // parquet file — the file-stream source reads every available file
    // in batch 0 regardless, so file count never mattered); the old
    // per-row write paid a second full Spark write job per streaming
    // query for no covered surface. r16: the write itself runs once per
    // JVM per data dir (see [[sentinelFileByDir]]) — the other
    // consumers copy the staged file.
    // a memo whose temp file is gone (a tmp cleaner, a deleted tmp
    // dir) is recomputed; the Spark write never runs inside the map's
    // computeIfAbsent (a concurrent first use then writes twice — both
    // files are complete, and the last one memoised wins)
    val part = Option(sentinelFileByDir.get(dir))
      .filter(p => Files.exists(Paths.get(p)))
      .getOrElse {
        val written = writeSentinelFile(s, dir)
        sentinelFileByDir.put(dir, written)
        written
      }
    Files.copy(Paths.get(part), Paths.get(stageDir, "zz_sentinel12.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    stageDir
  }

  /** Writes the two sentinel rows as one parquet file in a fresh temp
    * dir; returns the file's path. */
  private def writeSentinelFile(s: SparkSession, dir: String): String = {
    import s.implicits._
    // sentinel ts must be in the SAME raw unit as the staged fixture:
    // nanos when Tables.eventsTsDiv = 1000, micros when it's 1
    val nsToRaw = 1000L / Tables.eventsTsDiv(s, dir)
    val rows = Seq((1, "view"), (2, "purchase")).map { case (i, et) =>
      (-i.toLong, (SentinelNs + i * 86400L * 1000000000L) / nsToRaw, 59L, et)
    }
    val tmp = Files.createTempDirectory("graft_slo_sent").toString
    rows.toDF("event_id", "ts", "user_id", "event_type")
      .coalesce(1).write.mode("overwrite").parquet(tmp)
    val listing = Files.list(Paths.get(tmp))
    try listing.toArray.map(_.toString)
      .filter(p => p.endsWith(".parquet") && !p.contains("_SUCCESS")).head
    finally listing.close()
  }

  /** Stream-stream LEFT OUTER join: views left, purchases right, same
    * user within 24 h. Both sides watermarked; state for a left row is
    * evicted (and the null-padded row emitted) when the watermark
    * passes its match horizon.
    *
    * The semantic boundary: Structured Streaming computes the watermark
    * from the event times batch N has seen and applies it only from
    * batch N+1 on. The sentinels arrive in batch 0 with the fixture, so
    * batch 0 emits the matched rows and the null-padded rows wait for
    * batch 1, the no-data batch the advanced watermark triggers. That
    * second batch is the price of outer-join semantics, not overhead to
    * remove. */
  val qStreamLeftOuter = QueryDef("q_stream_left_outer",
    (s, dir) => Tables.streaming(s) {
      val stageDir = stageWithSentinel(s, dir)
      val tsDiv = Tables.eventsTsDiv(s, dir)
      val src = s.readStream
        .schema("event_id LONG, ts LONG, user_id LONG, event_type STRING")
        .parquet(stageDir)
        .withColumn("ets", timestamp_micros(expr(s"ts div $tsDiv")))
        .withWatermark("ets", "1 hour")
      val left = src
        .where(col("user_id") >= 0 && col("user_id") < 60 &&
          col("event_type") === "view")
        .select(col("event_id").as("l_id"), col("user_id").as("l_uid"),
          col("ets").as("l_ts"))
      val right = src
        .where(col("user_id") >= 0 && col("user_id") < 60 &&
          col("event_type") === "purchase")
        .select(col("event_id").as("r_id"), col("user_id").as("r_uid"),
          col("ets").as("r_ts"))
      val q = left.join(right, expr(
        "l_uid = r_uid AND r_ts >= l_ts AND " +
          "r_ts <= l_ts + interval 24 hours"), "left_outer")
        .select(col("l_id"), col("r_id"))
        .writeStream.outputMode("append")
        .format("memory").queryName("graft_slo_out").start()
      // the outer flush rides a watermark-triggered no-data batch that
      // processAllAvailable may not wait for. Terminal condition: the
      // join state has drained to exactly the two sentinels (their match
      // horizons sit past the final watermark by construction) — state
      // size is load-independent, unlike sink-count stability timing
      Tables.drainStateTo(q, targetRows = 2)
      q.stop()
      // negative ids are the watermark sentinels (held in state or
      // emitted null-padded, either way not part of the result)
      s.table("graft_slo_out").where(col("l_id") >= 0)
        .orderBy(col("l_id"), col("r_id").asc_nulls_first)
    },

    Some(
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS us, event_type
        |           FROM events WHERE user_id BETWEEN 0 AND 59),
        |l AS (SELECT event_id AS l_id, user_id AS l_uid, us AS l_us FROM e WHERE event_type = 'view'),
        |r AS (SELECT event_id AS r_id, user_id AS r_uid, us AS r_us FROM e WHERE event_type = 'purchase')
        |SELECT l_id, r_id FROM l LEFT JOIN r
        |  ON l_uid = r_uid AND r_us >= l_us AND r_us <= l_us + 86400000000
        |ORDER BY l_id, r_id NULLS FIRST""".stripMargin))

  /** DataSketches HLL: per-flag part-key sketches + a global union
    * rollup. Mergeable summaries are THE cardinality pattern at 100 TB:
    * map-side sketches shuffle kilobytes, union is lossless, estimates
    * come out once at the end. Rows-only (sketch estimates are
    * engine-specific); accuracy pinned in HllSketchSpec. */
  val qHllSketch = QueryDef("q_hll_sketch",
    (s, dir) => {
      val g = t(s, dir, "lineitem").groupBy("l_returnflag")
        .agg(hll_sketch_agg(col("l_partkey")).as("sk"))
      val per = g.select(col("l_returnflag").as("k"),
        hll_sketch_estimate(col("sk")).cast("long").as("est"))
      val all = g.agg(
        hll_sketch_estimate(hll_union_agg(col("sk"))).cast("long").as("est"))
        .select(lit("ALL").as("k"), col("est"))
      per.union(all).orderBy("k")
    },
    None)

  /** DSv2 COMPLETE aggregate pushdown: count/min/max over the custom
    * connector answer from the clamped id range in closed form — the
    * scan emits one row and Spark plans no aggregation above it
    * (PagesSourceSpec pins the PagesAggScan + single-partition plan).
    * Oracle regenerates the same range via generate_series. */
  val qSourceV2Agg = QueryDef("q_source_v2_agg",
    (s, dir) => s.read.format("graft-pages")
      .option("rows", "5000").option("parts", "8").load()
      .where(col("page_id") >= 500 && col("page_id") < 4200)
      .agg(count(lit(1)).as("n_pages"),
        min("page_id").as("first_id"), max("page_id").as("last_id")),
    Some(
      """SELECT CAST(count(*) AS BIGINT) AS n_pages,
        |       min(page_id) AS first_id, max(page_id) AS last_id
        |FROM (SELECT unnest(generate_series(500, 4199)) AS page_id) t""".stripMargin))

  val all: Seq[QueryDef] = Seq(qStreamLeftOuter, qHllSketch, qSourceV2Agg)
}
