package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.queries.Queries.QueryDef
import graft.streaming.StateV2

/** Sixteenth wave — warm-started streaming state and the ORC format:
  *
  *  - `q_stream_tws_init`: `transformWithState` with INITIAL STATE —
  *    history events are batch-aggregated into per-user seeds, the
  *    remaining events replay as a stream on top of that state, and
  *    the final totals hash-match the full-table aggregate. This is
  *    the incremental-pipeline bootstrap: the reference's resumed
  *    crawl reloads its visited set the same way (SURVEY §1.1
  *    distinct-set state), and a 100 TB daily pipeline seeds today's
  *    stream from yesterday's aggregates instead of reprocessing.
  *  - `q_orc_roundtrip`: ORC sink + source round trip (explicit
  *    schema), aggregate equality vs the parquet original — the third
  *    columnar/text format beside the CSV and JSON-lines round trips.
  */
object R16Queries {

  private def t(s: SparkSession, dir: String, name: String) =
    Tables.load(s, dir, name)

  private def tmpPath(prefix: String, dir: String): String =
    Tables.tmpPath(prefix, dir)

  private def withRocksDB[T](s: SparkSession)(body: => T): T =
    Tables.withRocksDbStateStore(s)(body)

  // ---------- q_stream_tws_init ----------

  /** Even event_ids are "yesterday" (batch history → seeds); odd ones
    * replay as the stream. Only users with ≥1 stream event emit (Update
    * mode), so the oracle keeps exactly those users — over BOTH halves. */
  val qStreamTwsInit = QueryDef("q_stream_tws_init",
    (s, dir) => Tables.streaming(s) {
      withRocksDB(s) {
        val ev = t(s, dir, "events")
          .where(col("user_id") >= 40 && col("user_id") < 80)
          .select(col("event_id"), col("user_id"), col("value"),
            col("event_type"))
        val seeds = ev.where(col("event_id") % 2 === 0)
          .groupBy("user_id")
          .agg(count(lit(1)).as("n"),
            sum(floor(col("value") * 100).cast("long")).as("cents"),
            collect_set(col("event_type")).as("types"))
        val stage = tmpPath("graft_tws_init_src", dir)
        ev.where(col("event_id") % 2 === 1)
          .write.mode("overwrite").parquet(stage)
        val src = s.readStream
          .schema("event_id LONG, user_id LONG, value DOUBLE, event_type STRING")
          .parquet(stage)
        val q = StateV2.runningTotalsWarmStart(s, src, seeds)
          .writeStream.outputMode("update")
          .format("memory").queryName("graft_tws_init_out").start()
        q.processAllAvailable()
        q.stop()
        StateV2.finalTotals(s.table("graft_tws_init_out")).orderBy("user_id")
      }
    },
    Some(
      """WITH in_range AS (SELECT * FROM events
        |                  WHERE user_id >= 40 AND user_id < 80)
        |SELECT user_id, count(*) AS n,
        |  CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents,
        |  count(DISTINCT event_type) AS n_types
        |FROM in_range
        |WHERE user_id IN (SELECT user_id FROM in_range WHERE event_id % 2 = 1)
        |GROUP BY user_id ORDER BY user_id""".stripMargin))

  // ---------- q_stream_tws_timer ----------

  /** Event-time timers: per-user totals are emitted ONLY when the
    * watermark proves the user idle ([[StateV2.IdleFlush]]). A
    * far-future sentinel (negative user_id, filtered from the result)
    * advances the final watermark past every user's idle horizon, so
    * the finite stream emits exactly the batch GROUP BY. Terminal
    * condition: state drains to the sentinel's single row — load-
    * independent, like q_stream_left_outer. */
  val qStreamTwsTimer = QueryDef("q_stream_tws_timer",
    (s, dir) => Tables.streaming(s) {
      withRocksDB(s) {
        val stage = tmpPath("graft_tws_timer_src", dir)
        val ev = Tables.events(s, dir)
          .where(col("user_id") >= 80 && col("user_id") < 120)
          .select(col("user_id"), col("ts"))
        val sentinel = s.range(1)
          .select(lit(-1L).as("user_id"),
            lit("2025-07-01 00:00:00").cast("timestamp").as("ts"))
        ev.union(sentinel).write.mode("overwrite").parquet(stage)
        val src = s.readStream.schema("user_id LONG, ts TIMESTAMP")
          .parquet(stage)
        val q = StateV2.idleFlush(s, src, gapMs = 60000L)
          .writeStream.outputMode("append")
          .format("memory").queryName("graft_tws_timer_out").start()
        Tables.drainStateTo(q, targetRows = 1)
        q.stop()
        s.table("graft_tws_timer_out").where(col("user_id") >= 0)
          .orderBy("user_id")
      }
    },
    Some(
      """SELECT user_id, count(*) AS n, max(epoch_us(ts)) AS last_us
        |FROM events WHERE user_id BETWEEN 80 AND 119
        |GROUP BY user_id ORDER BY user_id""".stripMargin))

  // ---------- q_orc_roundtrip ----------

  val qOrcRoundtrip = QueryDef("q_orc_roundtrip",
    (s, dir) => {
      val out = tmpPath("graft_orc_roundtrip", dir)
      t(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_linestatus"),
          col("l_quantity").cast("decimal(18,2)").as("qty"),
          col("l_extendedprice").cast("decimal(18,2)").as("price"))
        .write.mode("overwrite").orc(out)
      s.read
        .schema("l_returnflag STRING, l_linestatus STRING, qty DECIMAL(18,2), price DECIMAL(18,2)")
        .orc(out)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).cast("long").as("n"),
          sum(col("qty")).cast("double").as("sum_qty"),
          sum(col("price")).cast("double").as("sum_price"))
        .orderBy("l_returnflag", "l_linestatus")
    },
    Some(
      """SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS n,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin))

  // ---------- q_managed_table ----------

  /** SQL DDL surface: CREATE TABLE ... USING parquet at an explicit
    * LOCATION, INSERT INTO ... SELECT, then aggregate the catalog table
    * — the warehouse-managed write path (the reference's `raw.indexing`
    * DDL + append, `spider_indexing_dataclass.py:17-21`, expressed as
    * Spark SQL). Oracle aggregates the same rows straight off parquet. */
  val qManagedTable = QueryDef("q_managed_table",
    (s, dir) => {
      val loc = tmpPath("graft_managed_tbl", dir)
      // LOCATION makes the table external: DROP leaves files behind, so a
      // rerun would re-adopt (and then double) the previous run's rows —
      // clear the directory first
      val locPath = java.nio.file.Paths.get(loc)
      if (java.nio.file.Files.exists(locPath)) {
        val walk = java.nio.file.Files.walk(locPath)
        try walk.sorted(java.util.Comparator.reverseOrder())
          .forEach(p => java.nio.file.Files.deleteIfExists(p))
        finally walk.close()
      }
      t(s, dir, "nation").createOrReplaceTempView("nation_src")
      s.sql("DROP TABLE IF EXISTS graft_nation_tbl")
      s.sql(s"CREATE TABLE graft_nation_tbl " +
        s"(n_nationkey BIGINT, n_regionkey BIGINT, n_name STRING) " +
        s"USING parquet LOCATION '$loc'")
      // two appends = the reference's per-depth INSERT cadence
      s.sql("INSERT INTO graft_nation_tbl " +
        "SELECT n_nationkey, n_regionkey, n_name FROM nation_src WHERE n_nationkey % 2 = 0")
      s.sql("INSERT INTO graft_nation_tbl " +
        "SELECT n_nationkey, n_regionkey, n_name FROM nation_src WHERE n_nationkey % 2 = 1")
      s.sql(
        """SELECT n_regionkey, CAST(count(*) AS BIGINT) AS n,
          |  min(n_name) AS first_name
          |FROM graft_nation_tbl GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin)
    },
    Some(
      """SELECT CAST(n_regionkey AS BIGINT) AS n_regionkey,
        |  CAST(count(*) AS BIGINT) AS n,
        |  min(n_name) AS first_name
        |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin))

  // ---------- q_bpe_merges ----------

  /** BPE-merge vocabulary induction ([[graft.ext.BpeOps]]): 4 greedy
    * merge rounds over a 2000-doc slice, each round one pair-count
    * shuffle + one scalar replace pass; the DuckDB oracle unrolls the
    * SAME rounds as CTE levels generated from the same constants. */
  val qBpeMerges = QueryDef("q_bpe_merges",
    (s, dir) => graft.ext.BpeOps.trainMerges(s,
      t(s, dir, "documents").where(col("doc_id") < 2000), "text",
      iterations = 4),
    Some(graft.ext.BpeOps.trainMergesOracleSql(maxDoc = 2000, iterations = 4)))

  // ---------- q_bpe_encode ----------

  /** Train-then-apply: the 4 trained merges (a model-sized driver
    * value) are folded into ONE chained-replace projection over the
    * target corpus — encoding is a single map-side pass, no shuffle. */
  val qBpeEncode = QueryDef("q_bpe_encode",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = graft.ext.BpeOps.trainMerges(s,
        docs.where(col("doc_id") < 2000), "text", iterations = 4)
        .collect().map(r => graft.ext.BpeOps.Merge(
          r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
      graft.ext.BpeOps.encode(docs.where(col("doc_id") < 300),
        "text", "doc_id", merges).orderBy("doc_id")
    },
    Some(graft.ext.BpeOps.encodeOracleSql(trainMaxDoc = 2000,
      iterations = 4, encodeMaxDoc = 300)))

  // ---------- q_interval_join ----------

  /** Large×large interval-overlap join via bin co-location
    * ([[graft.operators.IntervalJoin]]): 30-day order windows from two
    * customer slices, overlap pairs counted per left order status. The
    * oracle is the plain theta join — the binned plan must produce the
    * SAME pairs with an equi-shuffle instead of a nested loop. */
  val qIntervalJoin = QueryDef("q_interval_join",
    (s, dir) => {
      val ords = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          datediff(col("o_orderdate"), lit("1992-01-01")).cast("long").as("lo"))
        .withColumn("hi", col("lo") + 30)
      val left = ords.where(col("o_custkey") < 60)
        .select(col("o_orderkey").as("l_key"), col("o_orderstatus").as("l_status"),
          col("lo").as("l_lo"), col("hi").as("l_hi"))
      val right = ords.where(col("o_custkey") >= 60 && col("o_custkey") < 120)
        .select(col("o_orderkey").as("r_key"),
          col("lo").as("r_lo"), col("hi").as("r_hi"))
      graft.operators.IntervalJoin
        .binnedOverlapJoin(left, "l_lo", "l_hi", right, "r_lo", "r_hi",
          binWidth = 32)
        .groupBy("l_status")
        .agg(count(lit(1)).cast("long").as("n_pairs"),
          countDistinct(col("l_key")).cast("long").as("n_left"))
        .orderBy("l_status")
    },
    Some(
      """WITH o AS (SELECT o_orderkey, o_custkey, o_orderstatus,
        |    CAST(datediff('day', DATE '1992-01-01', o_orderdate) AS BIGINT) AS lo,
        |    CAST(datediff('day', DATE '1992-01-01', o_orderdate) + 30 AS BIGINT) AS hi
        |  FROM orders),
        |l AS (SELECT o_orderkey AS l_key, o_orderstatus AS l_status,
        |             lo AS l_lo, hi AS l_hi FROM o WHERE o_custkey < 60),
        |r AS (SELECT o_orderkey AS r_key, lo AS r_lo, hi AS r_hi
        |      FROM o WHERE o_custkey >= 60 AND o_custkey < 120)
        |SELECT l_status, CAST(count(*) AS BIGINT) AS n_pairs,
        |       CAST(count(DISTINCT l_key) AS BIGINT) AS n_left
        |FROM l JOIN r ON l_lo < r_hi AND r_lo < l_hi
        |GROUP BY l_status ORDER BY l_status""".stripMargin))

  val all: Seq[QueryDef] =
    Seq(qStreamTwsInit, qStreamTwsTimer, qOrcRoundtrip, qManagedTable,
      qBpeMerges, qBpeEncode, qIntervalJoin)
}
