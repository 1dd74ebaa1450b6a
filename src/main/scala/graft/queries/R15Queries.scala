package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.queries.Queries.QueryDef
import graft.rules.RewriteGlobalRankWindows
import graft.streaming.StateV2

/** Fifteenth wave — state-API-v2 streaming and crawl/corpus planning:
  *
  *  - `q_stream_tws`: per-user running totals through Spark 4's
  *    `transformWithState` (ValueState + MapState in RocksDB column
  *    families, [[graft.streaming.StateV2]]) — the arbitrary-state
  *    successor to the v1 `flatMapGroupsWithState` path Sessionize
  *    uses; the finite stream's final totals hash-match the batch
  *    GROUP BY oracle.
  *  - `q_host_politeness`: the deterministic scheduling twin of the
  *    reference's politeness jitter (`web_spider_oo.py:146` sleeps
  *    40-90 s between fetches, SURVEY §2.8 C9): per-host cumulative
  *    delay gives each URL its fetch offset. The random draw is
  *    connector-side by design; the SCHEDULE is relational and
  *    testable — one window over (host, doc order), no shuffle beyond
  *    the partitionBy.
  *  - `q_domain_mix`: per-source sampling weights that level a corpus
  *    toward uniform token share (the mixing step before quota
  *    sampling): weight = min(1, target/actual) over per-source token
  *    sums. Global scalars ride an empty-frame window over the ALREADY
  *    AGGREGATED per-source rows (|sources| rows, not |documents|).
  */
object R15Queries {

  private def t(s: SparkSession, dir: String, name: String) =
    Tables.load(s, dir, name)

  private def withRocksDB[T](s: SparkSession)(body: => T): T =
    Tables.withRocksDbStateStore(s)(body)

  // ---------- q_stream_tws ----------

  val qStreamTws = QueryDef("q_stream_tws",
    (s, dir) => Tables.streaming(s) {
      withRocksDB(s) {
        val stageDir = Tables.stageEventsDir(dir, "graft_tws_src")
        val src = s.readStream
          .schema("event_id LONG, ts LONG, user_id LONG, event_type STRING, value DOUBLE")
          .parquet(stageDir)
          .where(col("user_id") < 40)
        val q = StateV2.runningTotals(s, src)
          .writeStream.outputMode("update")
          .format("memory").queryName("graft_tws_out").start()
        q.processAllAvailable()
        q.stop()
        StateV2.finalTotals(s.table("graft_tws_out")).orderBy("user_id")
      }
    },
    Some(
      """SELECT user_id, count(*) AS n,
        |  CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents,
        |  count(DISTINCT event_type) AS n_types
        |FROM events WHERE user_id < 40
        |GROUP BY user_id ORDER BY user_id""".stripMargin))

  // ---------- q_host_politeness ----------

  val qHostPoliteness = QueryDef("q_host_politeness",
    (s, dir) => {
      val w = Window.partitionBy("host").orderBy("doc_id")
      t(s, dir, "documents")
        .select(col("source").as("host"), col("doc_id"),
          (lit(40) + col("doc_id") % 51).cast("long").as("delay_s"))
        .withColumn("fetch_at_s",
          (sum("delay_s").over(w) - col("delay_s")).cast("long"))
        .orderBy("host", "doc_id")
    },
    Some(
      """SELECT source AS host, doc_id,
        |  CAST(40 + doc_id % 51 AS BIGINT) AS delay_s,
        |  CAST(sum(40 + doc_id % 51) OVER (PARTITION BY source ORDER BY doc_id)
        |    - (40 + doc_id % 51) AS BIGINT) AS fetch_at_s
        |FROM documents ORDER BY host, doc_id""".stripMargin))

  // ---------- q_domain_mix ----------

  val qDomainMix = QueryDef("q_domain_mix",
    (s, dir) => RewriteGlobalRankWindows.force {
      val g = Window.partitionBy() // over the per-source aggregate only
      t(s, dir, "documents")
        .groupBy("source")
        .agg(sum("n_chars").as("tokens"))
        .withColumn("target",
          sum("tokens").over(g).cast("double") / count(lit(1)).over(g))
        .withColumn("weight", least(lit(1.0), col("target") / col("tokens")))
        .select(col("source"), col("tokens"), col("weight"))
        .orderBy("source")
    },
    Some(
      """WITH per AS (SELECT source, CAST(sum(n_chars) AS BIGINT) AS tokens
        |             FROM documents GROUP BY source),
        |tg AS (SELECT source, tokens,
        |         CAST(CAST(sum(tokens) OVER () AS BIGINT) AS DOUBLE)
        |           / CAST(count(*) OVER () AS BIGINT) AS target
        |       FROM per)
        |SELECT source, tokens, least(1.0, target / tokens) AS weight
        |FROM tg ORDER BY source""".stripMargin))

  val all: Seq[QueryDef] = Seq(qStreamTws, qHostPoliteness, qDomainMix)
}
