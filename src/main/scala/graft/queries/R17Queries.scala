package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.queries.Queries.QueryDef
import graft.rules.RewriteGlobalRankWindows

/** Seventeenth wave — the custom-state v1 loop, ingestion robustness,
  * and the reference corpus's read path:
  *
  *  - `q_stream_sessionize`: [[graft.streaming.Sessionize]]'s
  *    `flatMapGroupsWithState` path (interval-merge state + event-time
  *    timeout) run END-TO-END as a stream and hash-checked against the
  *    batch lag/gap sessionization oracle. Until now this path was
  *    unit-tested (TestGroupState) while only its batch twin
  *    (`q_sessionize`) and the native `session_window` form
  *    (`q_stream_session_window`) were oracle-checked; this pins the
  *    hand-rolled state machine itself. A far-future sentinel advances
  *    the watermark so every real session times out and flushes; the
  *    sentinel's own open session is the terminal 1-row state.
  *  - `q_corrupt_records` / `q_merge_schema`: malformed-payload
  *    tolerance and additive schema evolution — the two failure modes
  *    a long-lived ingestion pipeline hits first.
  *  - `q_text_corpus_roundtrip` / `q_binary_source`: the K2/K3 file
  *    corpus REaD back (wholetext + binaryFile sources) — write-side
  *    sinks existed since round 1; this closes the loop.
  */
object R17Queries {

  val qStreamSessionize = QueryDef("q_stream_sessionize",
    (s, dir) => Tables.streaming(s) {
      val stage = Tables.tmpPath("graft_ssz_src", dir)
      val ev = Tables.events(s, dir).select(col("user_id"), col("ts"))
      val sentinel = s.range(1)
        .select(lit(-1L).as("user_id"),
          lit("2025-07-01 00:00:00").cast("timestamp").as("ts"))
      ev.union(sentinel).write.mode("overwrite").parquet(stage)
      val src = s.readStream.schema("user_id LONG, ts TIMESTAMP")
        .parquet(stage)
      val q = graft.streaming.Sessionize
        .streamingSessions(s, src, gapMinutes = 30, watermarkDelay = "1 hour")
        .writeStream.outputMode("append")
        .format("memory").queryName("graft_ssz_out").start()
      // drain until only the sentinel's open session remains in state
      Tables.drainStateTo(q, targetRows = 1)
      q.stop()
      s.table("graft_ssz_out").where(col("user_id") >= 0)
        .orderBy("user_id", "start_us")
    },
    Some(
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us FROM events),
        |x AS (SELECT user_id, us,
        |        lag(us) OVER (PARTITION BY user_id ORDER BY us) AS prev_us
        |      FROM e),
        |y AS (SELECT user_id, us,
        |        CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000 THEN 1 ELSE 0 END AS new_sess
        |      FROM x),
        |z AS (SELECT user_id, us,
        |        CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY us) AS BIGINT) AS session_seq
        |      FROM y)
        |SELECT user_id, min(us) AS start_us, max(us) AS end_us,
        |       CAST(count(*) AS BIGINT) AS n
        |FROM z GROUP BY user_id, session_seq
        |ORDER BY user_id, start_us""".stripMargin))

  // ---------- q_corrupt_records ----------

  /** Error-tolerant ingestion: a feed where ~1 in 40 payloads is
    * malformed must not kill the job (the streaming twin of K1's "one
    * bad row" hazard). PERMISSIVE `from_json` yields a NULL struct for
    * bad payloads; the query routes rows into valid/corrupt counts per
    * type. Oracle detects the same malformed payloads structurally. */
  val qCorruptRecords = QueryDef("q_corrupt_records",
    (s, dir) => {
      // coalesce: a NULL value would NULL the whole payload via concat and
      // miscount as corrupt (the BpeOps-oracle lesson applied up front)
      val v = coalesce(col("value"), lit(0.0)).cast("string")
      val payload = when(col("event_id") % 40 === 0,
        concat(lit("{\"v\":"), v)) // unclosed
        .otherwise(concat(lit("{\"v\":"), v, lit("}")))
      Tables.load(s, dir, "events")
        .select(col("event_type"), payload.as("js"))
        .select(col("event_type"),
          from_json(col("js"), org.apache.spark.sql.types.StructType.fromDDL(
            "v DOUBLE")).as("p"))
        .groupBy("event_type")
        .agg(count(lit(1)).cast("long").as("n"),
          sum(when(col("p").isNull || col("p.v").isNull, 1L).otherwise(0L))
            .as("n_corrupt"))
        .orderBy("event_type")
    },
    Some(
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CASE WHEN event_id % 40 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_corrupt
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin))

  // ---------- q_merge_schema ----------

  /** Lake schema evolution: two parquet drops with different column
    * sets read back as ONE table via mergeSchema — late columns are
    * NULL for early files (the additive-evolution contract every
    * long-lived 100 TB lake relies on). */
  val qMergeSchema = QueryDef("q_merge_schema",
    (s, dir) => {
      val out = Tables.tmpPath("graft_merge_schema", dir)
      val ev = Tables.load(s, dir, "events")
      ev.where(col("event_id") % 2 === 0)
        .select(col("event_id"), col("user_id"))
        .write.mode("overwrite").parquet(s"$out/gen=old")
      ev.where(col("event_id") % 2 === 1)
        .select(col("event_id"), col("user_id"), col("event_type"))
        .write.mode("overwrite").parquet(s"$out/gen=new")
      s.read.option("mergeSchema", "true").parquet(out)
        .groupBy("event_type")
        .agg(count(lit(1)).cast("long").as("n"),
          countDistinct("user_id").cast("long").as("n_users"))
        .orderBy(col("event_type").asc_nulls_first)
    },
    Some(
      """SELECT CASE WHEN event_id % 2 = 0 THEN NULL ELSE event_type END
        |    AS event_type,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM events GROUP BY 1 ORDER BY event_type NULLS FIRST""".stripMargin))

  // ---------- q_text_corpus_roundtrip ----------

  /** K2 ROUND TRIP: the reference's file-per-page text corpus
    * (2-line `root_site:`/`web_url:` header, `web_spider_oo.py:352-359`)
    * written by `Sinks.writeTextFiles`, then RE-INGESTED through
    * Spark's wholetext source and parsed back to (url, text) — the
    * "crawl once, re-read the corpus forever" path a training pipeline
    * actually takes. Oracle reconstructs the expected rows straight
    * from `documents`. */
  val qTextCorpusRoundtrip = QueryDef("q_text_corpus_roundtrip",
    (s, dir) => {
      val root = "https://h.test/"
      val out = Tables.tmpPath("graft_text_corpus", dir)
      // the deterministic tmp dir survives across runs: clear it so stale
      // files from an earlier code version can't ride into the wholetext
      // read-back (the q_managed_table pre-clean discipline)
      Tables.clearDir(out)
      val docs = Tables.load(s, dir, "documents").where(col("doc_id") < 200)
        .select(concat(lit(root), col("doc_id").cast("string")).as("url"),
          col("text"))
      graft.core.Sinks.writeTextFiles(docs, root, out)
      s.read.option("wholetext", "true").text(out)
        .select(split(col("value"), "\n", 3).as("parts"))
        .select(
          regexp_replace(element_at(col("parts"), 2), "^web_url: ", "")
            .as("url"),
          length(element_at(col("parts"), 3)).cast("long").as("text_len"))
        .orderBy("url")
    },
    Some(
      """SELECT 'https://h.test/' || CAST(doc_id AS VARCHAR) AS url,
        |  CAST(length(text) AS BIGINT) AS text_len
        |FROM documents WHERE doc_id < 200 ORDER BY url""".stripMargin))

  // ---------- q_binary_source ----------

  /** K3 ROUND TRIP through the `binaryFile` source: verbatim bytes
    * written per row by `Sinks.writeBinaryFiles`, read back as
    * (content BINARY, length) — fingerprints and byte counts must
    * survive untouched (the PDF-corpus shape; fixture text stands in
    * for the bytes). */
  val qBinarySource = QueryDef("q_binary_source",
    (s, dir) => {
      val root = "https://b.test/"
      val out = Tables.tmpPath("graft_binary_corpus", dir)
      Tables.clearDir(out) // same stale-file guard as the text roundtrip
      val docs = Tables.load(s, dir, "documents").where(col("doc_id") < 150)
        .select(concat(lit(root), col("doc_id").cast("string")).as("url"),
          col("text").cast("binary").as("content"))
      graft.core.Sinks.writeBinaryFiles(docs, root, out)
      s.read.format("binaryFile").load(out)
        .select(md5(col("content")).as("fp"), col("length"))
        .orderBy("fp", "length")
    },
    Some(
      """SELECT md5(text) AS fp, CAST(strlen(text) AS BIGINT) AS length
        |FROM documents WHERE doc_id < 150 ORDER BY fp, length""".stripMargin))

  // ---------- q_domain_mix_temp ----------

  /** Temperature-scaled corpus mixing (the multilingual upsampling
    * recipe: sampling share ∝ natural-share^(1/T), T > 1 flattens the
    * head and lifts the tail). Complements `q_domain_mix`'s hard
    * uniform target with the standard smooth reweighting. All heavy
    * work is one aggregation; the reweighting runs on the
    * |sources|-row aggregate. round(4) absorbs libm pow() divergence
    * between engines (the q_tfidf_top discipline). */
  val qDomainMixTemp = QueryDef("q_domain_mix_temp",
    (s, dir) => RewriteGlobalRankWindows.force {
      val t = 3.3 // XLM-R-style temperature
      val g = org.apache.spark.sql.expressions.Window.partitionBy()
      Tables.load(s, dir, "documents")
        .groupBy("source")
        .agg(sum("n_chars").as("tokens"))
        .withColumn("share",
          col("tokens").cast("double") / sum("tokens").over(g).cast("double"))
        .withColumn("w", pow(col("share"), 1.0 / t))
        .withColumn("mix_share", round(col("w") / sum("w").over(g), 4))
        .select(col("source"), col("tokens"), round(col("share"), 4).as("share"),
          col("mix_share"))
        .orderBy("source")
    },
    Some(
      """WITH per AS (SELECT source, CAST(sum(n_chars) AS BIGINT) AS tokens
        |             FROM documents GROUP BY source),
        |sh AS (SELECT source, tokens,
        |         CAST(tokens AS DOUBLE)
        |           / CAST(CAST(sum(tokens) OVER () AS BIGINT) AS DOUBLE) AS share
        |       FROM per),
        |w AS (SELECT source, tokens, share, pow(share, 1.0 / 3.3) AS w FROM sh)
        |SELECT source, tokens, round(share, 4) AS share,
        |       round(w / sum(w) OVER (), 4) AS mix_share
        |FROM w ORDER BY source""".stripMargin))

  val all: Seq[QueryDef] =
    Seq(qStreamSessionize, qCorruptRecords, qMergeSchema,
      qTextCorpusRoundtrip, qBinarySource, qDomainMixTemp)
}
