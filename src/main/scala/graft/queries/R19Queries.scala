package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.queries.Queries.QueryDef

/** Nineteenth wave — span-granular training-data dedup, deterministic
  * weighted sampling, graph density filtering, and the remaining
  * streaming/SQL engine surface:
  *
  *  - `q_substring_dedup`: repeated-n-gram span detection (the
  *    "Deduplicating Training Data Makes Language Models Better"
  *    recipe at n-gram resolution — doc-level MinHash misses partial
  *    overlap; this catches the boilerplate paragraph shared by 5 000
  *    pages): per-doc duplicated-span fraction, fully oracle-checked;
  *  - `q_weighted_sample`: Efraimidis–Spirtakis weighted sampling
  *    without replacement, made hash-checkable by deriving the uniform
  *    draw from md5 — the corpus-mixing sampler as an EXACT query;
  *  - `q_kcore`: k-core peeling over the link graph
  *    ([[graft.ext.GraphOps.kCore]]) — the density filter that strips
  *    spam chains and isolated tails from a crawl graph;
  *  - `q_stream_chained_agg`: TWO chained stateful operators in one
  *    streaming query (5-min windows re-aggregated into 15-min windows
  *    via `window_time`) — watermark propagation through a stateful
  *    child, the multi-stage streaming topology Spark <3.4 could not
  *    run at all;
  *  - `q_stream_full_outer`: the last stream-stream join quadrant
  *    (inner / left-outer already oracle-checked);
  *  - `q_sql_udf`: declarative SQL UDFs (`CREATE FUNCTION ... RETURN`)
  *    — reusable logic that stays INSIDE Catalyst (inlined into the
  *    plan, codegen'd, pushdown-transparent — none of which a Scala
  *    closure UDF gets);
  *  - `q_params_sql`: parameterized SQL with named parameter markers —
  *    the injection-safe production query form.
  */
object R19Queries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  // ---------- q_substring_dedup ----------

  private val ssN = 8       // tokens per shingle span
  private val ssMaxDoc = 500

  /** Repeated-span detection: every 8-token n-gram of every doc, grams
    * seen in ≥2 distinct docs are "duplicated", each doc scores the
    * fraction of its grams that are duplicated and is flagged at ≥20%.
    *
    * Scale shape: the gram explode is map-side; the only corpus-sized
    * shuffle keys on the gram (map-side combined counts); the dup-gram
    * set flows back as a semi-join. Nothing is quadratic in docs —
    * unlike pairwise overlap — which is why this is the production
    * substring-dedup shape. */
  val qSubstringDedup = QueryDef("q_substring_dedup",
    (s, dir) => {
      val docs = t(s, dir, "documents").where(col("doc_id") < ssMaxDoc)
        .select(col("doc_id"), split(col("text"), " ").as("arr"))
        .where(size(col("arr")) >= ssN)
      val grams = docs.select(col("doc_id"), explode(expr(
        s"transform(sequence(1, size(arr) - ${ssN - 1}), " +
          s"i -> array_join(slice(arr, i, $ssN), ' '))")).as("gram"))
      val dup = grams.groupBy("gram")
        .agg(count_distinct(col("doc_id")).as("nd"))
        .where(col("nd") >= 2).select("gram")
      val tot = grams.groupBy("doc_id")
        .agg(count(lit(1)).cast("long").as("n_grams"))
      val dn = grams.join(dup, Seq("gram"), "left_semi")
        .groupBy("doc_id").agg(count(lit(1)).cast("long").as("n_dup"))
      tot.join(dn, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_grams"),
          coalesce(col("n_dup"), lit(0L)).as("n_dup"))
        .withColumn("dup_frac", round(col("n_dup") / col("n_grams"), 4))
        // integer-exact 20% flag: no double compare at the threshold
        .withColumn("flagged", col("n_dup") * 5 >= col("n_grams"))
        .orderBy("doc_id")
    },
    Some(
      s"""WITH docs AS (SELECT doc_id, string_split(text, ' ') AS arr
         |              FROM documents WHERE doc_id < $ssMaxDoc),
         |dl AS (SELECT doc_id, arr FROM docs WHERE len(arr) >= $ssN),
         |gi AS (SELECT doc_id, arr,
         |         unnest(generate_series(1, len(arr) - ${ssN - 1})) AS i
         |       FROM dl),
         |g AS (SELECT doc_id,
         |        array_to_string(arr[i:i+${ssN - 1}], ' ') AS gram FROM gi),
         |dup AS (SELECT gram FROM g GROUP BY gram
         |        HAVING count(DISTINCT doc_id) >= 2),
         |tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams
         |        FROM g GROUP BY 1),
         |dn AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup
         |       FROM g JOIN dup USING (gram) GROUP BY 1)
         |SELECT t.doc_id, t.n_grams, coalesce(dn.n_dup, 0) AS n_dup,
         |  round(coalesce(dn.n_dup, 0) / t.n_grams, 4) AS dup_frac,
         |  coalesce(dn.n_dup, 0) * 5 >= t.n_grams AS flagged
         |FROM tot t LEFT JOIN dn ON t.doc_id = dn.doc_id
         |ORDER BY t.doc_id""".stripMargin))

  // ---------- q_weighted_sample ----------

  /** First 6 md5 hex digits of column `h` folded to an integer — the
    * SAME SQL text runs on Spark and DuckDB (both ship `instr` and
    * `substr`), so the "uniform draw" is bit-identical cross-engine. */
  private val wsHexVal: String = (1 to 6).map(i =>
    s"(instr('0123456789abcdef', substr(h, $i, 1)) - 1) * " +
      s"${1L << (4 * (6 - i))}").mkString(" + ")

  private val wsPerLang = 20

  /** Efraimidis–Spirtakis weighted sampling without replacement, per
    * language stratum: item priority -ln(u)/w (w = token count), keep
    * the `wsPerLang` smallest. With u derived from md5(doc_id) instead
    * of an RNG, the sample is deterministic and hash-checked — the
    * reproducible-pipeline property (rerun → same training mix) that a
    * `rand()`-based sampler cannot give. One shuffle (the per-lang
    * window); priorities are map-side scalars. round(6) absorbs
    * cross-engine ln() ulps; doc_id breaks rounded ties. */
  val qWeightedSample = QueryDef("q_weighted_sample",
    (s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          size(split(col("text"), " ")).cast("double").as("w"),
          md5(concat(col("doc_id").cast("string"), lit(":ws"))).as("h"))
      val keyed = d
        .withColumn("u", (expr(wsHexVal) + lit(0.5)) / lit(16777216.0))
        .withColumn("es_key", round(-log(col("u")) / col("w"), 6))
      val win = Window.partitionBy("lang").orderBy(col("es_key"), col("doc_id"))
      keyed.withColumn("rn", row_number().over(win).cast("int"))
        .where(col("rn") <= wsPerLang)
        .select(col("lang"), col("rn"), col("doc_id"),
          col("w").cast("long").as("w_tokens"), col("es_key"))
        .orderBy("lang", "rn")
    },
    Some(
      s"""WITH d AS (SELECT doc_id, lang,
         |    CAST(len(string_split(text, ' ')) AS DOUBLE) AS w,
         |    md5(CAST(doc_id AS VARCHAR) || ':ws') AS h
         |  FROM documents),
         |k AS (SELECT doc_id, lang, w,
         |    round(-ln((($wsHexVal) + 0.5) / 16777216.0) / w, 6) AS es_key
         |  FROM d),
         |r AS (SELECT lang, doc_id, w, es_key,
         |    CAST(row_number() OVER (PARTITION BY lang
         |      ORDER BY es_key, doc_id) AS INTEGER) AS rn
         |  FROM k)
         |SELECT lang, rn, doc_id, CAST(w AS BIGINT) AS w_tokens, es_key
         |FROM r WHERE rn <= $wsPerLang ORDER BY lang, rn""".stripMargin))

  // ---------- q_kcore ----------

  private val kcK = 3
  private val kcRounds = 4

  /** One peel round of the oracle: degree → survivors → induced
    * subgraph, mirroring [[graft.ext.GraphOps.kCore]]'s fixed-round
    * loop exactly. */
  private def kcoreRoundSql(r: Int): String =
    s"""d$r AS (SELECT src, count(*) AS deg FROM e${r - 1} GROUP BY 1),
       |k$r AS (SELECT src FROM d$r WHERE deg >= $kcK),
       |e$r AS (SELECT e.src, e.dst FROM e${r - 1} e
       |        JOIN k$r x ON e.src = x.src JOIN k$r y ON e.dst = y.src)"""
      .stripMargin

  /** k-core over a sparse events-derived link graph (~2 edges/node):
    * 4 fixed peel rounds at k=3 strip low-degree tails; survivors and
    * their in-core degrees are hash-checked against the unrolled
    * oracle. */
  val qKcore = QueryDef("q_kcore",
    (s, dir) => {
      val e = t(s, dir, "events")
        .where(col("event_id") % 13 === 0)
        .select((col("user_id") % 500).as("a"),
          (col("event_id") % 500).as("b"))
      graft.ext.GraphOps.kCore(s, e, k = kcK, rounds = kcRounds)
        .orderBy("node")
    },
    Some(
      s"""WITH re AS (SELECT DISTINCT user_id % 500 AS a, event_id % 500 AS b
         |            FROM events WHERE event_id % 13 = 0),
         |e0 AS (SELECT a AS src, b AS dst FROM re WHERE a <> b
         |       UNION SELECT b, a FROM re WHERE a <> b),
         |${(1 to kcRounds).map(kcoreRoundSql).mkString(",\n")}
         |SELECT src AS node, CAST(count(*) AS BIGINT) AS deg
         |FROM e$kcRounds GROUP BY 1 ORDER BY node""".stripMargin))

  // ---------- q_stream_chained_agg ----------

  /** Two chained stateful operators: watermarked 5-min × user-bucket
    * counts (stateful #1) re-aggregated into 15-min windows keyed on
    * `window_time` (stateful #2), both in append mode in ONE streaming
    * query. The R8 sentinels advance the watermark so every fixture
    * window flushes through BOTH state stores; terminal condition =
    * state drained to the sentinels' own two rows. The oracle is the
    * equivalent two-level batch GROUP BY (a 5-min window's
    * `window_time` lands in `w5 - w5 % 15min` because 5 | 15). */
  val qStreamChainedAgg = QueryDef("q_stream_chained_agg",
    (s, dir) => Tables.streaming(s) {
      val stageDir = R8Queries.stageWithSentinel(s, dir, "graft_sca_src")
      val tsDiv = Tables.eventsTsDiv(s, dir)
      val src = s.readStream
        .schema("event_id LONG, ts LONG, user_id LONG, event_type STRING")
        .parquet(stageDir)
        .withColumn("ets", timestamp_micros(expr(s"ts div $tsDiv")))
        .withWatermark("ets", "1 hour")
      val lvl1 = src
        .groupBy(window(col("ets"), "5 minutes"),
          (col("user_id") % 10).as("ub"))
        .agg(count(lit(1)).as("n"))
      val lvl2 = lvl1
        .groupBy(window(window_time(col("window")), "15 minutes").as("w15"))
        .agg(count(lit(1)).as("n_groups"), sum(col("n")).as("n_events"))
      val q = lvl2.writeStream.outputMode("append")
        .format("memory").queryName("graft_sca_out").start()
      Tables.drainStateTo(q, targetRows = 2)
      q.stop()
      s.table("graft_sca_out")
        .select(unix_micros(col("w15.start")).as("win_us"),
          col("n_groups").cast("long").as("n_groups"),
          col("n_events").cast("long").as("n_events"))
        .where(col("win_us") < lit(R8Queries.SentinelNs / 1000))
        .orderBy("win_us")
    },
    Some(
      """WITH e AS (SELECT epoch_us(ts) AS us, user_id FROM events),
        |l1 AS (SELECT us - us % 300000000 AS w5, user_id % 10 AS ub,
        |         count(*) AS n
        |       FROM e GROUP BY 1, 2)
        |SELECT w5 - w5 % 900000000 AS win_us,
        |  CAST(count(*) AS BIGINT) AS n_groups,
        |  CAST(sum(n) AS BIGINT) AS n_events
        |FROM l1 GROUP BY 1 ORDER BY win_us""".stripMargin))

  // ---------- q_stream_full_outer ----------

  /** Stream-stream FULL OUTER join (views × purchases, same user,
    * 24 h): unmatched rows on EITHER side are held in state and
    * null-padded out once the watermark proves no match can arrive —
    * completing the join quadrant (inner and left-outer are
    * oracle-checked in earlier waves). Sentinel/drain mechanics as in
    * `q_stream_left_outer`. */
  val qStreamFullOuter = QueryDef("q_stream_full_outer",
    (s, dir) => Tables.streaming(s) {
      val stageDir = R8Queries.stageWithSentinel(s, dir, "graft_sfo_src")
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
          "r_ts <= l_ts + interval 24 hours"), "full_outer")
        .select(col("l_id"), col("r_id"))
        .writeStream.outputMode("append")
        .format("memory").queryName("graft_sfo_out").start()
      Tables.drainStateTo(q, targetRows = 2)
      q.stop()
      // negative ids are the watermark sentinels (they also match each
      // other — either way not part of the result)
      s.table("graft_sfo_out")
        .where((col("l_id").isNull || col("l_id") >= 0) &&
          (col("r_id").isNull || col("r_id") >= 0))
        .orderBy(col("l_id").asc_nulls_first, col("r_id").asc_nulls_first)
    },
    Some(
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS us, event_type
        |           FROM events WHERE user_id BETWEEN 0 AND 59),
        |l AS (SELECT event_id AS l_id, user_id AS l_uid, us AS l_us
        |      FROM e WHERE event_type = 'view'),
        |r AS (SELECT event_id AS r_id, user_id AS r_uid, us AS r_us
        |      FROM e WHERE event_type = 'purchase')
        |SELECT l_id, r_id FROM l FULL JOIN r
        |  ON l_uid = r_uid AND r_us >= l_us AND r_us <= l_us + 86400000000
        |ORDER BY l_id NULLS FIRST, r_id NULLS FIRST""".stripMargin))

  // ---------- q_sql_udf ----------

  /** Declarative SQL UDFs: `CREATE FUNCTION ... RETURN <expr>` defines
    * reusable logic that Catalyst INLINES into the calling plan —
    * codegen, pushdown, and constant folding all still apply (none of
    * which survives a Scala closure UDF). Two functions, one nested in
    * the other, oracle-checked with the bodies inlined by hand. */
  val qSqlUdf = QueryDef("q_sql_udf",
    (s, dir) => {
      t(s, dir, "documents").createOrReplaceTempView("graft_docs_udf")
      s.sql("CREATE OR REPLACE TEMPORARY FUNCTION graft_wps(text STRING) " +
        "RETURNS DOUBLE RETURN round(CAST(size(split(text, ' ')) AS DOUBLE)" +
        " / (CAST(length(text) AS DOUBLE) + 1.0d), 6)")
      s.sql("CREATE OR REPLACE TEMPORARY FUNCTION graft_tier(x DOUBLE) " +
        "RETURNS STRING RETURN CASE WHEN x >= 0.2d THEN 'dense' " +
        "WHEN x >= 0.15d THEN 'mid' ELSE 'sparse' END")
      s.sql(
        """SELECT doc_id, graft_wps(text) AS wps,
          |       graft_tier(graft_wps(text)) AS tier
          |FROM graft_docs_udf WHERE doc_id < 300 ORDER BY doc_id"""
          .stripMargin)
    },
    Some(
      """WITH d AS (SELECT doc_id,
        |    round(len(string_split(text, ' ')) / (length(text) + 1.0), 6)
        |      AS wps
        |  FROM documents WHERE doc_id < 300)
        |SELECT doc_id, wps,
        |  CASE WHEN wps >= 0.2 THEN 'dense' WHEN wps >= 0.15 THEN 'mid'
        |       ELSE 'sparse' END AS tier
        |FROM d ORDER BY doc_id""".stripMargin))

  // ---------- q_params_sql ----------

  /** Parameterized SQL: named parameter markers bound server-side
    * (`spark.sql(text, args)`) — the injection-safe way to template
    * production queries; the oracle inlines the same constants. */
  val qParamsSql = QueryDef("q_params_sql",
    (s, dir) => {
      t(s, dir, "lineitem").createOrReplaceTempView("graft_li_param")
      s.sql(
        """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
          |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
          |FROM graft_li_param
          |WHERE l_quantity < :maxq
          |  AND l_shipdate >= CAST(:minDate AS TIMESTAMP)
          |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
        Map("maxq" -> 30, "minDate" -> "1995-06-01"))
    },
    Some(
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
        |FROM lineitem
        |WHERE l_quantity < 30 AND l_shipdate >= TIMESTAMP '1995-06-01'
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin))

  val all: Seq[QueryDef] =
    Seq(qSubstringDedup, qWeightedSample, qKcore, qStreamChainedAgg,
      qStreamFullOuter, qSqlUdf, qParamsSql)
}
