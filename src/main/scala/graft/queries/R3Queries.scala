package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.core.Tables
import graft.queries.Queries.QueryDef
import graft.rules.RewriteGlobalRankWindows

/** Third wave of operator coverage: unpivot/melt, multiset set-ops,
  * positional explode, MapType surface, window range-frames + ntile,
  * CSV and JSON-lines source/sink round trips, deterministic hash
  * sampling, null-handling scalars, array higher-order fold, and the
  * streaming stream-static dimension join.
  *
  * Every query keeps the established DuckDB-parity discipline: DECIMAL
  * (18,2) aggregation cast to DOUBLE at the end, BIGINT/INTEGER casts
  * pinned on both sides, total ORDER BY with a unique tie-break.
  */
object R3Queries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  private def d2(c: Column) = c.cast(DecimalType(18, 2))

  /** Staging path keyed by the dataset dir (same discipline as the
    * stream-source staging) so concurrent runs over different sf dirs
    * never race on one output directory. */
  private def tmpPath(name: String, dir: String): String =
    new java.io.File(sys.props("java.io.tmpdir"),
      name + "_" + math.abs(dir.hashCode)).getAbsolutePath

  /** Unpivot/melt (wide metrics -> long (metric, val) pairs) — the
    * inverse of q_pivot. Values are pre-cast to one type (unpivot
    * requires a common value type). */
  val qUnpivot = QueryDef("q_unpivot",
    (s, dir) => t(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(sum(d2(col("l_quantity"))).cast("double").as("sum_qty"),
        sum(d2(col("l_extendedprice"))).cast("double").as("sum_price"),
        count(lit(1)).cast("double").as("n"))
      .unpivot(Array(col("l_returnflag")),
        Array(col("sum_qty"), col("sum_price"), col("n")), "metric", "val")
      .orderBy("l_returnflag", "metric"),
    Some(
      """WITH a AS (SELECT l_returnflag,
        |   CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |   CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |   CAST(count(*) AS DOUBLE) AS n
        | FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, metric, val FROM (
        |  SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS val FROM a
        |  UNION ALL SELECT l_returnflag, 'sum_price', sum_price FROM a
        |  UNION ALL SELECT l_returnflag, 'n', n FROM a)
        |ORDER BY l_returnflag, metric""".stripMargin))

  /** EXCEPT ALL — multiset difference (duplicates preserved), grouped to
    * a deterministic summary. */
  val qExceptAll = QueryDef("q_except_all",
    (s, dir) => {
      val o = t(s, dir, "orders")
      o.select(col("o_custkey"))
        .exceptAll(o.where(col("o_orderstatus") === "F").select(col("o_custkey")))
        .groupBy("o_custkey")
        .agg(count(lit(1)).cast("long").as("n"))
        .orderBy("o_custkey")
    },
    Some(
      """SELECT o_custkey, CAST(count(*) AS BIGINT) AS n FROM (
        |  SELECT o_custkey FROM orders
        |  EXCEPT ALL
        |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
        |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin))

  /** INTERSECT ALL — multiset intersection (min of per-side
    * multiplicities), grouped to a deterministic summary. */
  val qIntersectAll = QueryDef("q_intersect_all",
    (s, dir) => {
      val o = t(s, dir, "orders")
      o.where(col("o_orderstatus") === "O").select(col("o_custkey"))
        .intersectAll(o.where(col("o_totalprice") > 1000.0).select(col("o_custkey")))
        .groupBy("o_custkey")
        .agg(count(lit(1)).cast("long").as("n"))
        .orderBy("o_custkey")
    },
    Some(
      """SELECT o_custkey, CAST(count(*) AS BIGINT) AS n FROM (
        |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        |  INTERSECT ALL
        |  SELECT o_custkey FROM orders WHERE o_totalprice > 1000.0)
        |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin))

  /** Positional explode (UDTF with ordinality) — token stream with
    * 0-based positions. */
  val qPosexplode = QueryDef("q_posexplode",
    (s, dir) => t(s, dir, "documents").where(col("doc_id") < 20)
      .select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "word")))
      .orderBy("doc_id", "pos"),
    Some(
      """WITH a AS (SELECT doc_id, string_split(text, ' ') AS arr
        |           FROM documents WHERE doc_id < 20),
        |b AS (SELECT doc_id, arr, unnest(generate_series(1, len(arr))) AS i FROM a)
        |SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos, arr[i] AS word
        |FROM b ORDER BY doc_id, pos""".stripMargin))

  /** MapType surface: map_from_arrays, element_at, map_keys, and the
    * transform_values higher-order function — extracted back to plain
    * columns so the oracle stays SQL-expressible. */
  val qMapFuncs = QueryDef("q_map_funcs",
    (s, dir) => t(s, dir, "events").where(col("event_id") % 97 === 0)
      .select(col("event_id"),
        map_from_arrays(
          array(lit("uid"), lit("vceil")),
          array(col("user_id"), ceil(col("value")))).as("m"))
      .select(col("event_id"),
        element_at(col("m"), "uid").as("uid"),
        element_at(col("m"), "vceil").as("vceil"),
        size(map_keys(col("m"))).as("nkeys"),
        element_at(transform_values(col("m"), (_, v) => v * 2), "vceil")
          .as("vceil2"))
      .orderBy("event_id"),
    Some(
      """SELECT event_id, user_id AS uid, CAST(ceil(value) AS BIGINT) AS vceil,
        | CAST(2 AS INTEGER) AS nkeys, CAST(ceil(value) AS BIGINT) * 2 AS vceil2
        |FROM events WHERE event_id % 97 = 0 ORDER BY event_id""".stripMargin))

  /** RANGE window frame: per-user trailing 10-minute count/sum at each
    * event (epoch-microsecond integer range — bit-exact across engines;
    * ties are frame peers on both sides). */
  val qWindowFrames = QueryDef("q_window_frames",
    (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("us")
        .rangeBetween(-600L * 1000000L, 0)
      Tables.events(s, dir)
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("us"), col("value"))
        .select(col("event_id"), col("user_id"),
          count(lit(1)).over(w).cast("long").as("n10"),
          sum(d2(col("value"))).over(w).cast("double").as("sum10"))
        .orderBy("event_id")
    },
    Some(
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS us, value FROM events)
        |SELECT event_id, user_id,
        |  CAST(count(*) OVER w AS BIGINT) AS n10,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS sum10
        |FROM e
        |WINDOW w AS (PARTITION BY user_id ORDER BY us
        |             RANGE BETWEEN 600000000 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin))

  /** ntile / percent_rank / cume_dist over a total order (unique
    * tie-break so all three are deterministic; bounded slice since a
    * global window is single-partition by construction). */
  val qNtile = QueryDef("q_ntile",
    // r16: route the global window(s) through the distributed rewrite
    (s, dir) => RewriteGlobalRankWindows.force {
      val w = Window.orderBy(col("c_acctbal"), col("c_custkey"))
      t(s, dir, "customer").where(col("c_custkey") <= 400)
        .select(col("c_custkey"),
          ntile(4).over(w).cast("int").as("tile"),
          percent_rank().over(w).as("pr"),
          cume_dist().over(w).as("cd"))
        .orderBy("c_custkey")
    },
    Some(
      """SELECT c_custkey,
        |  CAST(ntile(4) OVER w AS INTEGER) AS tile,
        |  percent_rank() OVER w AS pr,
        |  cume_dist() OVER w AS cd
        |FROM customer WHERE c_custkey <= 400
        |WINDOW w AS (ORDER BY c_acctbal, c_custkey)
        |ORDER BY c_custkey""".stripMargin))

  /** CSV sink + source round trip: write DECIMAL-normalized part rows as
    * CSV, read them back with an explicit schema, aggregate — the result
    * must equal the same aggregate straight off parquet (proves the
    * text round trip is lossless). */
  val qCsvRoundtrip = QueryDef("q_csv_roundtrip",
    (s, dir) => {
      val out = tmpPath("graft_csv_roundtrip", dir)
      t(s, dir, "part")
        .select(col("p_partkey"), col("p_brand"), d2(col("p_retailprice")).as("p_price"))
        .write.mode("overwrite").option("header", "true").csv(out)
      s.read.option("header", "true")
        .schema("p_partkey LONG, p_brand STRING, p_price DECIMAL(18,2)")
        .csv(out)
        .groupBy("p_brand")
        .agg(count(lit(1)).cast("long").as("n"),
          sum(col("p_price")).cast("double").as("total_price"))
        .orderBy("p_brand")
    },
    Some(
      """SELECT p_brand, CAST(count(*) AS BIGINT) AS n,
        | CAST(sum(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        |FROM part GROUP BY p_brand ORDER BY p_brand""".stripMargin))

  /** JSON-lines sink + source round trip (schema-on-read with an
    * explicit schema — no sampling-dependent inference). */
  val qJsonlRoundtrip = QueryDef("q_jsonl_roundtrip",
    (s, dir) => {
      val out = tmpPath("graft_jsonl_roundtrip", dir)
      t(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"))
        .write.mode("overwrite").json(out)
      s.read.schema("event_id LONG, user_id LONG, event_type STRING")
        .json(out)
        .groupBy("event_type")
        .agg(count(lit(1)).cast("long").as("n"),
          countDistinct(col("user_id")).cast("long").as("nd_users"))
        .orderBy("event_type")
    },
    Some(
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        | CAST(count(DISTINCT user_id) AS BIGINT) AS nd_users
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin))

  /** Deterministic hash-bucket sampling (~1/16 via first md5 hex char) —
    * reproducible sampling for pipeline debugging, unlike rand()-based
    * TABLESAMPLE. */
  val qSampleHash = QueryDef("q_sample_hash",
    (s, dir) => t(s, dir, "orders")
      .where(substring(md5(col("o_orderkey").cast("string")), 1, 1) === "0")
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).cast("long").as("n"),
        sum(d2(col("o_totalprice"))).cast("double").as("sample_total"))
      .orderBy("o_orderstatus"),
    Some(
      """SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sample_total
        |FROM orders
        |WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) = '0'
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin))

  /** Null-handling scalars: nullif / coalesce / nvl2-style dispatch /
    * boolean-to-flag casts. */
  val qNullFuncs = QueryDef("q_null_funcs",
    (s, dir) => t(s, dir, "customer").where(col("c_custkey") <= 300)
      .select(col("c_custkey"),
        coalesce(nullif(col("c_mktsegment"), lit("BUILDING")), lit("OTHER"))
          .as("seg"),
        when(col("c_acctbal") < 0, lit(null)).otherwise(col("c_acctbal"))
          .as("bal_pos"),
        expr("nvl2(nullif(c_mktsegment, 'BUILDING'), 'kept', 'repl')")
          .as("disp"),
        (col("c_acctbal") >= 0).cast("int").as("has_bal"))
      .orderBy("c_custkey"),
    Some(
      """SELECT c_custkey,
        |  coalesce(nullif(c_mktsegment, 'BUILDING'), 'OTHER') AS seg,
        |  CASE WHEN c_acctbal < 0 THEN NULL ELSE c_acctbal END AS bal_pos,
        |  CASE WHEN nullif(c_mktsegment, 'BUILDING') IS NOT NULL
        |       THEN 'kept' ELSE 'repl' END AS disp,
        |  CAST(c_acctbal >= 0 AS INTEGER) AS has_bal
        |FROM customer WHERE c_custkey <= 300 ORDER BY c_custkey""".stripMargin))

  /** Array higher-order fold: L2 norm via functions.aggregate (sequential
    * fold — same accumulation order as DuckDB's list fold; round(4) by
    * the established cosine-parity convention). */
  val qEmbeddingNorm = QueryDef("q_embedding_norm",
    (s, dir) => t(s, dir, "embeddings").where(col("vec_id") < 50)
      .select(col("vec_id"),
        round(sqrt(aggregate(col("embedding"), lit(0.0),
          (acc, x) => acc + x.cast("double") * x.cast("double"))), 4).as("l2"),
        size(col("embedding")).as("dim"))
      .orderBy("vec_id"),
    Some(
      """SELECT vec_id,
        |  round(sqrt(list_sum(list_transform(embedding,
        |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 4) AS l2,
        |  CAST(len(embedding) AS INTEGER) AS dim
        |FROM embeddings WHERE vec_id < 50 ORDER BY vec_id""".stripMargin))

  /** Stream-static dimension join: streaming events enriched against the
    * static customer dim, aggregated per segment (complete mode over the
    * finite fixture is deterministic — same discipline as
    * q_streaming_window). */
  val qStreamStaticJoin = QueryDef("q_stream_static_join",
    (s, dir) => Tables.streaming(s) {
      val stageDir = Tables.stageEventsDir(dir, "graft_ss_src")
      val cust = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
      val src = s.readStream
        .schema("event_id LONG, user_id LONG, event_type STRING, value DOUBLE")
        .parquet(stageDir)
      val q = src.join(cust, src("user_id") === cust("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"), sum(d2(col("value"))).as("total_value"))
        .writeStream.outputMode("complete")
        .format("memory").queryName("graft_ss_out").start()
      q.processAllAvailable(); q.stop()
      s.table("graft_ss_out")
        .select(col("c_mktsegment"), col("n").cast("long").as("n"),
          col("total_value").cast("double").as("total_value"))
        .orderBy("c_mktsegment")
    },
    Some(
      """SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n,
        | CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin))

  /** SQL fragment: one row per (doc_id, term) token occurrence,
    * doc_id < maxDoc (non-distinct — term frequency preserved). */
  private def tokSql(maxDoc: Int): String =
    s"""docs AS (SELECT doc_id, string_split(text, ' ') AS arr
       |         FROM documents WHERE doc_id < $maxDoc),
       |idx AS (SELECT doc_id, arr, unnest(generate_series(1, len(arr))) AS i
       |        FROM docs),
       |tok AS (SELECT doc_id, arr[i] AS term FROM idx WHERE len(arr[i]) > 0)"""
      .stripMargin

  private def tokens(s: SparkSession, dir: String, maxDoc: Int): DataFrame =
    t(s, dir, "documents").where(col("doc_id") < maxDoc)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .where(length(col("term")) > 0)

  /** TF-IDF: top-3 terms per document by tf·ln(N/df) over a 200-doc
    * corpus slice (N generated from the same constant on both sides;
    * round(4) absorbs any libm ln() divergence). */
  val qTfidfTop = QueryDef("q_tfidf_top", {
    val n = 200
    (s, dir) => {
      val tf = tokens(s, dir, n).groupBy("doc_id", "term")
        .agg(count(lit(1)).cast("long").as("tf"))
      val dfreq = tf.groupBy("term")
        .agg(count(lit(1)).cast("long").as("df"))
      val w = Window.partitionBy("doc_id")
        .orderBy(col("score").desc, col("term"))
      tf.join(dfreq, "term")
        .withColumn("score",
          round(col("tf") * log(lit(n.toDouble) / col("df")), 4))
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= 3 && col("doc_id") < 30)
        .select("doc_id", "term", "tf", "df", "score")
        .orderBy(col("doc_id"), col("score").desc, col("term"))
    }
  },
    Some(
      s"""WITH ${tokSql(200)},
         |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
         |       FROM tok GROUP BY 1, 2),
         |dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
         |sc AS (SELECT t.doc_id, t.term, t.tf, d.df,
         |         round(t.tf * ln(200.0 / d.df), 4) AS score
         |       FROM tf t JOIN dfreq d USING (term)),
         |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
         |        ORDER BY score DESC, term) AS rn FROM sc)
         |SELECT doc_id, term, tf, df, score FROM r
         |WHERE rn <= 3 AND doc_id < 30
         |ORDER BY doc_id, score DESC, term""".stripMargin))

  /** Bigram language model: P(w2|w1) = c(w1,w2)/c(w1·) via lead()
    * adjacency — integer counts, exact double division. */
  val qBigramLm = QueryDef("q_bigram_lm",
    (s, dir) => {
      val tok = t(s, dir, "documents").where(col("doc_id") < 150)
        .select(col("doc_id"),
          posexplode(split(col("text"), " ")).as(Seq("pos", "word")))
      val w = Window.partitionBy("doc_id").orderBy("pos")
      val big = tok.withColumn("w2", lead("word", 1).over(w))
        .where(col("w2").isNotNull)
        .select(col("word").as("w1"), col("w2"))
      val c12 = big.groupBy("w1", "w2")
        .agg(count(lit(1)).cast("long").as("c12"))
      val c1 = big.groupBy("w1").agg(count(lit(1)).cast("long").as("c1"))
      c12.join(c1, "w1")
        .withColumn("p", col("c12") / col("c1"))
        .select("w1", "w2", "c12", "c1", "p")
        .orderBy(col("c12").desc, col("w1"), col("w2"))
        .limit(40)
    },
    Some(
      """WITH docs AS (SELECT doc_id, string_split(text, ' ') AS arr
        |              FROM documents WHERE doc_id < 150),
        |idx AS (SELECT doc_id, arr, unnest(generate_series(1, len(arr))) AS i
        |        FROM docs),
        |tok AS (SELECT doc_id, i AS pos, arr[i] AS word FROM idx),
        |big AS (SELECT word AS w1,
        |          lead(word) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
        |        FROM tok),
        |b AS (SELECT w1, w2 FROM big WHERE w2 IS NOT NULL),
        |c12 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM b GROUP BY 1, 2),
        |c1 AS (SELECT w1, CAST(count(*) AS BIGINT) AS c1 FROM b GROUP BY 1)
        |SELECT c12.w1, c12.w2, c12.c12, c1.c1, c12.c12 / CAST(c1.c1 AS DOUBLE) AS p
        |FROM c12 JOIN c1 USING (w1)
        |ORDER BY c12.c12 DESC, c12.w1, c12.w2 LIMIT 40""".stripMargin))

  /** Corpus top terms (global term frequency, the basic corpus-analysis
    * reduction). */
  val qTopTerms = QueryDef("q_top_terms",
    (s, dir) => tokens(s, dir, 300).groupBy("term")
      .agg(count(lit(1)).cast("long").as("n"))
      .orderBy(col("n").desc, col("term"))
      .limit(50),
    Some(
      s"""WITH ${tokSql(300)}
         |SELECT term, CAST(count(*) AS BIGINT) AS n FROM tok
         |GROUP BY term ORDER BY n DESC, term LIMIT 50""".stripMargin))

  /** Sliding (overlapping) time windows: 10-minute windows every
    * 5 minutes — each event lands in exactly two windows. */
  val qSlidingWindow = QueryDef("q_sliding_window",
    (s, dir) => Tables.events(s, dir)
      .groupBy(window(col("ts"), "10 minutes", "5 minutes"), col("event_type"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(d2(col("value"))).cast("double").as("total_value"))
      .select(unix_micros(col("window.start")).as("win_us"),
        col("event_type"), col("n"), col("total_value"))
      .orderBy("win_us", "event_type"),
    Some(
      """WITH e AS (SELECT epoch_us(ts) AS us, event_type, value FROM events),
        |j AS (SELECT us, event_type, value,
        |        unnest(generate_series(0, 1)) AS k FROM e),
        |b AS (SELECT us - us % 300000000 - k * 300000000 AS win_us,
        |        event_type, value FROM j)
        |SELECT win_us, event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM b GROUP BY win_us, event_type
        |ORDER BY win_us, event_type""".stripMargin))

  /** Spark's native session_window operator (batch form) — gap-based
    * sessions as a groupBy key; window.end = last event + gap. Cross-
    * checked against the same lag/flag/running-sum CTE as q_sessionize. */
  val qSessionWindow = QueryDef("q_session_window",
    (s, dir) => Tables.events(s, dir)
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).cast("long").as("n"))
      .select(col("user_id"),
        unix_micros(col("session_window.start")).as("start_us"),
        unix_micros(col("session_window.end")).as("end_gap_us"), col("n"))
      .orderBy("user_id", "start_us"),
    Some(
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
        |x AS (SELECT user_id, us,
        |        lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev_us
        |      FROM e),
        |y AS (SELECT user_id, us,
        |        CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000
        |             THEN 1 ELSE 0 END AS new_sess
        |      FROM x),
        |z AS (SELECT user_id, us,
        |        sum(new_sess) OVER (PARTITION BY user_id ORDER BY us) AS seq
        |      FROM y)
        |SELECT user_id, min(us) AS start_us,
        |  max(us) + 1800000000 AS end_gap_us, CAST(count(*) AS BIGINT) AS n
        |FROM z GROUP BY user_id, seq
        |ORDER BY user_id, start_us""".stripMargin))

  /** Streaming deduplication: the source directory holds TWO copies of
    * the fixture, dropDuplicates("event_id") must collapse them — state-
    * backed streaming dedup, the incremental form of q_dedup_exact. */
  val qStreamDedup = QueryDef("q_stream_dedup",
    // 4 shuffle partitions: the dedup + agg state stores are per-
    // partition fixed cost per micro-batch (32 would commit 32 stores)
    (s, dir) => Tables.streaming(s) {
      val stageDir = Tables.stageEventsDir(dir, "graft_dedup_src",
        copies = Seq("events_a.parquet", "events_b.parquet"))
      val src = s.readStream
        .schema("event_id LONG, user_id LONG, event_type STRING, value DOUBLE")
        .parquet(stageDir)
      val q = src.dropDuplicates("event_id")
        .groupBy("event_type").agg(count(lit(1)).as("n"))
        .writeStream.outputMode("complete")
        .format("memory").queryName("graft_dedup_out").start()
      q.processAllAvailable(); q.stop()
      s.table("graft_dedup_out")
        .select(col("event_type"), col("n").cast("long").as("n"))
        .orderBy("event_type")
    },
    Some(
      """SELECT event_type, CAST(count(DISTINCT event_id) AS BIGINT) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin))

  /** Bloom-pruned anti-join — result must equal the plain left_anti
    * join (the bloom filter only prunes the shuffle). */
  val qBloomAnti = QueryDef("q_bloom_anti",
    (s, dir) => graft.operators.BloomOps.bloomPrunedAntiJoin(
      t(s, dir, "lineitem"),
      t(s, dir, "orders").where(col("o_orderstatus") === "F"),
      "l_orderkey", "o_orderkey")
      .groupBy("l_returnflag")
      .agg(count(lit(1)).cast("long").as("n"),
        sum(d2(col("l_quantity"))).cast("double").as("sum_qty"))
      .orderBy("l_returnflag"),
    Some(
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |WHERE l_orderkey NOT IN
        |  (SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F')
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin))

  /** StructType surface: named struct build + getField access + inline
    * (explode of array<struct> into columns). */
  val qStructFuncs = QueryDef("q_struct_funcs",
    (s, dir) => t(s, dir, "events").where(col("event_id") % 131 === 0)
      .select(col("event_id"),
        struct(col("event_type").as("et"), col("user_id").as("uid")).as("st"),
        col("value"))
      .select(col("event_id"),
        col("st").getField("et").as("et"),
        col("st").getField("uid").as("uid"),
        inline(array(
          struct(lit("half").as("tag"),
            (d2(col("value")) * d2(lit(0.5))).cast("double").as("v")),
          struct(lit("full").as("tag"), d2(col("value")).cast("double").as("v")))))
      .orderBy("event_id", "tag"),
    Some(
      """WITH e AS (SELECT event_id, event_type AS et, user_id AS uid, value
        |           FROM events WHERE event_id % 131 = 0),
        |x AS (
        |  SELECT event_id, et, uid, 'half' AS tag,
        |    CAST(CAST(value AS DECIMAL(18,2)) * CAST(0.5 AS DECIMAL(18,2)) AS DOUBLE) AS v
        |  FROM e
        |  UNION ALL
        |  SELECT event_id, et, uid, 'full',
        |    CAST(CAST(value AS DECIMAL(18,2)) AS DOUBLE)
        |  FROM e)
        |SELECT event_id, et, uid, tag, v FROM x
        |ORDER BY event_id, tag""".stripMargin))

  /** Row generation: per-order 3-day date spine via sequence + explode
    * (the date-dimension generation pattern). */
  val qSequenceExplode = QueryDef("q_sequence_explode",
    (s, dir) => t(s, dir, "orders").where(col("o_orderkey") < 300)
      .select(col("o_orderkey"),
        explode(sequence(to_date(col("o_orderdate")),
          date_add(to_date(col("o_orderdate")), 2),
          expr("interval 1 day"))).as("d"))
      .select(col("o_orderkey"), date_format(col("d"), "yyyy-MM-dd").as("day"))
      .orderBy("o_orderkey", "day"),
    Some(
      """WITH o AS (SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d0
        |           FROM orders WHERE o_orderkey < 300),
        |x AS (SELECT o_orderkey,
        |        unnest(generate_series(d0, d0 + INTERVAL 2 DAY, INTERVAL 1 DAY)) AS d
        |      FROM o)
        |SELECT o_orderkey, strftime(CAST(d AS DATE), '%Y-%m-%d') AS day
        |FROM x ORDER BY o_orderkey, day""".stripMargin))

  /** regexp_extract_all / regexp counting / list slicing over text. */
  val qRegexpAll = QueryDef("q_regexp_all",
    (s, dir) => t(s, dir, "documents").where(col("doc_id") < 100)
      .select(col("doc_id"),
        size(regexp_extract_all(col("text"), lit("s[a-z]+"), lit(0))).as("n_s"),
        size(regexp_extract_all(col("text"), lit("scan"), lit(0))).as("n_scan"),
        array_join(slice(regexp_extract_all(col("text"), lit("b[a-z]+"), lit(0)),
          1, 3), ",").as("first_b"))
      .orderBy("doc_id"),
    Some(
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, 's[a-z]+')) AS INTEGER) AS n_s,
        |  CAST(len(regexp_extract_all(text, 'scan')) AS INTEGER) AS n_scan,
        |  coalesce(array_to_string(regexp_extract_all(text, 'b[a-z]+')[1:3], ','), '') AS first_b
        |FROM documents WHERE doc_id < 100 ORDER BY doc_id""".stripMargin))

  /** Deterministic array aggregation: collect_set -> array_sort ->
    * concat_ws (unordered collection made order-stable before output). */
  val qCollectSorted = QueryDef("q_collect_sorted",
    (s, dir) => t(s, dir, "orders")
      .groupBy("o_orderpriority")
      .agg(concat_ws(",", array_sort(collect_set(col("o_orderstatus"))))
        .as("statuses"),
        count(lit(1)).cast("long").as("n"))
      .orderBy("o_orderpriority"),
    Some(
      """SELECT o_orderpriority,
        |  string_agg(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus) AS statuses,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin))

  /** Array higher-order functions: filter / exists / forall / transform
    * over the token array. */
  val qArrayHof = QueryDef("q_array_hof",
    (s, dir) => t(s, dir, "documents").where(col("doc_id") < 100)
      .select(col("doc_id"), split(col("text"), " ").as("arr"))
      .select(col("doc_id"),
        size(filter(col("arr"), x => length(x) > 5)).as("n_long"),
        exists(col("arr"), x => x === "spark").cast("int").as("has_spark"),
        forall(col("arr"), x => length(x) > 0).cast("int").as("all_nonempty"),
        array_join(transform(slice(col("arr"), 1, 3), x => upper(x)), " ")
          .as("head3_upper"))
      .orderBy("doc_id"),
    Some(
      """WITH a AS (SELECT doc_id, string_split(text, ' ') AS arr
        |           FROM documents WHERE doc_id < 100)
        |SELECT doc_id,
        |  CAST(len(list_filter(arr, x -> len(x) > 5)) AS INTEGER) AS n_long,
        |  CAST(list_contains(arr, 'spark') AS INTEGER) AS has_spark,
        |  CAST(len(list_filter(arr, x -> len(x) = 0)) = 0 AS INTEGER) AS all_nonempty,
        |  array_to_string(list_transform(arr[1:3], x -> upper(x)), ' ') AS head3_upper
        |FROM a ORDER BY doc_id""".stripMargin))

  /** ANSI SQL LATERAL VIEW explode (the UDTF surface through spark.sql,
    * with WHERE/HAVING over the generated rows). */
  val qLateralSql = QueryDef("q_lateral_sql",
    (s, dir) => {
      t(s, dir, "documents").where(col("doc_id") < 50)
        .createOrReplaceTempView("graft_docs_r3")
      s.sql(
        """SELECT doc_id, tok, CAST(count(*) AS LONG) AS n
          |FROM graft_docs_r3
          |LATERAL VIEW explode(split(text, ' ')) x AS tok
          |WHERE length(tok) > 3
          |GROUP BY doc_id, tok
          |HAVING count(*) >= 3
          |ORDER BY doc_id, tok""".stripMargin)
    },
    Some(
      """WITH docs AS (SELECT doc_id, string_split(text, ' ') AS arr
        |              FROM documents WHERE doc_id < 50),
        |idx AS (SELECT doc_id, arr, unnest(generate_series(1, len(arr))) AS i
        |        FROM docs),
        |tok AS (SELECT doc_id, arr[i] AS tok FROM idx WHERE len(arr[i]) > 3)
        |SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS n
        |FROM tok GROUP BY doc_id, tok HAVING count(*) >= 3
        |ORDER BY doc_id, tok""".stripMargin))

  /** Hive-style partitioned lake write + pruned read-back: the scan of
    * the partitioned copy must touch only the selected partitions
    * (PartitionFilters in the plan), and the result must equal the same
    * aggregate off the unpartitioned table. */
  val qPartitionPruning = QueryDef("q_partition_pruning",
    (s, dir) => {
      val out = tmpPath("graft_part_lineitem", dir)
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity"))
        .write.mode("overwrite").partitionBy("l_returnflag").parquet(out)
      s.read.parquet(out)
        .where(col("l_returnflag").isin("A", "R"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).cast("long").as("n"),
          sum(d2(col("l_quantity"))).cast("double").as("sum_qty"))
        .orderBy("l_returnflag")
    },
    Some(
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem WHERE l_returnflag IN ('A', 'R')
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin))

  /** Custom TypedImperativeAggregate (binary-state UDAF): exact
    * top-3-event-types-by-count per user cohort, deterministic
    * "v:c,v:c" finalization — oracle-checked against counts +
    * row_number + string_agg. */
  val qTopkCountAgg = QueryDef("q_topk_count_agg",
    (s, dir) => t(s, dir, "events")
      .groupBy((col("user_id") % 10).as("cohort"))
      .agg(graft.functions.TopKByCount(col("event_type"), 3).as("top3"))
      .orderBy("cohort"),
    Some(
      """WITH c AS (SELECT user_id % 10 AS cohort, event_type,
        |             CAST(count(*) AS BIGINT) AS n
        |           FROM events GROUP BY 1, 2),
        |r AS (SELECT cohort, event_type, n,
        |        row_number() OVER (PARTITION BY cohort
        |          ORDER BY n DESC, event_type) AS rn
        |      FROM c)
        |SELECT cohort, string_agg(event_type || ':' || n, ',' ORDER BY rn) AS top3
        |FROM r WHERE rn <= 3 GROUP BY cohort ORDER BY cohort""".stripMargin))

  /** SCD-2 dimension slicing: per-customer order history as
    * (valid_from, valid_to) intervals via lead(), open interval = current
    * row — the warehouse change-tracking pattern. */
  val qScd2 = QueryDef("q_scd2",
    (s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("vf"), col("o_orderkey"))
      t(s, dir, "orders").where(col("o_custkey") <= 200)
        // o_orderdate reads as TIMESTAMP_NTZ; the UTC session timezone
        // makes the cast + unix_micros equal DuckDB's epoch_us
        .select(col("o_custkey"), col("o_orderkey"),
          unix_micros(col("o_orderdate").cast("timestamp")).as("vf"))
        .select(col("o_custkey"), col("o_orderkey"),
          col("vf").as("valid_from_us"),
          lead(col("vf"), 1).over(w).as("valid_to_us"),
          lead(col("vf"), 1).over(w).isNull.cast("int").as("is_current"))
        .orderBy("o_custkey", "valid_from_us", "o_orderkey")
    },
    Some(
      """WITH o AS (SELECT o_custkey, o_orderkey, epoch_us(o_orderdate) AS vf
        |           FROM orders WHERE o_custkey <= 200)
        |SELECT o_custkey, o_orderkey, vf AS valid_from_us,
        |  lead(vf) OVER w AS valid_to_us,
        |  CAST(lead(vf) OVER w IS NULL AS INTEGER) AS is_current
        |FROM o WINDOW w AS (PARTITION BY o_custkey ORDER BY vf, o_orderkey)
        |ORDER BY o_custkey, valid_from_us, o_orderkey""".stripMargin))

  /** Typed KeyValueGroupedDataset.cogroup — per-key iterators from both
    * sides in one function (the typed generalization of a full outer
    * join + aggregate). */
  val qCogroup = QueryDef("q_cogroup",
    (s, dir) => {
      import s.implicits._
      val ords = t(s, dir, "orders").select(col("o_custkey").as("k"))
        .as[Long].groupByKey(identity)
      val cust = t(s, dir, "customer").select(col("c_custkey").as("k"))
        .as[Long].groupByKey(identity)
      ords.cogroup(cust) { (k, os, cs) =>
        Iterator((k, os.size.toLong, cs.size.toLong))
      }.toDF("k", "n_orders", "n_cust").orderBy("k")
    },
    Some(
      """WITH o AS (SELECT o_custkey AS k, CAST(count(*) AS BIGINT) AS n_orders
        |           FROM orders GROUP BY 1),
        |c AS (SELECT c_custkey AS k, CAST(count(*) AS BIGINT) AS n_cust
        |      FROM customer GROUP BY 1)
        |SELECT coalesce(o.k, c.k) AS k,
        |  coalesce(n_orders, 0) AS n_orders,
        |  coalesce(n_cust, 0) AS n_cust
        |FROM o FULL OUTER JOIN c ON o.k = c.k
        |ORDER BY k""".stripMargin))

  /** Stream-stream self-join: pairs of same-user events within 5
    * minutes, both sides watermarked with a time-range join condition —
    * the stateful streaming join. Raw pairs go to the sink in append
    * mode; the finite fixture drains in one batch so the emitted match
    * set equals the batch self-join. */
  val qStreamStreamJoin = QueryDef("q_stream_stream_join",
    (s, dir) => Tables.streaming(s) {
      val stageDir = Tables.stageEventsDir(dir, "graft_s2_src")
      val tsDiv = Tables.eventsTsDiv(s, dir)
      def src = s.readStream
        .schema("event_id LONG, ts LONG, user_id LONG, event_type STRING, value DOUBLE")
        .parquet(stageDir)
        .where(col("user_id") < 200)
        .withColumn("ets", timestamp_micros(expr(s"ts div $tsDiv")))
        .withWatermark("ets", "1 hour")
      val a = src.select(col("event_id").as("a_id"), col("user_id").as("a_uid"),
        col("ets").as("a_ts"))
      val b = src.select(col("event_id").as("b_id"), col("user_id").as("b_uid"),
        col("ets").as("b_ts"))
      val q = a.join(b, expr(
        "a_uid = b_uid AND b_ts >= a_ts AND " +
          "b_ts <= a_ts + interval 5 minutes AND a_id < b_id"))
        .select(col("a_id"), col("b_id"))
        .writeStream.outputMode("append")
        .format("memory").queryName("graft_s2_out").start()
      q.processAllAvailable(); q.stop()
      s.table("graft_s2_out").orderBy("a_id", "b_id")
    },
    Some(
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS us
        |           FROM events WHERE user_id < 200)
        |SELECT a.event_id AS a_id, b.event_id AS b_id
        |FROM e a JOIN e b ON a.user_id = b.user_id
        |  AND b.us >= a.us AND b.us <= a.us + 300000000
        |  AND a.event_id < b.event_id
        |ORDER BY a_id, b_id""".stripMargin))

  /** Exact Pearson correlation from DECIMAL power sums (the
    * q_moments_exact discipline: integer/decimal-exact aggregation,
    * identical final double arithmetic on both engines — Spark's
    * streaming corr() accumulates in doubles and is order-dependent,
    * so it cannot be oracle-checked; this can). */
  val qCorrExact = QueryDef("q_corr_exact",
    (s, dir) => t(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(count(lit(1)).cast("double").as("n"),
        sum(d2(col("l_quantity"))).cast("double").as("sx"),
        sum(d2(col("l_extendedprice"))).cast("double").as("sy"),
        sum(d2(col("l_quantity")) * d2(col("l_extendedprice"))).cast("double").as("sxy"),
        sum(d2(col("l_quantity")) * d2(col("l_quantity"))).cast("double").as("sxx"),
        sum(d2(col("l_extendedprice")) * d2(col("l_extendedprice"))).cast("double").as("syy"))
      .select(col("l_returnflag"),
        // round(6): DuckDB converts decimal->double via an int128/10^k
        // divide (two roundings) vs BigDecimal's single correctly-rounded
        // conversion — 1-ulp divergence is possible, the quotient isn't
        round((col("n") * col("sxy") - col("sx") * col("sy")) /
          (sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
            sqrt(col("n") * col("syy") - col("sy") * col("sy"))), 6).as("corr"))
      .orderBy("l_returnflag"),
    Some(
      """WITH a AS (SELECT l_returnflag,
        |    CAST(count(*) AS DOUBLE) AS n,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sxy,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS syy
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag,
        |  round((n * sxy - sx * sy) / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 6) AS corr
        |FROM a ORDER BY l_returnflag""".stripMargin))

  /** Bitwise + boolean aggregates. */
  val qBitBoolAggs = QueryDef("q_bit_bool_aggs",
    (s, dir) => t(s, dir, "events")
      .groupBy("event_type")
      .agg(bit_and(col("user_id")).as("uid_and"),
        bit_or(col("user_id")).as("uid_or"),
        bit_xor(col("user_id")).as("uid_xor"),
        bool_and(col("value") >= 0).cast("int").as("all_nonneg"),
        bool_or(col("value") > 400).cast("int").as("any_gt400"))
      .orderBy("event_type"),
    Some(
      """SELECT event_type,
        |  bit_and(user_id) AS uid_and, bit_or(user_id) AS uid_or,
        |  bit_xor(user_id) AS uid_xor,
        |  CAST(bool_and(value >= 0) AS INTEGER) AS all_nonneg,
        |  CAST(bool_or(value > 400) AS INTEGER) AS any_gt400
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin))

  /** Array set operations (sorted before output — Spark preserves
    * left-operand order, DuckDB doesn't specify one). */
  val qArraySetops = QueryDef("q_array_setops", {
    val ref = Seq("scan", "join", "sort", "spark", "merge", "qq7")
    (s, dir) => {
      val refCol = array(ref.map(lit): _*)
      t(s, dir, "documents").where(col("doc_id") < 100)
        .select(col("doc_id"), split(col("text"), " ").as("arr"))
        .select(col("doc_id"),
          concat_ws(",", array_sort(array_intersect(col("arr"), refCol)))
            .as("inter"),
          concat_ws(",", array_sort(array_except(refCol, col("arr"))))
            .as("missing"),
          size(array_distinct(col("arr"))).as("n_distinct"),
          arrays_overlap(col("arr"), refCol).cast("int").as("has_any"))
        .orderBy("doc_id")
    }
  },
    Some {
      val refSql = Seq("scan", "join", "sort", "spark", "merge", "qq7")
        .map(w => s"'$w'").mkString("[", ", ", "]")
      s"""WITH a AS (SELECT doc_id, string_split(text, ' ') AS arr
         |           FROM documents WHERE doc_id < 100)
         |SELECT doc_id,
         |  coalesce(array_to_string(list_sort(list_intersect(arr, $refSql)), ','), '') AS inter,
         |  coalesce(array_to_string(list_sort(list_distinct(
         |    list_filter($refSql, x -> NOT list_contains(arr, x)))), ','), '') AS missing,
         |  CAST(len(list_distinct(arr)) AS INTEGER) AS n_distinct,
         |  CAST(list_has_any(arr, $refSql) AS INTEGER) AS has_any
         |FROM a ORDER BY doc_id""".stripMargin
    })

  /** Multimodal frame sampling, REAL decode: each "video" is a
    * vertically-stacked frame-strip PNG (the JDK has no video container
    * demuxer; the strip isolates exactly that step) — `sampleFrames`
    * decodes the strip with javax.imageio and slices every 2nd 3-row
    * frame, emitting exact per-frame channel sums the oracle recomputes
    * from the pixel formula. */
  val qFrameSample = QueryDef("q_frame_sample",
    (s, dir) => graft.ext.MultimodalOps.sampleFrames(s,
      graft.ext.MultimodalOps.stripsFromDocuments(s,
        t(s, dir, "documents").where(col("doc_id") < 90)))
      .toDF().orderBy("doc_id", "frame_idx"),
    Some(
      s"""WITH d AS (SELECT doc_id, doc_id % 3 + 2 AS nf
         |           FROM documents WHERE doc_id < 90),
         |fr AS (SELECT doc_id, unnest(generate_series(0, nf - 1)) AS fi FROM d),
         |k AS (SELECT doc_id, fi FROM fr WHERE fi % 2 = 0),
         |xs AS (SELECT doc_id, fi, unnest(generate_series(0, 3)) AS x FROM k),
         |px AS (SELECT doc_id, fi, x,
         |         unnest(generate_series(fi * 3, fi * 3 + 2)) AS y
         |       FROM xs)
         |SELECT doc_id, CAST(fi AS INTEGER) AS frame_idx,
         |  CAST(${graft.ext.MultimodalOps.pixelSumSql('r')} AS BIGINT) AS sum_r,
         |  CAST(${graft.ext.MultimodalOps.pixelSumSql('g')} AS BIGINT) AS sum_g,
         |  CAST(${graft.ext.MultimodalOps.pixelSumSql('b')} AS BIGINT) AS sum_b
         |FROM px GROUP BY doc_id, fi
         |ORDER BY doc_id, frame_idx""".stripMargin))

  /** Multimodal resize, REAL pixels: nearest-neighbor scaling of the
    * decoded per-doc PNG to 3×3 — the oracle recomputes the sampled
    * source coordinates (floor-division picks) and their formula
    * channel sums. */
  val qMediaResize = QueryDef("q_media_resize",
    (s, dir) => graft.ext.MultimodalOps.resizeImages(s,
      graft.ext.MultimodalOps.imagesFromDocuments(s,
        t(s, dir, "documents").where(col("doc_id") < 90)),
      outW = 3, outH = 3)
      .toDF().orderBy("doc_id"),
    Some(
      s"""WITH d AS (SELECT doc_id, doc_id % 5 + 1 AS w, doc_id % 4 + 1 AS h
         |           FROM documents WHERE doc_id < 90),
         |ox AS (SELECT doc_id, w, h, unnest(generate_series(0, 2)) AS i FROM d),
         |oy AS (SELECT doc_id, w, h, i, unnest(generate_series(0, 2)) AS j FROM ox),
         |px AS (SELECT doc_id, (i * w) // 3 AS x, (j * h) // 3 AS y FROM oy)
         |SELECT doc_id, CAST(3 AS INTEGER) AS out_w, CAST(3 AS INTEGER) AS out_h,
         |  CAST(${graft.ext.MultimodalOps.pixelSumSql('r')} AS BIGINT) AS sum_r,
         |  CAST(${graft.ext.MultimodalOps.pixelSumSql('g')} AS BIGINT) AS sum_g,
         |  CAST(${graft.ext.MultimodalOps.pixelSumSql('b')} AS BIGINT) AS sum_b
         |FROM px GROUP BY doc_id ORDER BY doc_id""".stripMargin))

  /** Full outer join with both-side unmatched rows (key ranges overlap
    * only partially by construction). */
  val qJoinFullOuter = QueryDef("q_join_full_outer",
    (s, dir) => {
      val c = t(s, dir, "customer").where(col("c_custkey") < 500)
        .select(col("c_custkey"))
      val o = t(s, dir, "orders")
        .where(col("o_custkey") >= 300 && col("o_custkey") < 800)
        .groupBy("o_custkey")
        .agg(count(lit(1)).cast("long").as("n_orders"))
      c.join(o, c("c_custkey") === o("o_custkey"), "full_outer")
        .select(coalesce(col("c_custkey"), col("o_custkey")).as("k"),
          (col("c_custkey").isNotNull).cast("int").as("has_cust"),
          coalesce(col("n_orders"), lit(0L)).as("n_orders"))
        .orderBy("k")
    },
    Some(
      """WITH c AS (SELECT c_custkey FROM customer WHERE c_custkey < 500),
        |o AS (SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders
        |      FROM orders WHERE o_custkey >= 300 AND o_custkey < 800
        |      GROUP BY o_custkey)
        |SELECT coalesce(c_custkey, o_custkey) AS k,
        |  CAST(c_custkey IS NOT NULL AS INTEGER) AS has_cust,
        |  coalesce(n_orders, 0) AS n_orders
        |FROM c FULL OUTER JOIN o ON c_custkey = o_custkey
        |ORDER BY k""".stripMargin))

  /** Edit distance (fuzzy matching for entity resolution): closest part-
    * name pairs by Levenshtein distance. */
  val qEditDistance = QueryDef("q_edit_distance",
    (s, dir) => {
      val p = t(s, dir, "part").where(col("p_partkey") < 60)
        .select(col("p_partkey"), col("p_name"))
      val a = p.select(col("p_partkey").as("a"), col("p_name").as("na"))
      val b = p.select(col("p_partkey").as("b"), col("p_name").as("nb"))
      a.crossJoin(b).where(col("a") < col("b"))
        .select(col("a"), col("b"),
          levenshtein(col("na"), col("nb")).as("dist"))
        .orderBy(col("dist"), col("a"), col("b"))
        .limit(30)
    },
    Some(
      """WITH p AS (SELECT p_partkey, p_name FROM part WHERE p_partkey < 60)
        |SELECT a.p_partkey AS a, b.p_partkey AS b,
        |  CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS dist
        |FROM p a, p b WHERE a.p_partkey < b.p_partkey
        |ORDER BY dist, a, b LIMIT 30""".stripMargin))

  /** Date arithmetic: datediff / add_months (with end-of-month clamp) /
    * last_day / dayofweek (offset-aligned across engines). */
  val qDateArith = QueryDef("q_date_arith",
    (s, dir) => t(s, dir, "orders").where(col("o_orderkey") < 200)
      .select(col("o_orderkey"), to_date(col("o_orderdate")).as("d"))
      .select(col("o_orderkey"),
        datediff(to_date(lit("2025-01-01")), col("d")).as("days_to_2025"),
        date_format(add_months(col("d"), 2), "yyyy-MM-dd").as("plus2m"),
        date_format(last_day(col("d")), "yyyy-MM-dd").as("eom"),
        dayofweek(col("d")).as("dow"))
      .orderBy("o_orderkey"),
    Some(
      """WITH o AS (SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d
        |           FROM orders WHERE o_orderkey < 200)
        |SELECT o_orderkey,
        |  CAST(date_diff('day', d, DATE '2025-01-01') AS INTEGER) AS days_to_2025,
        |  strftime(CAST(d + INTERVAL 2 MONTH AS DATE), '%Y-%m-%d') AS plus2m,
        |  strftime(last_day(d), '%Y-%m-%d') AS eom,
        |  CAST(dayofweek(d) + 1 AS INTEGER) AS dow
        |FROM o ORDER BY o_orderkey""".stripMargin))

  /** URL parsing (crawler surface: host/path/query decomposition).
    * URLs are synthesized deterministically from order columns so both
    * engines parse identical well-formed strings; Spark uses the native
    * `parse_url` expression, the oracle equivalent regexes. */
  val qParseUrl = QueryDef("q_parse_url",
    (s, dir) => t(s, dir, "orders").where(col("o_orderkey") < 300)
      .select(col("o_orderkey"),
        concat(lit("https://h"), pmod(col("o_custkey"), lit(20)),
          lit(".example.com/cat/"), col("o_orderkey"),
          lit("/view?status="), col("o_orderstatus"),
          lit("&k="), pmod(col("o_orderkey"), lit(7))).as("url"))
      .select(col("o_orderkey"),
        parse_url(col("url"), lit("HOST")).as("host"),
        parse_url(col("url"), lit("PATH")).as("path"),
        parse_url(col("url"), lit("QUERY")).as("qs"),
        parse_url(col("url"), lit("QUERY"), lit("status")).as("status"))
      .orderBy("o_orderkey"),
    Some(
      """WITH u AS (
        |  SELECT o_orderkey,
        |    'https://h' || CAST(o_custkey % 20 AS VARCHAR) ||
        |    '.example.com/cat/' || CAST(o_orderkey AS VARCHAR) ||
        |    '/view?status=' || o_orderstatus ||
        |    '&k=' || CAST(o_orderkey % 7 AS VARCHAR) AS url
        |  FROM orders WHERE o_orderkey < 300)
        |SELECT o_orderkey,
        |  regexp_extract(url, '^https://([^/]+)', 1) AS host,
        |  regexp_extract(url, '^https://[^/]+([^?]*)', 1) AS path,
        |  regexp_extract(url, '\?(.*)$', 1) AS qs,
        |  regexp_extract(url, '[?&]status=([^&]*)', 1) AS status
        |FROM u ORDER BY o_orderkey""".stripMargin))

  /** Histogram / fixed-width binning over a numeric column. Bucket ids
    * come from floor + integer division — exact in IEEE double on both
    * engines (no double multiply, no engine-specific rounding on cast). */
  val qHistogram = QueryDef("q_histogram",
    (s, dir) => t(s, dir, "lineitem")
      .select(expr("CAST(floor(l_extendedprice) AS BIGINT) DIV 5000")
        .as("bucket"), col("l_extendedprice"))
      .groupBy("bucket")
      .agg(count(lit(1)).cast("long").as("n"),
        min(col("l_extendedprice")).as("lo"),
        max(col("l_extendedprice")).as("hi"),
        sum(d2(col("l_extendedprice"))).cast("double").as("total"))
      .orderBy("bucket"),
    Some(
      """SELECT CAST(floor(l_extendedprice) AS BIGINT) // 5000 AS bucket,
        |  CAST(count(*) AS BIGINT) AS n,
        |  min(l_extendedprice) AS lo, max(l_extendedprice) AS hi,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM lineitem GROUP BY 1 ORDER BY bucket""".stripMargin))

  /** Conditional aggregation: count_if / filtered sums (the FILTER-clause
    * surface). Ratio is a BIGINT/BIGINT double divide — deterministic
    * IEEE on both engines. */
  val qCondAggs = QueryDef("q_cond_aggs",
    (s, dir) => t(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(count(lit(1)).cast("long").as("n"),
        count_if(col("l_discount") > 0.05).cast("long").as("n_disc"),
        sum(when(col("l_tax") > 0.04, d2(col("l_extendedprice"))))
          .cast("double").as("taxed_total"),
        (count_if(col("l_discount") > 0.05).cast("double") /
          count(lit(1)).cast("double")).as("disc_ratio"))
      .orderBy("l_returnflag"),
    Some(
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |  CAST(count(*) FILTER (WHERE l_discount > 0.05) AS BIGINT) AS n_disc,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)))
        |       FILTER (WHERE l_tax > 0.04) AS DOUBLE) AS taxed_total,
        |  CAST(count(*) FILTER (WHERE l_discount > 0.05) AS DOUBLE) /
        |    CAST(count(*) AS DOUBLE) AS disc_ratio
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin))

  /** Stratified deterministic sampling (sampleBy semantics without RNG):
    * per-stratum rates keyed on the md5 of the row key, so the sample is
    * reproducible cross-engine and cluster-size-independent. */
  val qStratifiedSample = QueryDef("q_stratified_sample",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val hx = substring(md5(col("doc_id").cast("string")), 1, 1)
      val keep = when(pmod(col("doc_id"), lit(2)) === 0, hx.isin("0", "1", "2", "3"))
        .otherwise(hx.isin("0", "1", "2", "3", "4", "5", "6", "7"))
      docs.where(keep)
        .groupBy("source")
        .agg(count(lit(1)).cast("long").as("n"),
          sum(col("n_chars")).cast("long").as("chars"))
        .orderBy("source")
    },
    Some(
      """SELECT source, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(n_chars) AS BIGINT) AS chars
        |FROM documents
        |WHERE CASE WHEN doc_id % 2 = 0
        |  THEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0','1','2','3')
        |  ELSE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
        |       IN ('0','1','2','3','4','5','6','7') END
        |GROUP BY source ORDER BY source""".stripMargin))

  /** Correlated-subquery SQL surface: EXISTS, NOT IN, and a correlated
    * scalar subquery (Catalyst decorrelates all three into joins —
    * no per-row re-execution at scale). */
  val qSubqueries = QueryDef("q_subqueries",
    (s, dir) => {
      t(s, dir, "customer").where(col("c_custkey") < 500)
        .createOrReplaceTempView("graft_cust_sq")
      t(s, dir, "orders").createOrReplaceTempView("graft_ord_sq")
      s.sql(
        """SELECT c_custkey, c_mktsegment,
          |  (SELECT CAST(count(*) AS BIGINT) FROM graft_ord_sq o
          |   WHERE o.o_custkey = c.c_custkey) AS n_orders
          |FROM graft_cust_sq c
          |WHERE EXISTS (SELECT 1 FROM graft_ord_sq o
          |              WHERE o.o_custkey = c.c_custkey
          |                AND o.o_totalprice > 150000)
          |  AND c.c_custkey NOT IN (SELECT o_custkey FROM graft_ord_sq
          |                          WHERE o_orderstatus = 'P')
          |ORDER BY c_custkey""".stripMargin)
    },
    Some(
      """SELECT c_custkey, c_mktsegment,
        |  (SELECT CAST(count(*) AS BIGINT) FROM orders o
        |   WHERE o.o_custkey = c.c_custkey) AS n_orders
        |FROM (SELECT * FROM customer WHERE c_custkey < 500) c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey
        |                AND o.o_totalprice > 150000)
        |  AND c.c_custkey NOT IN (SELECT o_custkey FROM orders
        |                          WHERE o_orderstatus = 'P')
        |ORDER BY c_custkey""".stripMargin))

  /** CDC upsert / MERGE semantics as a batch snapshot rebuild: full-outer
    * join of target and updates; matched rows get the applied delta,
    * unmatched updates are inserts, unmatched targets carry over. All
    * balance arithmetic in DECIMAL, cast DOUBLE at the end. */
  val qUpsertMerge = QueryDef("q_upsert_merge",
    (s, dir) => {
      val tgt = t(s, dir, "customer").where(col("c_custkey") < 400)
        .select(col("c_custkey").as("tk"), d2(col("c_acctbal")).as("bal"))
      val upd = t(s, dir, "orders").where(col("o_custkey") < 500)
        .groupBy(col("o_custkey").as("uk"))
        .agg(sum(d2(col("o_totalprice"))).as("delta"))
      tgt.join(upd, col("tk") === col("uk"), "full_outer")
        .select(coalesce(col("tk"), col("uk")).as("key"),
          (coalesce(col("bal"), lit(0).cast(DecimalType(18, 2))) +
            coalesce(col("delta"), lit(0).cast(DecimalType(18, 2))))
            .cast("double").as("bal"),
          when(col("uk").isNull, "K")
            .when(col("tk").isNull, "I").otherwise("U").as("op"))
        .orderBy("key")
    },
    Some(
      """WITH tgt AS (SELECT c_custkey AS tk,
        |               CAST(c_acctbal AS DECIMAL(18,2)) AS bal
        |             FROM customer WHERE c_custkey < 400),
        |upd AS (SELECT o_custkey AS uk,
        |          sum(CAST(o_totalprice AS DECIMAL(18,2))) AS delta
        |        FROM orders WHERE o_custkey < 500 GROUP BY 1)
        |SELECT coalesce(tk, uk) AS key,
        |  CAST(coalesce(bal, CAST(0 AS DECIMAL(18,2))) +
        |       coalesce(delta, CAST(0 AS DECIMAL(18,2))) AS DOUBLE) AS bal,
        |  CASE WHEN uk IS NULL THEN 'K' WHEN tk IS NULL THEN 'I'
        |       ELSE 'U' END AS op
        |FROM tgt FULL OUTER JOIN upd ON tk = uk
        |ORDER BY key""".stripMargin))

  /** Time-series gap filling: per-user daily spine (sequence + explode)
    * left-joined to observed daily counts, then last-observation-carried-
    * forward via last(ignoreNulls) over an unbounded-preceding frame. */
  val qForwardFill = QueryDef("q_forward_fill",
    (s, dir) => {
      val ev = Tables.events(s, dir).where(col("user_id") < 15)
        .select(col("user_id"), to_date(col("ts")).as("day"))
      val daily = ev.groupBy("user_id", "day")
        .agg(count(lit(1)).cast("long").as("n"))
      val spine = daily.groupBy("user_id")
        .agg(min("day").as("d0"), max("day").as("d1"))
        .select(col("user_id"),
          explode(sequence(col("d0"), col("d1"))).as("day"))
      val w = Window.partitionBy("user_id").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      spine.join(daily, Seq("user_id", "day"), "left_outer")
        .select(col("user_id"),
          date_format(col("day"), "yyyy-MM-dd").as("day"),
          last(col("n"), ignoreNulls = true).over(w).as("filled"),
          col("n").isNotNull.cast("int").as("observed"))
        .orderBy("user_id", "day")
    },
    Some(
      """WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS day
        |            FROM events WHERE user_id < 15),
        |daily AS (SELECT user_id, day, CAST(count(*) AS BIGINT) AS n
        |          FROM ev GROUP BY 1, 2),
        |span AS (SELECT user_id, min(day) AS d0, max(day) AS d1
        |         FROM daily GROUP BY 1),
        |spine AS (SELECT user_id,
        |            CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY))
        |                 AS DATE) AS day
        |          FROM span),
        |j AS (SELECT s.user_id, s.day, d.n FROM spine s
        |      LEFT JOIN daily d ON s.user_id = d.user_id AND s.day = d.day)
        |SELECT user_id, strftime(day, '%Y-%m-%d') AS day,
        |  last_value(n IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled,
        |  CAST(CASE WHEN n IS NOT NULL THEN 1 ELSE 0 END AS INTEGER)
        |    AS observed
        |FROM j ORDER BY user_id, day""".stripMargin))

  /** Z-order (Morton) clustering values: interleaved-bit tiles over two
    * key dimensions — the multi-dim data-layout primitive (sort/range-
    * partition by z => tight per-file min/max on BOTH columns). The
    * oracle SQL is generated from the same bit-interleave constants
    * ([[graft.functions.ZOrder.zSql2]]) — integer-exact cross-engine. */
  val qZorder = QueryDef("q_zorder",
    (s, dir) => t(s, dir, "lineitem")
      .select(pmod(col("l_partkey"), lit(256)).as("zx"),
        pmod(col("l_suppkey"), lit(256)).as("zy"), col("l_quantity"))
      .withColumn("tile",
        shiftright(graft.functions.ZOrder.zValue2(col("zx"), col("zy"), 8), 8))
      .groupBy("tile")
      .agg(count(lit(1)).cast("long").as("n"),
        sum(d2(col("l_quantity"))).cast("double").as("qty"))
      .orderBy("tile"),
    Some(
      s"""WITH b AS (SELECT l_partkey % 256 AS zx, l_suppkey % 256 AS zy,
         |             l_quantity FROM lineitem),
         |z AS (SELECT ${graft.functions.ZOrder.zSql2("zx", "zy", 8)} >> 8
         |        AS tile, l_quantity FROM b)
         |SELECT tile, CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
         |FROM z GROUP BY tile ORDER BY tile""".stripMargin))

  /** Embedding-cosine near-dup clustering: the dedup pipeline's last
    * modality — similarity edges (rounded cosine over a bounded pair
    * set; the scale path is sign-LSH bucketing, q_ann_lsh) into
    * connected components. Verified against a DuckDB recursive-CTE
    * transitive closure over the identical rounded-cosine edge set. */
  val qDedupEmbedding = QueryDef("q_dedup_embedding",
    (s, dir) => {
      val e = t(s, dir, "embeddings").where(col("vec_id") < 150)
      val a = e.select(col("vec_id").as("a"), col("embedding").as("ea"))
      val b = e.select(col("vec_id").as("b"), col("embedding").as("eb"))
      val pairs = a.crossJoin(b).where(col("a") < col("b"))
        .where(round(graft.ext.SimilarityOps.cosine(col("ea"), col("eb")), 4)
          >= 0.38)
        .select("a", "b")
      graft.ext.GraphOps.connectedComponents(s, pairs).orderBy("node")
    },
    Some(
      s"""WITH RECURSIVE
         |emb AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 150),
         |dots AS (SELECT a.vec_id AS a, b.vec_id AS b,
         |    sum(CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)) AS dot,
         |    sum(CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE)) AS na,
         |    sum(CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)) AS nb
         |  FROM emb a, emb b, generate_series(1, 64) t(i)
         |  WHERE a.vec_id < b.vec_id GROUP BY 1, 2),
         |pairs AS (SELECT a, b FROM dots
         |          WHERE round(dot / (sqrt(na) * sqrt(nb)), 4) >= 0.38),
         |${ExtQueries.closureSql}
         |SELECT node, min(other) AS component FROM reach GROUP BY node
         |ORDER BY node""".stripMargin))

  /** Window navigation functions: lag / lead / first_value / nth_value
    * over the per-customer order sequence (unique ordering key ->
    * deterministic cross-engine). */
  val qWindowNav = QueryDef("q_window_nav",
    (s, dir) => {
      val w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
      t(s, dir, "orders").where(col("o_custkey") < 200)
        .select(col("o_custkey"), col("o_orderkey"),
          lag(col("o_orderkey"), 1).over(w).as("prev_ok"),
          lead(col("o_orderkey"), 1).over(w).as("next_ok"),
          first(col("o_orderkey")).over(w).as("first_ok"),
          nth_value(col("o_orderkey"), 2).over(w).as("second_ok"))
        .orderBy("o_custkey", "o_orderkey")
    },
    Some(
      """SELECT o_custkey, o_orderkey,
        |  lag(o_orderkey, 1) OVER w AS prev_ok,
        |  lead(o_orderkey, 1) OVER w AS next_ok,
        |  first_value(o_orderkey) OVER w AS first_ok,
        |  nth_value(o_orderkey, 2) OVER w AS second_ok
        |FROM orders WHERE o_custkey < 200
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin))

  /** Null-preserving explode (`explode_outer`): docs whose filtered
    * token array is empty still emit one null row — the outer-generator
    * semantics a LEFT JOIN-style pipeline needs. */
  val qExplodeOuter = QueryDef("q_explode_outer",
    (s, dir) => t(s, dir, "documents").where(col("doc_id") < 200)
      .select(col("doc_id"),
        explode_outer(expr("filter(split(text, ' '), t -> length(t) >= 8)"))
          .as("tok"))
      .orderBy(col("doc_id"), col("tok").asc_nulls_first),
    Some(
      """WITH d AS (SELECT doc_id,
        |             list_filter(string_split(text, ' '),
        |                         t -> len(t) >= 8) AS arr
        |           FROM documents WHERE doc_id < 200)
        |SELECT doc_id,
        |  unnest(CASE WHEN arr IS NULL OR len(arr) = 0
        |         THEN [CAST(NULL AS VARCHAR)] ELSE arr END) AS tok
        |FROM d ORDER BY doc_id, tok NULLS FIRST""".stripMargin))

  /** Sweep-line interval concurrency: each 7-day order window
    * contributes +1 at its start day and -1 past its end; daily net
    * deltas accumulate into the number of concurrently-open windows.
    * The scalable shape: the full point set shuffles ONCE (groupBy day),
    * and the running-sum window then runs over distinct days only —
    * never a global sort of the raw rows. */
  val qSweepline = QueryDef("q_sweepline",
    // r16: route the global window(s) through the distributed rewrite
    (s, dir) => RewriteGlobalRankWindows.force {
      val o = t(s, dir, "orders").where(col("o_orderkey") < 2000)
        .select(to_date(col("o_orderdate")).as("st"))
        .withColumn("en", date_add(col("st"), 7))
      val pts = o.select(col("st").as("day"), lit(1L).as("delta"))
        .unionAll(o.select(col("en").as("day"), lit(-1L).as("delta")))
      val perDay = pts.groupBy("day")
        .agg(sum("delta").cast("long").as("net"))
      val w = Window.orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      perDay.select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("net"), sum(col("net")).over(w).cast("long").as("conc"))
        .orderBy("day")
    },
    Some(
      """WITH o AS (SELECT CAST(o_orderdate AS DATE) AS st,
        |             CAST(o_orderdate AS DATE) + 7 AS en
        |           FROM orders WHERE o_orderkey < 2000),
        |pts AS (SELECT st AS day, CAST(1 AS BIGINT) AS delta FROM o
        |        UNION ALL SELECT en, CAST(-1 AS BIGINT) FROM o),
        |d AS (SELECT day, CAST(sum(delta) AS BIGINT) AS net
        |      FROM pts GROUP BY day)
        |SELECT strftime(day, '%Y-%m-%d') AS day, net,
        |  CAST(sum(net) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED
        |    PRECEDING AND CURRENT ROW) AS BIGINT) AS conc
        |FROM d ORDER BY day""".stripMargin))

  /** The LLM training-data cleaning pipeline as ONE declarative plan:
    * admission (lang + length gate) -> exact dedup (min doc_id per
    * md5) -> near-dup verification (trigram Jaccard >= 0.5) ->
    * connected-components clustering -> canonical survivors -> token
    * counts. Every stage is the same operator exercised by its
    * standalone query; this proves they compose end-to-end under one
    * oracle (recursive-CTE closure tail shared via closureSql). */
  val qPipelineLlm = QueryDef("q_pipeline_llm",
    (s, dir) => {
      val docs = t(s, dir, "documents").where(col("doc_id") < 150)
        .where(col("lang") === "en" && length(col("text")) >= 50)
        .select(col("doc_id"), col("text"))
      val exact = docs.groupBy(md5(col("text")).as("h"))
        .agg(min(col("doc_id")).as("doc_id"))
        .join(docs, "doc_id")
        .select("doc_id", "text")
      val sh = exact.select(col("doc_id"),
        explode(graft.ext.TextOps.wordNgrams(col("text"), 3)).as("shingle"))
        .distinct()
      val pairs = graft.ext.DedupOps.jaccardPairs(sh, "doc_id", 0.5)
        .select("a", "b")
      val comp = graft.ext.GraphOps.connectedComponents(s, pairs)
      exact.join(comp, exact("doc_id") === comp("node"), "left_outer")
        .where(col("doc_id") === coalesce(col("component"), col("doc_id")))
        .select(col("doc_id"),
          graft.ext.TextOps.tokenCount(col("text")).as("n_toks"))
        .orderBy("doc_id")
    },
    Some(
      s"""WITH RECURSIVE
         |adm AS (SELECT doc_id, text FROM documents
         |        WHERE doc_id < 150 AND lang = 'en' AND length(text) >= 50),
         |exact AS (SELECT d.doc_id, d.text FROM adm d
         |          JOIN (SELECT md5(text) AS h, min(doc_id) AS doc_id
         |                FROM adm GROUP BY 1) k ON d.doc_id = k.doc_id),
         |dd AS (SELECT doc_id, string_split(text, ' ') AS toks FROM exact),
         |idx AS (SELECT doc_id, toks,
         |          unnest(generate_series(1, len(toks) - 2)) AS i
         |        FROM dd WHERE len(toks) >= 3),
         |tri AS (SELECT DISTINCT doc_id,
         |          toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS shingle
         |        FROM idx),
         |sizes AS (SELECT doc_id, count(*) AS n FROM tri GROUP BY doc_id),
         |inter AS (SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS inter
         |          FROM tri a JOIN tri b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |          GROUP BY 1, 2),
         |pairs AS (SELECT a, b FROM inter
         |          JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b
         |          WHERE CAST(inter AS DOUBLE) / CAST(sa.n + sb.n - inter AS DOUBLE) >= 0.5),
         |${ExtQueries.closureSql},
         |comp AS (SELECT node, min(other) AS component FROM reach GROUP BY node)
         |SELECT e.doc_id,
         |  CAST(len(string_split(e.text, ' ')) AS BIGINT) AS n_toks
         |FROM exact e LEFT JOIN comp c ON e.doc_id = c.node
         |WHERE coalesce(c.component, e.doc_id) = e.doc_id
         |ORDER BY e.doc_id""".stripMargin))

  /** Embedded-CSV schema-on-read (`from_csv`): rows carry a delimited
    * payload string that is parsed back into typed fields in-plan. The
    * payload is synthesized from order columns (DECIMAL-formatted price
    * so the string is identical cross-engine) and the oracle re-splits
    * it — proving parse(serialize(x)) == x under both engines. */
  val qFromCsv = QueryDef("q_from_csv",
    (s, dir) => {
      import org.apache.spark.sql.types._
      val line = concat_ws("|", col("o_orderkey"), col("o_orderstatus"),
        col("o_orderpriority"), d2(col("o_totalprice")).cast("string"))
      val schema = StructType(Seq(
        StructField("k2", LongType), StructField("st", StringType),
        StructField("pri", StringType), StructField("price", DoubleType)))
      t(s, dir, "orders").where(col("o_orderkey") < 500)
        .select(col("o_orderkey"), line.as("line"))
        .select(col("o_orderkey"),
          from_csv(col("line"), schema, Map("sep" -> "|")).as("p"))
        .select(col("o_orderkey"), col("p.k2").as("k2"),
          col("p.st").as("st"), col("p.pri").as("pri"),
          col("p.price").as("price"))
        .orderBy("o_orderkey")
    },
    Some(
      """WITH l AS (SELECT o_orderkey,
        |    CAST(o_orderkey AS VARCHAR) || '|' || o_orderstatus || '|' ||
        |    o_orderpriority || '|' ||
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR) AS line
        |  FROM orders WHERE o_orderkey < 500)
        |SELECT o_orderkey,
        |  CAST(string_split(line, '|')[1] AS BIGINT) AS k2,
        |  string_split(line, '|')[2] AS st,
        |  string_split(line, '|')[3] AS pri,
        |  CAST(string_split(line, '|')[4] AS DOUBLE) AS price
        |FROM l ORDER BY o_orderkey""".stripMargin))

  /** Custom DataSource V2 end-to-end: read the synthetic page graph
    * through the `graft-pages` connector ([[graft.sources.PagesSource]]
    * — partition planning + filter pushdown + column pruning), extract
    * outlink targets from the html with the crawl href extractor, and
    * parse them back to ids. The oracle regenerates the identical graph
    * arithmetically from generate_series — no parquet table involved,
    * so the connector itself is what's under test. */
  val qSourceV2 = QueryDef("q_source_v2",
    (s, _) => {
      val ids = transform(
        graft.core.LinkOps.extractHrefs(col("html")),
        h => substring(h, 4, 18).cast("long"))
      s.read.format("graft-pages")
        .option("rows", "500").option("parts", "8").load()
        .where(col("page_id") < 400)
        .select(col("page_id"),
          element_at(ids, 1).as("a"),
          element_at(ids, 2).as("b"),
          size(ids).cast("int").as("n_links"))
        .orderBy("page_id")
    },
    Some(
      """SELECT i AS page_id,
        |  CAST((2 * i + 1) % 500 AS BIGINT) AS a,
        |  CAST((3 * i + 2) % 500 AS BIGINT) AS b,
        |  CAST(2 AS INTEGER) AS n_links
        |FROM generate_series(0, 399) t(i)
        |ORDER BY page_id""".stripMargin))

  /** PII-style redaction (training-data scrubbing): mask email and
    * phone-shaped spans with placeholder tokens and count the hits.
    * The fixture text has no PII, so deterministic spans are appended
    * per doc — both engines redact the identical string (patterns kept
    * to the Java-regex ∩ RE2 common subset). */
  val qRedact = QueryDef("q_redact",
    (s, dir) => {
      val raw = concat(col("text"), lit(" contact user"), col("doc_id"),
        lit("@mail.example or +1-555-01"), pmod(col("doc_id"), lit(100)))
      val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+"
      val phoneRe = "\\+?[0-9][0-9-]{6,}"
      t(s, dir, "documents").where(col("doc_id") < 200)
        .select(col("doc_id"), raw.as("raw"))
        .select(col("doc_id"),
          regexp_replace(regexp_replace(col("raw"), emailRe, "<EMAIL>"),
            phoneRe, "<PHONE>").as("clean"),
          regexp_count(col("raw"), lit(emailRe)).cast("int").as("n_email"),
          regexp_count(col("raw"), lit(phoneRe)).cast("int").as("n_phone"))
        .orderBy("doc_id")
    },
    Some(
      """WITH r AS (SELECT doc_id,
        |    text || ' contact user' || CAST(doc_id AS VARCHAR) ||
        |    '@mail.example or +1-555-01' ||
        |    CAST(doc_id % 100 AS VARCHAR) AS raw
        |  FROM documents WHERE doc_id < 200)
        |SELECT doc_id,
        |  regexp_replace(regexp_replace(raw,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+', '<EMAIL>', 'g'),
        |    '\+?[0-9][0-9-]{6,}', '<PHONE>', 'g') AS clean,
        |  CAST(len(regexp_extract_all(raw,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+')) AS INTEGER) AS n_email,
        |  CAST(len(regexp_extract_all(raw,
        |    '\+?[0-9][0-9-]{6,}')) AS INTEGER) AS n_phone
        |FROM r ORDER BY doc_id""".stripMargin))

  /** Repetition scoring (Gopher-style quality rule): per-doc max-term
    * ratio and distinct-token ratio — high repetition flags low-quality
    * generated/boilerplate text. BIGINT counts, double divides. */
  val qRepetition = QueryDef("q_repetition",
    (s, dir) => {
      val perTok = t(s, dir, "documents").where(col("doc_id") < 300)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
      perTok.groupBy("doc_id")
        .agg(sum("c").cast("long").as("total"),
          max("c").cast("long").as("mx"),
          count(lit(1)).cast("long").as("dct"))
        .select(col("doc_id"), col("total"),
          (col("mx").cast("double") / col("total").cast("double"))
            .as("max_term_ratio"),
          (col("dct").cast("double") / col("total").cast("double"))
            .as("distinct_ratio"))
        .orderBy("doc_id")
    },
    Some(
      """WITH tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |            FROM documents WHERE doc_id < 300),
        |ct AS (SELECT doc_id, tok, count(*) AS c FROM tk GROUP BY 1, 2),
        |agg AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS total,
        |          CAST(max(c) AS BIGINT) AS mx,
        |          CAST(count(*) AS BIGINT) AS dct
        |        FROM ct GROUP BY 1)
        |SELECT doc_id, total,
        |  CAST(mx AS DOUBLE) / CAST(total AS DOUBLE) AS max_term_ratio,
        |  CAST(dct AS DOUBLE) / CAST(total AS DOUBLE) AS distinct_ratio
        |FROM agg ORDER BY doc_id""".stripMargin))

  /** Two-pass exact heavy hitters: Misra-Gries candidate sketch (k
    * counters per partition, provable no-false-negatives) + exact
    * confirmation restricted to candidates. The oracle is the plain
    * full groupBy with the same integer-exact threshold — equal by the
    * sketch guarantee, which is precisely the point. */
  val qHeavyHitters = QueryDef("q_heavy_hitters",
    (s, dir) => {
      val toks = t(s, dir, "documents").where(col("doc_id") < 300)
        .select(explode(split(col("text"), " ")).as("tok"))
      graft.ext.HeavyHitters.heavyHitters(toks, col("tok"), 40)
        .withColumnRenamed("v", "tok")
        .orderBy("tok")
    },
    Some(
      """WITH tk AS (SELECT unnest(string_split(text, ' ')) AS tok
        |            FROM documents WHERE doc_id < 300),
        |n AS (SELECT count(*) AS total FROM tk)
        |SELECT tok, CAST(count(*) AS BIGINT) AS cnt
        |FROM tk, n GROUP BY tok, total
        |HAVING count(*) * 41 > total
        |ORDER BY tok""".stripMargin))

  /** Moving median: exact interpolated percentile as a WINDOW function
    * over a bounded ROWS frame (Spark `percentile` == DuckDB
    * `quantile_cont`, same interpolation — the aggregate form's parity
    * is q_percentiles; this is the sliding form). */
  val qMovingMedian = QueryDef("q_moving_median",
    (s, dir) => {
      val w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
        .rowsBetween(-4, Window.currentRow)
      t(s, dir, "orders").where(col("o_custkey") < 100)
        .select(col("o_custkey"), col("o_orderkey"),
          expr("percentile(o_totalprice, 0.5)")
            .over(w).as("med5"))
        .orderBy("o_custkey", "o_orderkey")
    },
    Some(
      """SELECT o_custkey, o_orderkey,
        |  quantile_cont(o_totalprice, 0.5) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderkey ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
        |    AS med5
        |FROM orders WHERE o_custkey < 100
        |ORDER BY o_custkey, o_orderkey""".stripMargin))

  /** ANSI LISTAGG ... WITHIN GROUP (ordered string aggregation) — the
    * SQL-standard form of q_collect_sorted's collect/sort/concat. */
  val qListagg = QueryDef("q_listagg",
    (s, dir) => {
      t(s, dir, "nation").createOrReplaceTempView("graft_nation_la")
      s.sql(
        """SELECT n_regionkey,
          |  listagg(n_name, ',') WITHIN GROUP (ORDER BY n_name) AS names
          |FROM graft_nation_la
          |GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin)
    },
    Some(
      """SELECT n_regionkey,
        |  string_agg(n_name, ',' ORDER BY n_name) AS names
        |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin))

  /** ANSI-safe arithmetic: try_divide / TRY_CAST null out instead of
    * erroring — the semantics a pipeline needs so one bad row can't
    * kill a 100 TB job. */
  val qTryArith = QueryDef("q_try_arith",
    (s, dir) => t(s, dir, "orders").where(col("o_orderkey") < 400)
      .select(col("o_orderkey"),
        expr("try_divide(CAST(o_totalprice AS DOUBLE), " +
          "CAST(o_custkey % 5 AS DOUBLE))").as("per_bucket"),
        expr("try_cast(o_orderstatus AS INT)").as("bad_cast"),
        expr("try_cast(CAST(o_orderkey AS STRING) AS INT)").as("good_cast"))
      .orderBy("o_orderkey"),
    Some(
      """SELECT o_orderkey,
        |  CASE WHEN o_custkey % 5 = 0 THEN NULL
        |       ELSE CAST(o_totalprice AS DOUBLE) /
        |            CAST(o_custkey % 5 AS DOUBLE) END AS per_bucket,
        |  TRY_CAST(o_orderstatus AS INTEGER) AS bad_cast,
        |  TRY_CAST(CAST(o_orderkey AS VARCHAR) AS INTEGER) AS good_cast
        |FROM orders WHERE o_orderkey < 400
        |ORDER BY o_orderkey""".stripMargin))

  val all: Seq[QueryDef] = Seq(
    qUnpivot, qExceptAll, qIntersectAll, qPosexplode, qMapFuncs,
    qWindowFrames, qNtile, qCsvRoundtrip, qJsonlRoundtrip, qSampleHash,
    qNullFuncs, qEmbeddingNorm, qStreamStaticJoin,
    qTfidfTop, qBigramLm, qTopTerms, qSlidingWindow, qSessionWindow,
    qStreamDedup, qBloomAnti,
    qStructFuncs, qSequenceExplode, qRegexpAll, qCollectSorted,
    qArrayHof, qLateralSql, qPartitionPruning, qTopkCountAgg,
    qScd2, qCogroup,
    qStreamStreamJoin, qCorrExact, qBitBoolAggs, qArraySetops,
    qFrameSample, qMediaResize, qJoinFullOuter,
    qEditDistance, qDateArith,
    qParseUrl, qHistogram, qCondAggs, qStratifiedSample,
    qSubqueries, qUpsertMerge, qForwardFill, qZorder, qDedupEmbedding,
    qWindowNav, qExplodeOuter, qSweepline, qPipelineLlm, qFromCsv,
    qSourceV2, qRedact, qRepetition, qHeavyHitters, qMovingMedian,
    qListagg, qTryArith)
}
