package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.ext.{DedupOps, GraphOps}
import graft.queries.Queries.QueryDef

/** Tenth wave — quality-weighted dedup survivors and grouping
  * introspection:
  *
  *  - `q_dedup_survivor`: the keep-BEST-per-cluster step of the dedup
  *    pipeline. `q_dedup_canonical` keeps the min-id doc; production
  *    pipelines keep the highest-quality member — here the longest doc
  *    (token count), tie-broken by id, selected with one ranked window
  *    over the connected components. Oracle re-derives the identical
  *    clusters via the shared recursive-CTE closure.
  *  - `q_grouping_id`: grouping()/grouping_id() introspection over a
  *    ROLLUP — how a consumer tells subtotal rows from data rows whose
  *    grouping column is genuinely NULL. Same SQL text on both engines.
  */
object R10Queries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  val qDedupSurvivor = QueryDef("q_dedup_survivor",
    (s, dir) => {
      val pairs = DedupOps.overlapPairs(
        ExtQueries.shingled(s, dir, 80), "doc_id")
      val comp = GraphOps.connectedComponents(s, pairs)
      val toks = t(s, dir, "documents").where(col("doc_id") < 80)
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("tok"))
      val j = comp.join(toks, col("node") === col("doc_id"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("component").orderBy(col("tok").desc, col("node"))))
      j.groupBy("component")
        .agg(count(lit(1)).cast("long").as("n_docs"),
          max("tok").cast("long").as("max_tok"),
          min(when(col("rn") === 1, col("node"))).as("survivor"))
        .orderBy("component")
    },
    Some(
      s"""WITH RECURSIVE ${ExtQueries.triSql(80)},
         |pairs AS (SELECT a.doc_id AS a, b.doc_id AS b FROM tri a
         |          JOIN tri b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |          GROUP BY 1, 2),
         |${ExtQueries.closureSql},
         |comp AS (SELECT node, min(other) AS component FROM reach GROUP BY node),
         |toks AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS tok
         |         FROM documents WHERE doc_id < 80),
         |j AS (SELECT c.component, c.node, t.tok,
         |        row_number() OVER (PARTITION BY c.component
         |                           ORDER BY t.tok DESC, c.node) AS rn
         |      FROM comp c JOIN toks t ON t.doc_id = c.node)
         |SELECT component, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(max(tok) AS BIGINT) AS max_tok,
         |       min(CASE WHEN rn = 1 THEN node END) AS survivor
         |FROM j GROUP BY component ORDER BY component""".stripMargin))

  private val groupingIdSql =
    """SELECT CAST(grouping(o_orderstatus) AS INT) AS g_status,
      |       CAST(grouping(o_orderpriority) AS INT) AS g_prio,
      |       CAST(grouping_id(o_orderstatus, o_orderpriority) AS INT) AS gid,
      |       o_orderstatus, o_orderpriority,
      |       CAST(count(*) AS BIGINT) AS n
      |FROM orders
      |GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
      |ORDER BY gid, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin

  val qGroupingId = QueryDef("q_grouping_id",
    (s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("orders")
      s.sql(groupingIdSql)
    },
    Some(groupingIdSql))

  /** Named WINDOW clause: two frames share one PARTITION BY/ORDER BY
    * definition — one shuffle feeds both window functions. Same SQL
    * text on both engines. */
  private val windowClauseSql =
    """SELECT o_custkey, o_orderkey,
      |  CAST(row_number() OVER w AS BIGINT) AS rn,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER w2 AS DOUBLE) AS run_total
      |FROM orders
      |WHERE o_custkey < 20
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
      |       w2 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |ORDER BY o_custkey, rn""".stripMargin

  val qWindowClause = QueryDef("q_window_clause",
    (s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("orders")
      s.sql(windowClauseSql)
    },
    Some(windowClauseSql))

  /** approx_percentile (Greenwald-Khanna sketch): rows-only — the
    * sketch's picks are engine-specific; RowsOnlyContractSpec pins them
    * to within 2% of the exact percentile. The exact column rides along
    * for self-documenting comparison. */
  val qApproxPercentile = QueryDef("q_approx_percentile",
    (s, dir) => t(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(approx_percentile(col("l_extendedprice"), lit(0.5), lit(10000))
          .as("p50_approx"),
        expr("percentile_cont(0.5) WITHIN GROUP (ORDER BY l_extendedprice)")
          .as("p50_exact"))
      .orderBy("l_returnflag"),
    None)

  /** Crawl-as-stream end to end: the custom DSv2 micro-batch source
    * (admission-controlled, 1000 pages per trigger) feeds the REAL href
    * extraction path (`LinkOps.extractHrefs` regexp + explode) and a
    * streaming aggregation in complete mode. The finite deterministic
    * page graph drains in 2 batches (r7 trim: micro-batch startup is
    * pure fixed cost and the admission contract only needs >1 trigger;
    * the result is batching-invariant and the oracle regenerates the
    * same outlink distribution arithmetically via generate_series). */
  val qCrawlStream = QueryDef("q_crawl_stream",
    (s, dir) => graft.core.Tables.streaming(s) {
      val q = s.readStream.format("graft-pages")
        .option("rows", "2000").option("parts", "4")
        .option("batchRows", "1000").load()
        .select(explode(graft.core.LinkOps.extractHrefs(col("html")))
          .as("href"))
        .groupBy("href").agg(count(lit(1)).cast("long").as("n"))
        .writeStream.outputMode("complete")
        .format("memory").queryName("graft_crawl_stream").start()
      q.processAllAvailable(); q.stop()
      s.table("graft_crawl_stream").orderBy("href")
    },
    Some(
      """WITH p AS (SELECT unnest(generate_series(0, 1999)) AS i),
        |h AS (SELECT i, '/p/' || CAST((2*i+1) % 2000 AS VARCHAR) AS a,
        |             '/p/' || CAST((3*i+2) % 2000 AS VARCHAR) AS b FROM p),
        |x AS (SELECT a AS href FROM h UNION ALL SELECT b AS href FROM h)
        |SELECT href, CAST(count(*) AS BIGINT) AS n
        |FROM x GROUP BY href ORDER BY href""".stripMargin))

  /** zip_with pairwise vector arithmetic: elementwise sum of two
    * embeddings folded to an L2 norm with `aggregate` — the in-order
    * fold matches DuckDB's generate_series-ordered sum (the q_knn_cosine
    * parity discipline); each element widens to DOUBLE before adding on
    * both engines. */
  val qZipWith = QueryDef("q_zip_with",
    (s, dir) => {
      val e = t(s, dir, "embeddings").where(col("vec_id") < 50)
      val a = e.select(col("vec_id").as("a_id"), col("embedding").as("ea"))
      val b = e.select(col("vec_id").as("b_id"), col("embedding").as("eb"))
      a.join(b, col("b_id") === col("a_id") + 25)
        .select(col("a_id"), col("b_id"),
          sqrt(aggregate(
            zip_with(col("ea"), col("eb"),
              (x, y) => x.cast("double") + y.cast("double")),
            lit(0.0), (acc, v) => acc + v * v)).as("norm_sum"))
        .orderBy("a_id")
    },
    Some(
      """WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 50),
        |p AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        |             a.embedding AS ea, b.embedding AS eb
        |      FROM e a JOIN e b ON b.vec_id = a.vec_id + 25),
        |s AS (SELECT a_id, b_id,
        |        sum((CAST(ea[i] AS DOUBLE) + CAST(eb[i] AS DOUBLE))
        |          * (CAST(ea[i] AS DOUBLE) + CAST(eb[i] AS DOUBLE))) AS ss
        |      FROM p, generate_series(1, 64) t(i) GROUP BY a_id, b_id)
        |SELECT a_id, b_id, sqrt(ss) AS norm_sum FROM s ORDER BY a_id""".stripMargin))

  val all: Seq[QueryDef] = Seq(qDedupSurvivor, qGroupingId, qWindowClause,
    qApproxPercentile, qCrawlStream, qZipWith)
}
