package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.ext.SimilarityOps
import graft.streaming.StateV2
import graft.queries.Queries.QueryDef

/** Forty-second wave — embedding-truncation evaluation and the
  * ListState streaming primitive.
  *
  *  - `q_matryoshka`: recall@5 of TRUNCATED-dimension cosine rankings
  *    (16 and 32 of 64 dims) against the full-dimension ground truth —
  *    the measurement behind matryoshka-style dimension cuts (how many
  *    dims can the cheap prefilter drop before the shortlist degrades).
  *    One corpus pass computes all three similarities; overlap counts
  *    are exact integers, recalls single divisions.
  *  - `q_stream_ewma`: `transformWithState` with ListState — the third
  *    typed-state primitive (ValueState and MapState shipped in R15) —
  *    holding a bounded rolling window of the K most recent events per
  *    user; the drained stream equals the batch last-K dyadic EWMA
  *    (q_ewma_exact's integer lattice) bit-for-bit, proving the fold is
  *    batch-layout-independent.
  *
  * Scale design: the matryoshka evaluation broadcasts the query side
  * and streams the corpus ONCE (three cosines per row in one
  * projection); rank windows partition per query. ListState keeps
  * per-key state at K rows regardless of stream length, and entries
  * are individual store rows — no opaque-blob rewrite per event.
  */
object R42Queries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  // ---------- q_matryoshka ----------

  private val NQ = 5

  val qMatryoshka = QueryDef("q_matryoshka",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.where(col("vec_id") < NQ)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
      val scored = emb.crossJoin(broadcast(q)).select(
        col("query_id"), col("vec_id"),
        round(SimilarityOps.cosine(col("q_emb"), col("embedding")), 4)
          .as("c64"),
        round(SimilarityOps.cosine(slice(col("q_emb"), 1, 16),
          slice(col("embedding"), 1, 16)), 4).as("c16"),
        round(SimilarityOps.cosine(slice(col("q_emb"), 1, 32),
          slice(col("embedding"), 1, 32)), 4).as("c32"))
      def top(cn: String) = scored
        .withColumn("rn", row_number().over(Window.partitionBy("query_id")
          .orderBy(col(cn).desc, col("vec_id"))))
        .where(col("rn") <= 5).select("query_id", "vec_id")
      val t64 = top("c64")
      val ov16 = t64.join(top("c16"), Seq("query_id", "vec_id"))
        .groupBy("query_id").agg(count(lit(1)).cast("long").as("overlap16"))
      val ov32 = t64.join(top("c32"), Seq("query_id", "vec_id"))
        .groupBy("query_id").agg(count(lit(1)).cast("long").as("overlap32"))
      ov16.join(ov32, "query_id")
        .selectExpr("query_id", "overlap16", "overlap32",
          "CAST(overlap16 AS DOUBLE) / 5.0 AS recall16",
          "CAST(overlap32 AS DOUBLE) / 5.0 AS recall32")
        .orderBy("query_id")
    },
    Some {
      def dots(d: Int) =
        s"""d$d AS (SELECT q.query_id, v.vec_id,
           |    sum(CAST(q.q_emb[i] AS DOUBLE) * CAST(v.embedding[i] AS DOUBLE)) AS dot,
           |    sum(CAST(q.q_emb[i] AS DOUBLE) * CAST(q.q_emb[i] AS DOUBLE)) AS qq,
           |    sum(CAST(v.embedding[i] AS DOUBLE) * CAST(v.embedding[i] AS DOUBLE)) AS vv
           |  FROM q, embeddings v, generate_series(1, $d) t(i)
           |  GROUP BY 1, 2),
           |t$d AS (SELECT query_id, vec_id FROM (
           |    SELECT query_id, vec_id, row_number() OVER (PARTITION BY query_id
           |      ORDER BY round(dot / (sqrt(qq) * sqrt(vv)), 4) DESC, vec_id) AS rn
           |    FROM d$d) WHERE rn <= 5)""".stripMargin
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb
         |           FROM embeddings WHERE vec_id < $NQ),
         |${dots(64)},
         |${dots(16)},
         |${dots(32)},
         |ov16 AS (SELECT query_id, CAST(count(*) AS BIGINT) AS overlap16
         |         FROM t64 JOIN t16 USING (query_id, vec_id) GROUP BY 1),
         |ov32 AS (SELECT query_id, CAST(count(*) AS BIGINT) AS overlap32
         |         FROM t64 JOIN t32 USING (query_id, vec_id) GROUP BY 1)
         |SELECT query_id, overlap16, overlap32,
         |  CAST(overlap16 AS DOUBLE) / 5.0 AS recall16,
         |  CAST(overlap32 AS DOUBLE) / 5.0 AS recall32
         |FROM ov16 JOIN ov32 USING (query_id)
         |ORDER BY query_id""".stripMargin
    })

  // ---------- q_stream_ewma ----------

  private val K = 8

  val qStreamEwma = QueryDef("q_stream_ewma",
    (s, dir) => Tables.streaming(s) {
      Tables.withRocksDbStateStore(s) {
        val stageDir = Tables.stageEventsDir(dir, "graft_sewma_src")
        val tsDiv = Tables.eventsTsDiv(s, dir)
        val src = s.readStream
          .schema("event_id LONG, ts LONG, user_id LONG, event_type STRING, value DOUBLE")
          .parquet(stageDir)
          .where(col("user_id") < 50)
          .selectExpr("user_id", "event_id", s"ts div $tsDiv AS us",
            "CAST(round(value * 100.0) AS BIGINT) AS cents")
        val q = StateV2.rollingEwma(s, src, k = K)
          .writeStream.outputMode("update")
          .format("memory").queryName("graft_sewma_out").start()
        q.processAllAvailable(); q.stop()
        s.table("graft_sewma_out")
          .groupBy("user_id")
          .agg(max(struct(col("seq"), col("n_used"), col("swx"), col("sw")))
            .as("t"))
          .selectExpr("user_id", "t.n_used AS n_used",
            "CAST(t.swx AS DOUBLE) / (CAST(t.sw AS DOUBLE) * 100.0) AS ewma")
          .orderBy("user_id")
      }
    },
    Some(
      s"""WITH ev AS (SELECT user_id, ts, event_id,
         |              CAST(round(value * 100.0) AS BIGINT) AS cents
         |            FROM events WHERE user_id < 50),
         |recent AS (SELECT user_id, cents,
         |             row_number() OVER (PARTITION BY user_id
         |               ORDER BY ts DESC, event_id DESC) AS j
         |           FROM ev QUALIFY j <= $K),
         |wt AS (SELECT user_id, cents, CAST(1 AS BIGINT) << ($K - j) AS wt
         |       FROM recent)
         |SELECT user_id, CAST(count(*) AS BIGINT) AS n_used,
         |  CAST(sum(wt * cents) AS DOUBLE) / (CAST(sum(wt) AS DOUBLE) * 100.0) AS ewma
         |FROM wt GROUP BY user_id ORDER BY user_id""".stripMargin))

  val all: Seq[QueryDef] = Seq(qMatryoshka, qStreamEwma)
}
