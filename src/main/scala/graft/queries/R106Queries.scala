package graft.queries

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}

import graft.core.Tables
import graft.queries.Queries.QueryDef
import graft.sources.MemSinkStore

/** Hundred-sixth wave — justified under the r7
  * no-new-wave-without-new-surface rule (SURVEY §7.2): each query
  * exercises a DSv2 capability the engine had not yet covered.
  *
  *  - `q_stream_sink_dsv2`: the events stream flows through a
  *    complete-mode aggregation into the custom `graft-memsink` DSv2
  *    sink ([[graft.sources.MemSinkStreamingWrite]]): tasks surface
  *    rows only in their commit messages, the driver publishes each
  *    epoch atomically, and a replayed epoch commits as a NO-OP via
  *    the `lastEpoch` ledger — the exactly-once restart contract of
  *    the reference's K1 incremental append sink
  *    (`web_spider_oo.py:123-128`), expressed as engine surface
  *    instead of foreachBatch user code. The final sink contents are
  *    batch-deterministic (complete mode over a finite fixture), so
  *    the result is oracle-hashed like any batch query; the replay
  *    idempotence and abort paths are spec-pinned in
  *    MemSinkStreamingSpec.
  *  - `q_catalog_function`: SQL through the DSv2 FUNCTION CATALOG
  *    ([[graft.catalog.GraftFunctionCatalog]]): the catalog activates
  *    via a runtime conf (lazy instantiation — no session rebuild),
  *    `graft.fns.mix64` / `graft.fns.trunc_div` resolve as
  *    catalog-scoped v2 functions, and their magic-method form codegens
  *    to direct calls. The oracle replays the same closed-form
  *    arithmetic inline — catalog resolution changes WHERE the function
  *    lives, never what it computes.
  *  - `q_source_v2_topn`: `ORDER BY page_id LIMIT n` answered entirely
  *    inside the custom source ([[graft.sources.PagesScanBuilder]]
  *    `SupportsPushDownTopN`/`SupportsPushDownLimit`, r7): the ordered
  *    id range's prefix IS the top-N, so Spark's sort AND limit leave
  *    the plan and rows beyond the prefix are never GENERATED
  *    (PagesSourceSpec pins ≤ n rows produced from a 100k-row table).
  *    The oracle regenerates the same prefix via generate_series.
  */
object R106Queries {

  private val sinkSchema = StructType(Seq(
    StructField("event_type", StringType),
    StructField("n", LongType),
    StructField("total_value", DoubleType)))

  val qStreamSinkDsv2 = QueryDef("q_stream_sink_dsv2",
    // 4 shuffle partitions: the complete-mode agg's state stores are
    // per-partition fixed cost per micro-batch
    (s, dir) => Tables.streaming(s) {
      val stageDir = Tables.stageEventsDir(dir, "graft_dsv2sink_src")
      val key = "q_stream_sink_dsv2_" + math.abs(dir.hashCode)
      MemSinkStore.clear(key)
      val agg = graft.streaming.EventsStream
        .sourceOverNanosFixture(s, stageDir)
        .groupBy(col("event_type"))
        // decimal-exact sum cast to double at the edge — the
        // cross-engine float-parity discipline
        .agg(count(lit(1)).cast("long").as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double")
            .as("total_value"))
      val q = agg.writeStream
        .outputMode("complete")
        .format("graft-memsink").option("key", key)
        // fresh checkpoint per run: a reused one would see "no new
        // data" on rerun and commit nothing into the just-cleared store
        .option("checkpointLocation", java.nio.file.Files
          .createTempDirectory("graft_dsv2sink_ck").toString)
        .start()
      q.processAllAvailable(); q.stop()
      require(MemSinkStore.lastEpoch(key) >= 0L,
        "streaming write committed no epoch")
      val rows = MemSinkStore.get(key).getOrElse(Seq.empty)
        .map(r => Row(r(0), r(1), r(2)))
      s.createDataFrame(s.sparkContext.parallelize(rows, 1), sinkSchema)
        .orderBy("event_type")
    },
    Some(
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin))

  val qSourceV2TopN = QueryDef("q_source_v2_topn",
    (s, dir) => s.read.format("graft-pages")
      .option("rows", "100000").option("parts", "8").load()
      .where(col("page_id") >= 100L)
      .orderBy("page_id").limit(50)
      .select(col("page_id"), col("url")),
    Some(
      """SELECT CAST(g.g AS BIGINT) AS page_id,
        |  'https://site.example/p/' || CAST(g.g AS VARCHAR) AS url
        |FROM generate_series(100, 149) g(g) ORDER BY page_id""".stripMargin))

  val qCatalogFunction = QueryDef("q_catalog_function",
    (s, dir) => {
      s.conf.set("spark.sql.catalog.graft",
        "graft.catalog.GraftFunctionCatalog")
      Tables.load(s, dir, "lineitem").createOrReplaceTempView("li_catfn")
      s.sql(
        """SELECT l_returnflag AS flag,
          |  CAST(count(DISTINCT graft.fns.mix64(l_partkey)) AS BIGINT)
          |    AS n_mix,
          |  CAST(min(graft.fns.mix64(l_partkey)) AS BIGINT) AS min_mix,
          |  CAST(graft.fns.trunc_div(sum(l_partkey), 7L) AS BIGINT)
          |    AS div7
          |FROM li_catfn GROUP BY l_returnflag ORDER BY flag""".stripMargin)
    },
    Some(
      """SELECT l_returnflag AS flag,
        |  CAST(count(DISTINCT ((l_partkey % 32768) * (l_partkey % 32768)
        |    * 2654435761 + l_partkey * 40503) % 4294967296) AS BIGINT)
        |    AS n_mix,
        |  CAST(min(((l_partkey % 32768) * (l_partkey % 32768)
        |    * 2654435761 + l_partkey * 40503) % 4294967296) AS BIGINT)
        |    AS min_mix,
        |  CAST((sum(l_partkey) - sum(l_partkey) % 7) / 7 AS BIGINT) AS div7
        |FROM lineitem GROUP BY l_returnflag ORDER BY flag""".stripMargin))

  val all: Seq[QueryDef] = Seq(qStreamSinkDsv2, qSourceV2TopN,
    qCatalogFunction)
}
