package graft.queries

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.core.Tables
import graft.queries.Queries.QueryDef

/** Twenty-eighth wave — storage-level co-location and streaming
  * incremental view maintenance.
  *
  *  - `q_spj`: storage-partitioned join — both sides are DSv2 sources
  *    REPORTING `KeyGroupedPartitioning` ([[graft.sources.KeyedSource]]),
  *    so the join plans with ZERO Exchange (KeyedSourceSpec pins it).
  *    Bucketing pays the join's shuffle once at write; SPJ never pays
  *    it — the table layout IS the distribution. This is the
  *    Iceberg/Delta co-location contract, exercised end-to-end under
  *    the DuckDB oracle via the source's deterministic row formula.
  *  - `q_stream_ivm`: incremental materialized view — a file stream
  *    consumed micro-batch by micro-batch, each batch's PARTIAL
  *    aggregate MERGEd into a live Derby table (insert-or-update), the
  *    production foreachBatch upsert topology. The maintained view must
  *    equal the batch recompute — which is exactly what the oracle
  *    checks.
  */
object R28Queries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  // ---------- q_spj ----------

  /** SPJ: per-key revenue-ish sums from two independently-generated
    * keyed tables, joined on the reported partition key. The oracle
    * rebuilds both formula tables with generate_series — the custom
    * source's values sit under the same bit-exact gate as parquet-backed
    * queries. */
  val qSpj = QueryDef("q_spj",
    (s, dir) => {
      s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      def keyed(mult: Long) = s.read.format("graft-keyed")
        .option("groups", 8).option("rowsPerGroup", 200)
        .option("mult", mult).load()
      val a = keyed(31).groupBy("k")
        .agg(sum("v").as("sa"), count(lit(1)).as("na"))
      val b = keyed(57).groupBy("k")
        .agg(sum("v").as("sb"))
      a.join(b, "k").select(col("k"), col("na"), col("sa"), col("sb"))
        .orderBy("k")
    },
    Some(
      """WITH a AS (
        |  SELECT g.g AS k, (g.g * 31 + 7 * i.i) % 1000 AS v
        |  FROM range(0, 8) g(g), range(0, 200) i(i)
        |), b AS (
        |  SELECT g.g AS k, (g.g * 57 + 7 * i.i) % 1000 AS v
        |  FROM range(0, 8) g(g), range(0, 200) i(i)
        |), aa AS (
        |  SELECT k, CAST(sum(v) AS BIGINT) AS sa, CAST(count(*) AS BIGINT) AS na
        |  FROM a GROUP BY k
        |), bb AS (SELECT k, CAST(sum(v) AS BIGINT) AS sb FROM b GROUP BY k)
        |SELECT aa.k, aa.na, aa.sa, bb.sb
        |FROM aa JOIN bb ON aa.k = bb.k ORDER BY aa.k""".stripMargin))

  // ---------- q_stream_ivm ----------

  /** Streaming IVM: events (user_id < 50) staged as 2 deterministic
    * micro-batch files (r7 trim from 4: two batches already exercise
    * BOTH merge paths — INSERT on first sight, UPDATE on the second —
    * and each extra trigger is a fixed JDBC round-trip); each
    * foreachBatch computes the batch's partial (count, DECIMAL sum)
    * per user and MERGEs it into the Derby view (UPDATE on match,
    * INSERT otherwise). The view's final state is read back through
    * JDBC and must equal the one-shot batch aggregate — the IVM
    * correctness contract.
    *
    * Scale shape: per batch, the stream side reduces to a per-user
    * partial BEFORE touching the store (map-side combine discipline);
    * the MERGE touches only keys present in the batch. At 100 TB the
    * Derby URL becomes a warehouse MERGE target (Delta/Iceberg/JDBC) —
    * same topology, same per-batch cost. */
  val qStreamIvm = QueryDef("q_stream_ivm",
    (s, dir) => Tables.streaming(s) {
      val d2t = DecimalType(18, 2)
      val ev = Tables.events(s, dir).where(col("user_id") < 50)
        .select(col("event_id"), col("user_id"),
          col("value").cast(d2t).as("value"))
      val stage = Files.createTempDirectory("graft_ivm_in").toString
      for (b <- 0 until 2)
        ev.where(col("event_id") % 2 === b)
          .coalesce(1).write.mode("append").parquet(stage)

      val dbDir = Files.createTempDirectory("graft_ivm_db").toString
      val url = s"jdbc:derby:$dbDir/ivm;create=true"
      val conn = java.sql.DriverManager.getConnection(url)
      conn.createStatement().executeUpdate(
        """CREATE TABLE user_view (
          |  user_id BIGINT PRIMARY KEY, n BIGINT NOT NULL,
          |  total DECIMAL(18,2) NOT NULL)""".stripMargin)

      val q = s.readStream
        .schema("event_id LONG, user_id LONG, value DECIMAL(18,2)")
        .option("maxFilesPerTrigger", "1")
        .parquet(stage)
        .writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          batch.groupBy("user_id")
            .agg(count(lit(1)).as("n"), sum("value").as("total"))
            .write.format("jdbc").option("url", url)
            .option("dbtable", "ivm_stage")
            .mode(org.apache.spark.sql.SaveMode.Overwrite).save()
          // Spark's JDBC writer creates QUOTED lowercase columns while
          // Derby canonicalizes the unquoted DDL above to uppercase —
          // quote the staging side, leave the target unquoted
          conn.createStatement().executeUpdate(
            """MERGE INTO user_view t USING ivm_stage s
              |ON t.user_id = s."user_id"
              |WHEN MATCHED THEN UPDATE
              |  SET t.n = t.n + s."n", t.total = t.total + s."total"
              |WHEN NOT MATCHED THEN
              |  INSERT (user_id, n, total)
              |  VALUES (s."user_id", s."n", s."total")""".stripMargin)
          ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
      require(!q.isActive, "IVM stream did not drain in time")
      conn.close()

      s.read.format("jdbc").option("url", url)
        .option("dbtable", "user_view").load()
        .select(col("user_id").cast("long").as("user_id"),
          col("n").cast("long").as("n"),
          col("total").cast("double").as("total"))
        .orderBy("user_id")
    },
    Some(
      """SELECT user_id, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM events WHERE user_id < 50
        |GROUP BY user_id ORDER BY user_id""".stripMargin))

  val all: Seq[QueryDef] = Seq(qSpj, qStreamIvm)
}
