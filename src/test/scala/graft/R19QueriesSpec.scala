package graft

import java.nio.file.Files
import java.security.MessageDigest

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Nineteenth-wave pins that the DuckDB oracle cannot express:
  *
  *  - the chained-agg streaming query genuinely runs TWO stateful
  *    operators (a collapsed/planner-merged variant would still pass
  *    the value check), and flushes exact results through both on a
  *    controlled fixture;
  *  - the weighted sampler's md5 → hex-fold → -ln(u)/w chain matches a
  *    full INDEPENDENT JVM reimplementation (guards the shared SQL
  *    fragment against silent drift on either engine);
  *  - substring-dedup per-row invariants.
  */
class R19QueriesSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  val sf = "/root/testdata/sf0.001"

  test("chained windowed aggregation runs two stateful operators and flushes exactly") {
    // t0 on a 15-minute epoch boundary so window starts are predictable
    val t0 = 1699999200L // seconds; 1699999200 % 900 == 0
    def ns(offsetSec: Long): Long = (t0 + offsetSec) * 1000000000L
    val in = Files.createTempDirectory("graft_sca_spec").toString
    Seq(
      (1L, ns(60), 1L, "view"),    // 5-min window t0,   ub 1
      (2L, ns(120), 2L, "view"),   // 5-min window t0,   ub 2
      (3L, ns(360), 1L, "view"),   // 5-min window t0+300, ub 1
      (4L, ns(960), 3L, "view"),   // 5-min window t0+900, ub 3
      (-1L, ns(31536000L), 9L, "view") // sentinel: flush everything
    ).toDF("event_id", "ts", "user_id", "event_type")
      .coalesce(1).write.mode("overwrite").parquet(in)

    val got = graft.core.Tables.streaming(spark) {
      val src = spark.readStream
        .schema("event_id LONG, ts LONG, user_id LONG, event_type STRING")
        .parquet(in)
        .withColumn("ets", timestamp_micros(expr("ts div 1000")))
        .withWatermark("ets", "1 hour")
      val lvl1 = src
        .groupBy(window(col("ets"), "5 minutes"), (col("user_id") % 10).as("ub"))
        .agg(count(lit(1)).as("n"))
      val lvl2 = lvl1
        .groupBy(window(window_time(col("window")), "15 minutes").as("w15"))
        .agg(count(lit(1)).as("n_groups"), sum(col("n")).as("n_events"))
      val q = lvl2.writeStream.outputMode("append")
        .format("memory").queryName("graft_sca_spec_out").start()
      graft.core.Tables.drainStateTo(q, targetRows = 2)
      val stateOps = Option(q.lastProgress).map(_.stateOperators.length)
      q.stop()
      // two distinct state stores, not one planner-merged aggregate
      assert(stateOps.contains(2), s"expected 2 stateful operators, got $stateOps")
      spark.table("graft_sca_spec_out")
        .select(unix_micros(col("w15.start")).as("win_us"),
          col("n_groups").cast("long"), col("n_events").cast("long"))
        .where(col("win_us") < (t0 + 1000000L) * 1000000L)
        .as[(Long, Long, Long)].collect().toSet
    }
    assert(got == Set(
      (t0 * 1000000L, 3L, 3L),          // windows t0 (ub1, ub2) + t0+300 (ub1)
      ((t0 + 900) * 1000000L, 1L, 1L))) // window t0+900 (ub3)
  }

  /** Independent JVM reimplementation of the q_weighted_sample scoring
    * chain (md5 hex digits → 24-bit integer → uniform → -ln(u)/w at
    * 6-decimal HALF_UP), then top-20 per language by (key, doc_id). */
  test("weighted sample equals a full JVM reimplementation of Efraimidis–Spirtakis") {
    val docs = graft.core.Tables.load(spark, sf, "documents")
      .select("doc_id", "lang", "text")
      .as[(Long, String, String)].collect()
    val md = MessageDigest.getInstance("MD5")
    def key(docId: Long, text: String): (Double, Long) = {
      val h = md.digest(s"$docId:ws".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      val hv = h.take(6).foldLeft(0L)((acc, c) =>
        acc * 16 + "0123456789abcdef".indexOf(c))
      val u = (hv + 0.5) / 16777216.0
      // split keeps trailing empty strings — Spark split() semantics
      val w = text.split(" ", -1).length.toDouble
      val k = java.math.BigDecimal.valueOf(-math.log(u) / w)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
      (k, w.toLong)
    }
    val expected = docs.groupBy(_._2).toSeq.flatMap { case (lang, ds) =>
      ds.toSeq
        .map { case (id, _, text) => val (k, w) = key(id, text); (id, k, w) }
        .sortBy { case (id, k, _) => (k, id) }
        .take(20).zipWithIndex
        .map { case ((id, k, w), i) => (lang, i + 1, id, w, k) }
    }.toSet
    val got = SparkEntry.queries("q_weighted_sample")(spark, sf)
      .as[(String, Int, Long, Long, Double)].collect()
      .map { case (lang, rn, id, w, k) => (lang, rn, id, w, k) }.toSet
    assert(got == expected)
  }

  test("substring dedup invariants: counts bounded, flag integer-exact") {
    val rows = SparkEntry.queries("q_substring_dedup")(spark, sf)
      .as[(Long, Long, Long, Double, Boolean)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (id, nGrams, nDup, frac, flagged) =>
      assert(nGrams >= 1, s"doc $id: docs shorter than n tokens must be excluded")
      assert(nDup >= 0 && nDup <= nGrams, s"doc $id: dup count out of range")
      assert(flagged == (nDup * 5 >= nGrams), s"doc $id: flag drifted from 20% rule")
      assert(math.abs(frac - nDup.toDouble / nGrams) < 1e-4)
    }
  }
}
