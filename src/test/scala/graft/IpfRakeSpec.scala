package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.R96Queries

/** q_ipf's rake step in exact integer arithmetic: `(p - p % ms) / ms`
  * for `p = w * tgt` is an exact quotient, but `p` reaches ~2e16 —
  * past 2^53 — where a DOUBLE division lands just under it and a
  * truncating cast loses one (the oracle's DuckDB cast rounds instead,
  * so 10 of q_ipf's 25 rows differed at sf0.1). */
class IpfRakeSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("rakedWeight is the exact integer quotient for products above 2^53") {
    val cases = Seq(
      // w * tgt = 312972684138998172 > 2^53: the double quotient is
      // 751566743123.99..., which truncates to ...123
      (600161973L, 521480364L, 416427L),
      (100000L * 9L, 2000000000L * 11L, 3L),
      (7L, 11L, 5L))
    cases.foreach { case (w, tgt, ms) =>
      assert(BigInt(w) * tgt > BigInt(2).pow(53) || w * tgt < 1000L)
    }
    val got = cases.toDF("w", "tgt", "ms")
      .select(R96Queries.rakedWeight(col("w"), col("tgt"), col("ms")).as("nw"))
      .as[Long].collect().toSeq
    val want = cases.map { case (w, tgt, ms) =>
      val p = BigInt(w) * tgt
      ((p - p % ms) / ms).toLong
    }
    assert(got == want)
    assert(got.head == 751566743124L)
  }
}
