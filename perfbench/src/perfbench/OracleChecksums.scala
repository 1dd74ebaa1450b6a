package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** Folds the benchmark's result checksum over two parquet results of the
  * same query: graft's (a `graft.Verify` dump) and the oracle's (DuckDB's
  * result of the query's oracle SQL). The oracle's columns are taken in the
  * order and with the types of graft's result, so a row the two agree on
  * value for value hashes the same; the oracle checksum can then stand as
  * the expected result where graft's own result is wrong.
  *
  * {{{
  * perfbench.OracleChecksums PLAN OUT
  * }}}
  *
  * PLAN has one `name\tgraftDir\toracleFile` line per query; OUT gets one
  * JSON line per query with both checksums, as `[rows, "sum", xor]`. */
object OracleChecksums {
  def main(argv: Array[String]): Unit = {
    val Array(plan, out) = argv
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def js(c: (Long, String, Long)): String = s"""[${c._1},"${c._2}",${c._3}]"""
    val lines = Files.readAllLines(Paths.get(plan), UTF_8).toArray.toSeq.map(_.toString)
    val results = lines.map(_.split("\t")).map { case Array(name, graftDir, oracleFile) =>
      val graft = spark.read.parquet(graftDir)
      val oracle = spark.read.parquet(oracleFile)
      val aligned = oracle.select(graft.schema.fields.toSeq.map { f =>
        col(s"`${f.name}`").cast(f.dataType).as(f.name)
      }: _*)
      s"""{"name":"$name","graft":${js(Main.checksum(graft))},""" +
        s""""oracle":${js(Main.checksum(aligned))}}"""
    }
    spark.stop()
    Files.write(Paths.get(out), results.mkString("", "\n", "\n").getBytes(UTF_8))
  }
}
