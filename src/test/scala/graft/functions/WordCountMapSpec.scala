package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

class WordCountMapSpec extends SparkSpec {
  import spark.implicits._

  private def registered = { graft.GraftExtensions.register(spark); spark }

  test("wc_map fans a document out to word-sorted (word, in-doc count) rows") {
    val s = registered
    Seq((1L, "b a b c b"), (2L, ""), (3L, "  \t "),
      // the whitespace edge shapes TokensSpec pins: leading/trailing
      // runs, \u000B and \f separators, an NBSP (not \s) inside a
      // token, a multi-byte token
      (4L, " \u000Bx\fy\u000Bx 日本語\tno\u00A0break 日本語 "))
      .toDF("doc_id", "text").createOrReplaceTempView("wcm_docs")
    val rows = s.sql(
      """SELECT doc_id, word, cnt FROM wcm_docs
        |LATERAL VIEW wc_map(text) t AS word, cnt""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    // doc 1 counted in-generator; empty and whitespace-only docs
    // produce no rows; doc 4's rows are word-sorted by UTF-8 bytes
    assert(rows.toSeq == Seq((1L, "a", 1L), (1L, "b", 3L), (1L, "c", 1L),
      (4L, "no\u00A0break", 1L), (4L, "x", 2L), (4L, "y", 1L),
      (4L, "日本語", 2L)))
  }

  test("SQL-driven mapf wordcount agrees with the DataFrame wordcount globally") {
    val viaSql = graft.jobs.CanonicalJobs.sqlWordcount(spark, sf001)
      .groupBy("word").agg(sum("cnt").as("cnt"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val viaDf = graft.jobs.CanonicalJobs.wordcount(spark, sf001)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(viaSql == viaDf)
  }

  test("null text yields no rows") {
    val s = registered
    Seq((1L, Option("a")), (2L, Option.empty[String]))
      .toDF("doc_id", "text").createOrReplaceTempView("wcm_null_docs")
    val rows = s.sql(
      """SELECT doc_id, word, cnt FROM wcm_null_docs
        |LATERAL VIEW wc_map(text) t AS word, cnt""".stripMargin).collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L))
  }
}
