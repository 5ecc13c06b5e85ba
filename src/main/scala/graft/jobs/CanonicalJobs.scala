package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.llm.TextAnalysis

/** The reference's canonical MapReduce jobs, Spark-first.
  *
  * The reference (rsyjswy23/6.824_MapReduce_system) runs user plugins
  * through map → hash-shuffle → sort → group → reduce
  * (worker.go:92-171). Its flagship job is word count, worked end to
  * end in README.MD:25-53 (case-preserving tokens); inverted index,
  * grep and sort are the standard 6.824/MapReduce-paper app set
  * (README.MD:5,82). Here each job is a declarative DataFrame query:
  * Catalyst inserts the hash-partition shuffle the reference hand-rolls
  * (worker.go:105-110) and picks partial+final hash aggregation, which
  * strictly improves on the reference's no-combiner sort-based reduce
  * (worker.go:153-165).
  *
  * Scale notes: tokenization is `explode(tokens(...))` — the fused
  * [[graft.functions.Tokens]] byte scan under a Generate, no UDF; the
  * only shuffle is the final groupBy on the token key, with map-side
  * partial aggregation shrinking it to |vocab| per partition. At
  * 100 TB this is scan-bound, as it should be.
  */
object CanonicalJobs {

  /** Tokenize `documents.text` on whitespace, one row per token.
    * Case-preserving per README.MD:31 ("Hello" stays "Hello").
    * The shared tokenizer emits no blank tokens, which mirrors the
    * reference's empty-line skip (worker.go:144-146).
    */
  def tokens(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), explode(TextAnalysis.tokensCol).as("word"))

  /** Word count — the flagship job (README.MD:25-53). */
  def wordcount(spark: SparkSession, sfDir: String): DataFrame =
    tokens(spark, sfDir).groupBy("word").agg(count(lit(1)).as("cnt"))

  /** Inverted index: word → comma-joined sorted distinct doc ids.
    * String-joined (not array) so the DuckDB oracle compares exactly.
    *
    * The index only needs DISTINCT (word, doc) pairs, so tokens are
    * deduplicated per document with a per-row `array_distinct` BEFORE
    * the explode: the aggregate's input shrinks from every token
    * occurrence to each document's vocabulary (~30× here) — the
    * map-side-combine discipline applied one step earlier than the
    * aggregation can do it.
    */
  def invertedIndex(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        explode(array_distinct(TextAnalysis.tokensCol)).as("word"))
      .groupBy("word")
      // single collect_set aggregate; n_docs = size of the same set.
      // (collect_set + countDistinct together would plan an Expand
      // double-aggregation — two passes over the token stream.)
      .agg(sort_array(collect_set(col("doc_id"))).as("ids"))
      .select(col("word"),
        concat_ws(",", col("ids")).as("doc_ids"),
        size(col("ids")).cast("long").as("n_docs"))

  /** Distributed grep: documents whose text matches a pattern
    * (filter inside map in the reference idiom — §2.3 of SURVEY.md).
    */
  def grep(spark: SparkSession, sfDir: String, pattern: String = "hash join"): DataFrame =
    Tables.documents(spark, sfDir)
      .filter(col("text").rlike(pattern))
      .select(col("doc_id"), col("lang"), col("source"))

  /** Word count per document, driven ENTIRELY from SQL through the
    * registered [[graft.functions.WordCountMap]] generator — the
    * UDTF face of the reference's `mapf` plugin surface
    * (worker.go:31): `LATERAL VIEW wc_map(text)` fans each document
    * out to its (word, in-doc count) rows with the within-document
    * combine folded into the generator, so the only shuffle a
    * downstream global aggregate would need starts from per-doc
    * combined counts. Registered via [[graft.GraftExtensions]].
    */
  def sqlWordcount(spark: SparkSession, sfDir: String): DataFrame = {
    graft.GraftExtensions.register(spark)
    Tables.documents(spark, sfDir).createOrReplaceTempView("graft_mapf_docs")
    spark.sql(
      """SELECT doc_id, word, cnt
        |FROM graft_mapf_docs
        |LATERAL VIEW wc_map(text) t AS word, cnt""".stripMargin)
  }

  /** Distributed sort: total order over (lang, n_chars desc, doc_id).
    * Spark plans a range-partitioned exchange + per-partition sort —
    * the scalable TeraSort shape (samples ranges, no single-reducer
    * bottleneck), vs the reference's per-partition-only sort
    * (worker.go:153, README.MD:43-53).
    */
  def sortDocs(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy(col("lang").asc, col("n_chars").desc, col("doc_id").asc)
}
