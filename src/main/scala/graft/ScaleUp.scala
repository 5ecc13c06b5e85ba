package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Synthesizes a larger corpus from an existing sfDir for local scale
  * smoke tests (BASELINE.md's linearity check): documents, embeddings
  * and lineitem are expanded `factor`× with shifted keys; every other
  * table is copied through, so any registered query runs unchanged
  * against the output dir.
  *
  * Document copies get every TOKEN suffixed with a copy tag ("_k"),
  * which makes each copy a fully DISTINCT document (shingle/token
  * overlap 0 across copies) while preserving the within-copy near-dup
  * structure — naive duplication would hand the dedup queries a
  * corpus where every doc has factor-1 near-identical twins and the
  * candidate-pair count would grow by construction (quadratically in
  * factor), which measures the synthetic data, not the algorithm.
  * Embedding copies are rotated one float right per copy step (norms
  * and pairwise within-copy geometry preserved, cross-copy cosines
  * scrambled) for the same reason.
  *
  * Usage: ScaleUp <srcSfDir> <dstDir> <factor>
  */
object ScaleUp {

  /** (uShift, eShift) for [[shiftedCopies]]: one past the max ids. */
  def eventShifts(ev: DataFrame): (Long, Long) = (
    ev.agg(max(col("user_id"))).head.getLong(0) + 1L,
    ev.agg(max(col("event_id"))).head.getLong(0) + 1L)

  /** Copy k of the events frame for every k in `ks`, with user_id and
    * event_id shifted by k·shift so keys stay globally unique and the
    * time range is preserved — the one id-shift scale-up block shared
    * by this corpus builder and HotHubGraphSpec's planted hub corpus.
    */
  def shiftedCopies(ev: DataFrame, uShift: Long, eShift: Long,
      ks: Range): DataFrame =
    ks.map { k =>
      ev.withColumn("user_id", col("user_id") + lit(k * uShift))
        .withColumn("event_id", col("event_id") + lit(k * eShift))
    }.reduce(_ unionAll _)

  def main(args: Array[String]): Unit = {
    val (src, dst, factor) = (args(0), args(1), args(2).toInt)
    require(factor >= 1)
    val spark = GraftSession.local()

    def copies(base: DataFrame)(one: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until factor).map(k => one(base, k)).reduce(_ unionAll _)

    for (t <- Seq("region", "nation", "customer", "supplier", "part")) {
      val p = s"$src/$t.parquet"
      if (new java.io.File(p).exists())
        spark.read.parquet(p).write.mode("overwrite").parquet(s"$dst/$t.parquet")
    }
    // events carries TIMESTAMP(NANOS) — route through the loader that
    // rewrites ts to micros (Tables.events), so the copy reads back
    // through the normal path. Copies shift user_id and event_id
    // (10× the user population, same time range — the realistic way
    // traffic grows; shifting ts instead would just stretch the hour
    // spine), preserving each user's session/transition structure.
    val ev = Tables.events(spark, src)
    val (uShift, eShift) = eventShifts(ev)
    shiftedCopies(ev, uShift, eShift, 0 until factor)
      .write.mode("overwrite").parquet(s"$dst/events.parquet")

    val docs = spark.read.parquet(s"$src/documents.parquet")
    val docShift = docs.agg(max(col("doc_id"))).head.getLong(0) + 1L
    copies(docs) { (d, k) =>
      val text = if (k == 0) col("text")
        else concat_ws(" ", transform(graft.llm.TextAnalysis.tokensCol,
          t => concat(t, lit(s"_$k"))))
      d.select((col("doc_id") + lit(k * docShift)).as("doc_id"),
        text.as("text"), col("lang"), col("source"),
        length(text).cast("long").as("n_chars"))
    }.write.mode("overwrite").parquet(s"$dst/documents.parquet")

    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    val vecShift = emb.agg(max(col("vec_id"))).head.getLong(0) + 1L
    copies(emb) { (e, k) =>
      val dim = size(col("embedding"))
      val rotated = if (k == 0) col("embedding")
        else concat(
          slice(col("embedding"), dim - lit(k % 16) + 1, lit(k % 16)),
          slice(col("embedding"), lit(1), dim - lit(k % 16)))
      e.select((col("vec_id") + lit(k * vecShift)).as("vec_id"),
        rotated.as("embedding"), col("label"))
    }.write.mode("overwrite").parquet(s"$dst/embeddings.parquet")

    // orders and lineitem scale TOGETHER with one shared orderkey
    // shift, so the order/lineitem join relationship survives the
    // scale-up (copying orders through unscaled would leave the
    // lineitem copies dangling and turn every TPC-H join probe into
    // a scan probe). Dimension keys (cust/part/supp) stay fixed —
    // 100× orders per customer is how real traffic grows, same as
    // events' shifted user population.
    val li = spark.read.parquet(s"$src/lineitem.parquet")
    val ord = spark.read.parquet(s"$src/orders.parquet")
    val okShift = math.max(
      li.agg(max(col("l_orderkey"))).head.getLong(0),
      ord.agg(max(col("o_orderkey"))).head.getLong(0)) + 1L
    copies(ord) { (o, k) =>
      o.withColumn("o_orderkey", col("o_orderkey") + lit(k * okShift))
    }.write.mode("overwrite").parquet(s"$dst/orders.parquet")
    copies(li) { (l, k) =>
      l.withColumn("l_orderkey", col("l_orderkey") + lit(k * okShift))
    }.write.mode("overwrite").parquet(s"$dst/lineitem.parquet")

    println(s"scaled $src -> $dst x$factor")
    spark.stop()
  }
}
