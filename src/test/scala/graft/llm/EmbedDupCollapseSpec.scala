package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Row-set identity of the exact-duplicate collapse in front of the
  * near-dup LSH ([[Similarity.nearDupWithDupCollapse]]) vs the
  * direct construction, on a corpus PLANTED with heavy duplicate
  * mass — the shape that made the direct construction's candidate
  * multiset explode at the ×1000 probe (dup pairs × bands).
  */
class EmbedDupCollapseSpec extends SparkSpec {

  test("collapse + expand equals the direct construction on a duplicated corpus") {
    val base = graft.Tables.embeddings(spark, sf001)
    val n = base.agg(max(col("vec_id"))).head.getLong(0) + 1L
    // every vector appears 3x (ids shifted): 3 identical members per
    // group, all within-group pairs + 9x the cross-group expansion
    val dup = base
      .unionAll(base.withColumn("vec_id", col("vec_id") + lit(n)))
      .unionAll(base.withColumn("vec_id", col("vec_id") + lit(2 * n)))
    val (bands, r, t) = (16, 9, 2)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(x => (x.getLong(0), x.getLong(1), math.round(x.getDouble(2) * 1e9)))
      .toSet
    val direct = rows(Similarity.nearDupPairsMultiProbe(dup, bands, r, t))
    val collapsed = rows(Similarity.nearDupWithDupCollapse(dup, bands, r, t))
    assert(collapsed == direct,
      s"collapse-only: ${(collapsed -- direct).take(5)}; " +
        s"direct-only: ${(direct -- collapsed).take(5)}")
    // the duplicate structure is really exercised: every one of the
    // 3n within-group pairs (3 per base vector) is present
    val within = collapsed.count { case (a, b, _) => (b - a) % n == 0 }
    assert(within == 3 * n, s"expected ${3 * n} within-group pairs, got $within")
  }
}
