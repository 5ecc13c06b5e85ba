package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.functions.col

/** The self-defending near-dup entry point (VERDICT r14 item 8): the
  * registered query projects its candidate mass at plan time from
  * the rep count and the chosen dial, and REFUSES past its
  * `maxCandidateRows` budget — turning the r14 "DNF on sandbox disk
  * hours in" failure mode into an immediate, remediable error.
  */
class NearDupMassGuardSpec extends SparkSpec {

  // measured junk keep-rate of the SQ8 pre-gate on the isotropic
  // synthetic corpus: 0.117 at 1M reps (round-15 CandidateMassProbe
  // grid, BASELINE.md)
  private val NearDupGateKeep = 0.12

  test("projection model: the r15 rule's mass grows ~n^1.5, not n^2") {
    def massAt(n: Long): Double = {
      val (b, r, t) = Similarity.nearDupRepDialFor(n)
      Similarity.nearDupProjectedCandidates(n, b, r, t) *
        NearDupGateKeep
    }
    val m1 = massAt(1000000L)
    val m10 = massAt(10000000L)
    val m100 = massAt(100000000L)
    val m1000 = massAt(1000000000L)
    // a decade of corpus growth may cost at most ~10^1.75 in mass
    // (the 2-bit band-doubling granularity wobbles a single decade
    // between ~25x and ~50x around the n^1.5 mean); two decades must
    // land at ~10^3, nowhere near the capped rule's 10^4
    assert(m10 / m1 < 55.0, s"1M->10M mass ratio ${m10 / m1} is not ~n^1.5")
    assert(m100 / m10 < 55.0, s"10M->100M mass ratio ${m100 / m10} is not ~n^1.5")
    assert(m100 / m1 < 1600.0, s"1M->100M ${m100 / m1} is not ~n^1.5")
    assert(m1000 / m10 < 1600.0, s"10M->1B ${m1000 / m10} is not ~n^1.5")
    // and the 100M-rep point exceeds the DEFAULT budget: a corpus
    // past the single-box regime refuses out of the box instead of
    // dying on shuffle disk — the "past-the-cap corpus fires" half
    // of the r14 item, asserted on the projection the guard uses
    val (b, r, t) = Similarity.nearDupRepDialFor(1000000000L)
    assert(Similarity.nearDupProjectedCandidates(1000000000L, b, r, t) *
      NearDupGateKeep > 1e11,
      "1B reps must project past the default budget")
  }

  test("guard fires past the candidate budget and names the remedies") {
    val e = intercept[IllegalStateException] {
      Similarity.embeddingNearDup(spark, sf001, maxCandidateRows = 1000).count()
    }
    assert(e.getMessage.contains("maxCandidateRows"))
    assert(e.getMessage.contains("pre-bucket"))
    // under the default budget the registered query runs the rep
    // dial, row for row
    val emb = graft.Tables.embeddings(spark, sf001)
      .select(col("vec_id"), col("embedding"))
    val reps = emb.select(col("embedding")).distinct().count()
    val (b, r, t) = Similarity.nearDupRepDialFor(reps)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getDouble(2)))
      .sortBy(x => (x._1, x._2)).toSeq
    val registered = rows(Similarity.embeddingNearDup(spark, sf001))
    assert(registered.nonEmpty)
    assert(registered == rows(Similarity.nearDupWithDupCollapse(emb, b, r, t)))
  }
}
