package graft.llm

import graft.SparkSpec

/** Direct tests for the distributed large-star/small-star connected
  * components (the >1M-edge path of dedup clustering): log-round
  * convergence on a long chain — the diameter-bound killer for naive
  * label propagation — and exact agreement with an independent
  * union-find on pseudo-random graphs.
  */
class ConnectedComponentsSpec extends SparkSpec {

  private def labelsOf(pairs: Seq[(Long, Long)], maxRounds: Int = 30): Map[Long, Long] = {
    import spark.implicits._
    Dedup.largeSmallStarCC(pairs.toDF("doc_a", "doc_b"), maxRounds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  /** Independent reference: textbook union-find with min-label roots. */
  private def refComponents(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      r
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    pairs.flatMap(p => Seq(p._1, p._2)).distinct.map(n => n -> find(n)).toMap
  }

  test("a diameter-120 chain converges in log-bounded rounds to one component") {
    // label propagation needs 120 rounds here (and the old code's cap
    // of 50 made it FAIL); large/small-star must finish in <= 8
    val chain = (0L until 120L).map(i => (i, i + 1))
    val got = labelsOf(chain, maxRounds = 8)
    assert(got.keySet == (0L to 120L).toSet)
    assert(got.values.forall(_ == 0L), "every chain node labels to the min")
  }

  test("star-forest input is recognized as converged immediately") {
    val star = (1L to 40L).map(i => (0L, i))
    val got = labelsOf(star, maxRounds = 1)
    assert(got.values.forall(_ == 0L) && got.keySet == (0L to 40L).toSet)
  }

  test("agrees exactly with union-find on pseudo-random graphs") {
    val rnd = new scala.util.Random(1234)
    for (trial <- 1 to 3) {
      val n = 200 + trial * 100
      val pairs = Seq.fill(n)(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(p => p._1 != p._2)
      assert(labelsOf(pairs) == refComponents(pairs), s"trial $trial diverged")
    }
  }

  test("empty edge set yields empty labels") {
    assert(labelsOf(Seq.empty).isEmpty)
  }

  test("dedupClusters forced onto the distributed CC path matches the driver path") {
    val got = Dedup.dedupClusters(spark, sf001, maxDriverEdges = 0L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    val want = Dedup.dedupClusters(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(got == want)
  }
}
