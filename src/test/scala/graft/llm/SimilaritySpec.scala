package graft.llm

import graft.SparkSpec
import graft.functions.CosineSim.cosine_sim
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {

  test("cosine_sim expression: exact values, nulls, zero norm") {
    import spark.implicits._
    val df = Seq(
      (Array(1.0f, 0.0f), Array(1.0f, 0.0f)),   // identical  -> 1.0
      (Array(1.0f, 0.0f), Array(0.0f, 1.0f)),   // orthogonal -> 0.0
      (Array(1.0f, 1.0f), Array(-1.0f, -1.0f)), // opposite   -> -1.0
      (Array(0.0f, 0.0f), Array(1.0f, 1.0f)))   // zero norm  -> null
      .toDF("a", "b")
    val got = df.select(cosine_sim(col("a"), col("b"))).collect().map(r =>
      if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    assert(math.abs(got(0).get - 1.0) < 1e-15)
    assert(math.abs(got(1).get) < 1e-15)
    assert(math.abs(got(2).get + 1.0) < 1e-15)
    assert(got(3).isEmpty)
  }

  test("probe-set multiprobe: exact on pairs inside the set, subset outside") {
    // the PlantedRecallProbe 10M instrument: probes restricted to an
    // id set and broadcast against the full index. For pairs with
    // BOTH endpoints in the set (the planted ground truth) the result
    // must be row-identical to the full operator; pairs with one
    // endpoint outside may drop (the outside member's probes are
    // gone) but never appear from nowhere.
    val emb = graft.Tables.embeddings(spark, sf001)
      .select(col("vec_id"), col("embedding"))
    val (bands, r, t) = (16, 9, 2)
    val ids = emb.select(col("vec_id")).collect().map(_.getLong(0))
      .sorted.take(60).toSeq
    val idSet = ids.toSet
    def pairSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(x => (x.getLong(0), x.getLong(1), math.round(x.getDouble(2) * 1e9)))
      .toSet
    val full = pairSet(Similarity.nearDupPairsMultiProbe(emb, bands, r, t))
    val probed = pairSet(
      Similarity.probeSetCandidatesScored(emb, bands, r, t, ids)
        .filter(col("cos") >= 0.35)
        .select(col("vec_a"), col("vec_b"), col("cos")))
    // every probed pair touches the set and exists in the full output
    assert(probed.subsetOf(full))
    assert(probed.forall(p => idSet(p._1) || idSet(p._2)))
    // pairs fully inside the set: exact equality
    val fullInside = full.filter(p => idSet(p._1) && idSet(p._2))
    val probedInside = probed.filter(p => idSet(p._1) && idSet(p._2))
    assert(probedInside == fullInside && fullInside.nonEmpty,
      s"inside-set pairs differ: full=${fullInside.size} probed=${probedInside.size}")
  }

  test("brute-force top-k: k rows per query, ranks 1..k, descending cos") {
    val rows = Similarity.bruteForceTopK(spark, sf001).collect()
    val byQuery = rows.groupBy(_.getLong(0))
    assert(byQuery.size == Similarity.NumQueries)
    byQuery.foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getInt(2))
      assert(sorted.map(_.getInt(2)).toSeq == (1 to Similarity.K))
      val cs = sorted.map(_.getDouble(3))
      assert(cs.zip(cs.tail).forall { case (x, y) => x >= y })
    }
  }

  test("SQ8 top-k: int8 quantization keeps high recall vs the exact baseline") {
    val bf = Similarity.bruteForceTopK(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val sq = Similarity.sq8TopK(spark, sf001).collect()
    val byQuery = sq.groupBy(_.getLong(0))
    assert(byQuery.size == Similarity.NumQueries)
    byQuery.values.foreach { rs =>
      assert(rs.map(_.getInt(2)).sorted.toSeq == (1 to Similarity.K))
      rs.foreach(r => assert(math.abs(r.getDouble(3)) <= 1.0 + 1e-12))
    }
    val recall = sq.map(r => (r.getLong(0), r.getLong(1))).toSet
      .intersect(bf).size.toDouble / bf.size
    info(f"SQ8 recall vs brute force at sf0.001: $recall%.3f")
    // int8 keeps ~7 significant bits per dim — the scan is the same
    // brute force, only the scores are quantized, so recall should be
    // near-perfect, not LSH-like
    assert(recall >= 0.8, f"SQ8 recall $recall%.3f below 0.8")
  }

  test("IVF top-k: every vector assigned to exactly one cell; recall reported") {
    val assigned = Similarity.ivfAssign(spark, sf001)
    val n = graft.Tables.embeddings(spark, sf001).count()
    assert(assigned.count() == n)                       // total assignment
    assert(assigned.select("cell").distinct().count() <= Similarity.NumCells)
    val bf = Similarity.bruteForceTopK(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = ivf.intersect(bf).size.toDouble / bf.size
    info(f"IVF recall vs brute force at sf0.001: $recall%.3f")
    assert(recall > 0.0)
  }

  test("label centroids: fixed-point pooling tracks the float mean within 2^-30") {
    val e = graft.Tables.embeddings(spark, sf001).collect()
      .map(r => (r.getInt(2), r.getSeq[Float](1).toArray))
    val expected = e.groupBy(_._1).flatMap { case (label, vs) =>
      val n = vs.length
      (0 until Similarity.Dim).map { d =>
        (label.toLong, d.toLong) ->
          (vs.map(_._2(d).toDouble).sum / n, n.toLong)
      }
    }
    val got = Similarity.labelCentroids(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getDouble(2), r.getLong(3)))
      .toMap
    assert(got.keySet == expected.keySet)
    got.foreach { case (k, (c, n)) =>
      val (ec, en) = expected(k)
      assert(n == en)
      // quantization error <= 2^-31 per component, so the mean is
      // within 2^-31 + float-sum rounding slack of the double mean
      assert(math.abs(c - ec) < 1e-7, s"$k: got $c expected $ec")
    }
    // determinism under repartitioning (associativity)
    val again = Similarity.labelCentroids(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    got.foreach { case (k, (c, _)) => assert(again(k) == c) }
  }

  test("filtered top-k: predicate holds, and pre-filter beats post-filter") {
    val e = graft.Tables.embeddings(spark, sf001)
    val labelOf = e.select(col("vec_id"), col("label")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val rows = Similarity.filteredTopK(spark, sf001).collect()
    assert(rows.nonEmpty)
    // every neighbor carries its query's label
    rows.foreach { r =>
      assert(r.getLong(2) == labelOf(r.getLong(0)).toLong)
      assert(r.getLong(2) == labelOf(r.getLong(1)).toLong)
    }
    // ranks are contiguous from 1 per query
    rows.groupBy(_.getLong(0)).values.foreach { rs =>
      assert(rs.map(_.getInt(3)).sorted.toSeq == (1 to rs.length))
    }
    // pre-filtering ranks over the allowed set: every query with >= 1
    // same-label same-cell neighbor must surface at least as many
    // rows as post-filtering the unfiltered IVF top-k would keep
    val post = Similarity.ivfTopK(spark, sf001).collect()
      .filter(r => labelOf(r.getLong(0)) == labelOf(r.getLong(1)))
      .groupBy(_.getLong(0)).view.mapValues(_.length).toMap
    val pre = rows.groupBy(_.getLong(0)).view.mapValues(_.length).toMap
    post.foreach { case (q, nPost) =>
      assert(pre.getOrElse(q, 0) >= nPost,
        s"query $q: pre-filter returned fewer rows than post-filter")
    }
  }

  test("k-means centroids are deterministic; registered refined query has sane shape") {
    val c1 = Similarity.kmeansCentroids(spark, sf001)
    val c2 = Similarity.kmeansCentroids(spark, sf001)
    assert(c1.map(_.toSeq).toSeq == c2.map(_.toSeq).toSeq,
      "refined centroids must be run-to-run deterministic")
    val rows = Similarity.ivfKmeansTopK(spark, sf001).collect()
    assert(rows.groupBy(_.getLong(0)).size == Similarity.NumQueries)
    rows.groupBy(_.getLong(0)).values.foreach { rs =>
      assert(rs.map(_.getInt(2)).sorted.toSeq == (1 to rs.length))
    }
    // the sf corpus is isotropic (measured: mean same-label vs
    // diff-label cosine both ~0), so recall parity with the first-N
    // init is expected here — the recall LIFT is asserted on clustered
    // ground-truth data in the next test, where structure exists.
  }

  test("k-means refinement lifts recall on clustered data with a degenerate init") {
    import spark.implicits._
    // ground-truth corpus: 8 well-separated gaussian clusters, rows
    // SORTED by cluster — the realistic worst case for the first-N
    // init (corpora arrive grouped by source), whose 16 seed
    // centroids all land in cluster 0
    val rnd = new scala.util.Random(42)
    val nClust = 8; val per = 40; val dim = 16
    val centers = Array.fill(nClust, dim)(rnd.nextGaussian() * 2)
    val vecs: Seq[(Long, Array[Float])] = (0 until nClust).flatMap { c =>
      (0 until per).map { i =>
        val v = Array.tabulate(dim)(d => (centers(c)(d) + rnd.nextGaussian() * 0.45).toFloat)
        ((c * per + i).toLong, v)
      }
    }
    val e = vecs.toDF("vec_id", "embedding")
    // exact ground truth in plain Scala (320 vectors)
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) {
        dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val byId = vecs.toMap
    // queries spread across clusters: one of every 16 ids
    val queryIds = vecs.map(_._1).filter(_ % 16 == 0)
    val queryPred = col("vec_id") % 16 === 0
    val truth: Map[Long, Set[Long]] = queryIds.map { q =>
      q -> vecs.filter(_._1 != q)
        .sortBy { case (id, v) => (-cos(byId(q), v), id) }
        .take(Similarity.K).map(_._1).toSet
    }.toMap
    def recallOf(cents: Array[Array[Float]]): Double = {
      val hits = Similarity.probeTopK(Similarity.assignWith(e, cents), queryPred)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      queryIds.map(q => truth(q).intersect(hits.getOrElse(q, Set.empty)).size).sum.toDouble /
        (queryIds.size * Similarity.K)
    }
    val plain = recallOf(Similarity.firstNCentroids(e))
    val refined = recallOf(Similarity.kmeansCentroidsOf(e, iters = 3))
    info(f"clustered-data IVF recall: first-N init $plain%.3f, k-means refined $refined%.3f")
    assert(refined > plain,
      f"k-means must lift recall on clustered data: $refined%.3f <= $plain%.3f")
  }

  test("multi-probe IVF dominates single-probe: hits are a superset, recall >=") {
    val bf = Similarity.bruteForceTopK(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val single = Similarity.ivfTopK(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val multi = Similarity.ivfMultiProbeTopK(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // a true top-k neighbor reachable at nprobe=1 stays reachable and
    // still outranks everything that outranked it at nprobe=4
    assert(single.intersect(bf).subsetOf(multi.intersect(bf)),
      "multi-probe lost a true neighbor single-probe had")
    val r1 = single.intersect(bf).size.toDouble / bf.size
    val r4 = multi.intersect(bf).size.toDouble / bf.size
    info(f"IVF recall at sf0.001: nprobe=1 $r1%.3f, nprobe=${Similarity.NumProbes} $r4%.3f")
    assert(r4 >= r1)
  }

  test("PQ: codes in range, k rows per query, ADC score tracks the true dot") {
    val e = graft.Tables.embeddings(spark, sf001)
    val cb = Similarity.pqCodebooks(e)
    assert(cb.length == Similarity.NumSub
      && cb.forall(_.length == Similarity.NumCodes)
      && cb.forall(_.forall(_.length == Similarity.SubDim)))
    val enc = Similarity.pqEncode(e, cb)
      .select(col("vec_id"), col("codes")).collect()
    enc.foreach { r =>
      val codes = r.getSeq[Int](1)
      assert(codes.length == Similarity.NumSub)
      assert(codes.forall(c => c >= 0 && c < Similarity.NumCodes))
    }
    // a codebook-source vector reconstructs exactly: its codes must all
    // point at itself (distance 0 to its own subvectors, lowest-id tie)
    val self = enc.filter(_.getLong(0) < Similarity.NumCodes)
    assert(self.nonEmpty)
    self.foreach { r =>
      val id = r.getLong(0).toInt
      // ties possible only if another codeword equals this subvector;
      // synthetic embeddings are distinct, so expect exact self-codes
      assert(r.getSeq[Int](1).forall(_ == id),
        s"codebook vector $id should encode to itself")
    }
    val topk = Similarity.pqTopK(spark, sf001).collect()
    val perQ = topk.groupBy(_.getLong(0))
    assert(perQ.size == Similarity.NumQueries)
    perQ.values.foreach { rows =>
      assert(rows.map(_.getInt(2)).sorted.toSeq == (1 to Similarity.K))
      // scores non-increasing with rank
      val byRank = rows.sortBy(_.getInt(2)).map(_.getDouble(3))
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b })
    }
  }

  test("recall probe agrees with independently-computed recalls; multiprobe >= ivf") {
    val rows = Similarity.annRecall(spark, sf001).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(rows.keySet == Set("lsh", "ivf", "multiprobe", "pq"))
    // cross-check micro recall against set intersections computed here
    val bf = Similarity.bruteForceTopK(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def micro(df: org.apache.spark.sql.DataFrame): Double =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        .intersect(bf).size.toDouble / bf.size
    assert(math.abs(rows("ivf").getDouble(4) -
      micro(Similarity.ivfTopK(spark, sf001))) < 1e-12)
    assert(math.abs(rows("lsh").getDouble(4) -
      micro(Similarity.lshTopK(spark, sf001))) < 1e-12)
    rows.values.foreach { r =>
      assert(r.getLong(1) > 0 && r.getLong(3) > 0)
      assert(r.getDouble(4) >= 0.0 && r.getDouble(4) <= 1.0)
      assert(r.getDouble(5) >= 0.0 && r.getDouble(5) <= r.getDouble(4))
    }
    assert(rows("multiprobe").getDouble(4) >= rows("ivf").getDouble(4),
      "multi-probe recall must dominate single-probe")
  }

  test("bucketed near-dup pairs are a subset of brute-force pairs; recall reported") {
    val brute = Similarity.embeddingNearDupBrute(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val bucketed = Similarity.embeddingNearDup(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(bucketed.subsetOf(brute),
      s"bucketed produced pairs brute force did not: ${bucketed.diff(brute).take(5)}")
    val recall = if (brute.isEmpty) 1.0 else bucketed.intersect(brute).size.toDouble / brute.size
    info(f"bucketed near-dup recall vs brute force at sf0.001: $recall%.3f " +
      f"(${bucketed.size}/${brute.size} pairs)")
    assert(recall > 0.0)

    // the round-8 widening must not TRADE recall for its scaling fix:
    // the registered 16-band data-sized config has to dominate the
    // retired single-band 4-bit config (Θ(n²/16) saturation, caught
    // by the ×100 ScaleUp probe) on this corpus's real pair
    // distribution
    val retired = Similarity
      .nearDupPairsMultiProbe(graft.Tables.embeddings(spark, sf001), 1, 4, t = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val oldRecall = if (brute.isEmpty) 1.0
      else retired.intersect(brute).size.toDouble / brute.size
    info(f"retired 1-band/4-bit recall at sf0.001: $oldRecall%.3f " +
      f"(${retired.size}/${brute.size} pairs)")
    assert(recall >= oldRecall,
      f"banded config lost recall: $recall%.3f < $oldRecall%.3f")
  }

  test("multiprobe near-dup: superset of exact-bucket pairs, subset of brute; recall lifts") {
    val emb = graft.Tables.embeddings(spark, sf001)
    val (bands, r) = (16, 8)
    val brute = Similarity.embeddingNearDupBrute(spark, sf001).collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSet
    val exact = Similarity.nearDupPairsMultiProbe(emb, bands, r, t = 0).collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSet
    val multi = Similarity.nearDupPairsMultiProbe(emb, bands, r).collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSet
    // a band-exact collision is a distance-0 near collision, so the
    // one-bit probe can only ADD pairs; the cosine gate keeps every
    // emitted pair a true >= 0.35 pair
    assert(exact.subsetOf(multi),
      s"multiprobe lost exact pairs: ${(exact -- multi).take(5)}")
    assert(multi.subsetOf(brute),
      s"multiprobe produced non-brute pairs: ${(multi -- brute).take(5)}")
    val rE = if (brute.isEmpty) 1.0 else exact.intersect(brute).size.toDouble / brute.size
    val rM = if (brute.isEmpty) 1.0 else multi.intersect(brute).size.toDouble / brute.size
    info(f"recall at (B=$bands, r=$r): exact $rE%.3f -> multiprobe $rM%.3f")
    assert(rM >= rE)
    // multiprobe emits each pair exactly once (the slim-explode +
    // distinct construction, asserted not argued)
    val dup = Similarity.nearDupPairsMultiProbe(emb, bands, r)
      .groupBy(col("vec_a"), col("vec_b")).count()
      .filter(col("count") > 1).count()
    assert(dup == 0, s"$dup pairs emitted more than once")
  }

  test("hard negatives: top-k cross-label ranking matches brute force; no false negatives") {
    val emb = graft.Tables.embeddings(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1), r.getInt(2)))
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      a.indices.foreach { i =>
        val x = a(i).toDouble; val y = b(i).toDouble
        dot += x * y; na += x * x; nb += y * y
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val byId = emb.map(e => e._1 -> e).toMap
    val expect = emb.filter(_._1 < Similarity.NumQueries).flatMap { case (q, qe, ql) =>
      emb.filter(_._3 != ql)
        .map { case (d, de, dl) => (d, dl, cos(qe, de)) }
        .sortBy { case (d, _, c) => (-c, d) }
        .take(Similarity.K).zipWithIndex
        .map { case ((d, dl, c), i) => (q, d) -> ((ql.toLong, dl.toLong, i + 1, c)) }
    }.toMap
    val got = Similarity.hardNegatives(spark, sf001).collect().map { r =>
      (r.getLong(0), r.getLong(2)) ->
        ((r.getLong(1), r.getLong(3), r.getInt(4), r.getDouble(5)))
    }.toMap
    assert(got.nonEmpty)
    got.foreach { case ((q, _), (ql, nl, _, _)) =>
      assert(ql != nl, s"query $q got a same-label (false) negative")
      assert(byId(q)._3.toLong == ql)
    }
    assert(got == expect,
      s"sample: ${(got.toSet -- expect.toSet).take(3)} vs ${(expect.toSet -- got.toSet).take(3)}")
  }

  test("MMR: selection equals a driver-side greedy re-rank; diversity beats plain top-k") {
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      a.indices.foreach { i =>
        val x = a(i).toDouble; val y = b(i).toDouble
        dot += x * y; na += x * x; nb += y * y
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val emb = graft.Tables.embeddings(spark, sf001)
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    val expect = (0L until Similarity.NumQueries.toLong).flatMap { q =>
      val pool = emb.keys.filter(_ != q).toSeq
        .map(d => (d, cos(emb(q), emb(d))))
        .sortBy { case (d, c) => (-c, d) }.take(Similarity.MmrPool)
      val sel = scala.collection.mutable.ArrayBuffer[(Long, Int, Double)]()
      val rem = scala.collection.mutable.ArrayBuffer(pool: _*)
      (1 to Similarity.MmrK).foreach { i =>
        if (rem.nonEmpty) {
          val scored = rem.map { case (d, c) =>
            val score = if (sel.isEmpty) 0.7 * c
              else 0.7 * c - 0.3 * sel.map(s => cos(emb(d), emb(s._1))).max
            (d, score)
          }
          val (d, score) = scored.minBy { case (d, s) => (-s, d) }
          sel += ((d, i, score))
          rem.remove(rem.indexWhere(_._1 == d))
        }
      }
      sel.map { case (d, i, s) => (q, d, i) -> s }
    }.toMap
    val got = Similarity.mmrTopK(spark, sf001).collect().map { r =>
      (r.getLong(0), r.getLong(1), r.getInt(2)) -> r.getDouble(3)
    }.toMap
    assert(got.nonEmpty)
    assert(got == expect,
      s"sample: ${(got.toSet -- expect.toSet).take(3)} vs ${(expect.toSet -- got.toSet).take(3)}")

    // the point of MMR: the selected set is more DIVERSE than the
    // plain top-k — strictly lower mean pairwise cosine, averaged
    // over the query set
    def meanPairwise(sets: Map[Long, Seq[Long]]): Double = {
      val vals = sets.values.toSeq.flatMap { ds =>
        for (i <- ds.indices; j <- i + 1 until ds.length)
          yield cos(emb(ds(i)), emb(ds(j)))
      }
      vals.sum / vals.length
    }
    val mmrSets = got.keys.groupBy(_._1).map { case (q, ks) =>
      q -> ks.toSeq.map(_._2) }
    val topkSets = Similarity.bruteForceTopK(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (q, ks) => q -> ks.toSeq.map(_._2) }
    val (dm, dt) = (meanPairwise(mmrSets), meanPairwise(topkSets))
    info(f"mean pairwise cos — MMR: $dm%.4f, plain top-k: $dt%.4f")
    assert(dm < dt, f"MMR selection not more diverse: $dm%.4f >= $dt%.4f")
  }

  test("rep-sized dial: r = bitLen-2 uncapped; bands double per 2 bits of r") {
    // the r15 rule (BASELINE.md round-15 grid): r = bitLen-2 at
    // every scale — λ = n/2^r in [2, 4) forever (the r12 cap froze
    // recall but made candidate mass quadratic: r14 measured 15.3B
    // rows / DNF at 1M reps) — and past 2^18 reps the BAND count
    // doubles per 2 bits of r with t=3 plus the SQ8 pre-gate: the
    // n^1.5 LSH trade
    val cases = Seq(0L -> 5, 1L -> 5, 127L -> 5, 128L -> 6, 500L -> 7,
      2000L -> 9, 62000L -> 14, 200000L -> 16, 1000000L -> 18,
      2000000L -> 19, 10000000L -> 22,
      // Int-bucket ceiling: the kernels reject r > 31 (bit 31 would
      // sign-flip the bucket), so the dial pins there — λ resumes
      // growing past 2^33 reps and the mass guard prices it
      (1L << 33) -> 31, (1L << 40) -> 31)
    cases.foreach { case (n, want) =>
      assert(Similarity.nearDupRepPlanesFor(n) == want,
        s"nearDupRepPlanesFor($n) = ${Similarity.nearDupRepPlanesFor(n)}, want $want")
    }
    // occupancy invariant at EVERY scale now: λ = n/2^r in [2, 4)
    Seq(1000L, 62000L, 200000L, 1000000L, 10000000L, 1L << 30).foreach { n =>
      val lam = n.toDouble / (1L << Similarity.nearDupRepPlanesFor(n))
      assert(lam >= 2.0 && lam < 4.0, s"n=$n λ=$lam drifted from [2, 4)")
    }
    // the full dial: registered corpora keep the r11 point exactly
    // (oracle-pinned); past 2^18 reps bands ride the sqrt-2
    // interpolated doubling curve (B = round(256*2^((bitLen-19)/2)) —
    // power-of-2-only band counts sawtooth recall ~0.05 between even
    // and odd bitLens)
    assert(Similarity.nearDupRepDialFor(200000L) == (64, 16, 2))
    assert(Similarity.nearDupRepDialFor(262143L) == (64, 16, 2))
    assert(Similarity.nearDupRepDialFor(262144L) == (256, 17, 3))
    assert(Similarity.nearDupRepDialFor(1000000L) == (362, 18, 3))
    assert(Similarity.nearDupRepDialFor(2000000L) == (512, 19, 3))
    assert(Similarity.nearDupRepDialFor(3000000L) == (724, 20, 3))
    assert(Similarity.nearDupRepDialFor(10000000L) == (1448, 22, 3))
    // the gate rides exactly the band-doubling branch
    assert(Similarity.nearDupGateFor(262143L).isEmpty)
    assert(Similarity.nearDupGateFor(262144L)
      .contains(Similarity.NearDupGateTau))
    // the mass model the guard projects with: validated to 2% by the
    // r14 probe at the capped 1M point (15,303,720,739 measured)
    val projected = Similarity.nearDupProjectedCandidates(
      1000000L, 128, 16, 3)
    assert(math.abs(projected - 15.3e9) / 15.3e9 < 0.03,
      s"mass model drifted: $projected")
  }

  test("LSH top-k is a subset of same-bucket exact ranking; reports recall") {
    val bf = Similarity.bruteForceTopK(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.lshTopK(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // sanity: every LSH hit shares the query's bucket
    val buckets = graft.Tables.embeddings(spark, sf001)
      .select(col("vec_id"), Similarity.signatureCol(col("embedding")).as("b"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    lsh.foreach { case (q, n) => assert(buckets(q) == buckets(n)) }
    val recall = if (bf.isEmpty) 0.0 else lsh.intersect(bf).size.toDouble / bf.size
    info(f"LSH recall vs brute force at sf0.001: $recall%.3f " +
      f"(${buckets.values.toSet.size} buckets over ${buckets.size} vectors)")
  }

  test("on-disk IVF index: probe is partition-pruned AND identical to in-memory top-k") {
    val probe = Similarity.ivfIndexProbeTopK(spark, sf001)
    val got = probe.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    val want = Similarity.ivfTopK(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    assert(got == want, "index probe must be a pure physical-layout change")
    // the corpus-side scan must carry a PartitionFilter on cell — the
    // claim that a probe reads 1/NumCells of the index rests on it.
    // (executedPlan inspected only after THIS DataFrame's execution.)
    val plan = probe.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*cell".r.findFirstIn(plan).isDefined,
      s"probe scan should prune partitions on cell:\n$plan")
  }

  test("diverse sample: per-cluster cap, contiguous picks, deterministic") {
    val rows = Similarity.diverseSample(spark, sf001, perCluster = 7).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val byLabel = rows.groupBy(_._2)
    val clusterSizes = graft.Tables.embeddings(spark, sf001)
      .groupBy("label").count().collect()
      .map(r => r.getInt(0).toLong -> r.getLong(1)).toMap
    byLabel.foreach { case (lbl, g) =>
      assert(g.length == math.min(7L, clusterSizes(lbl)), s"cap violated for $lbl")
      assert(g.map(_._3).sorted.toSeq == (1 to g.length), "picks must be 1..n")
    }
    assert(rows.toSet == Similarity.diverseSample(spark, sf001, perCluster = 7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet)
  }

  test("semantic dedup: removal set == 'exists earlier cluster-mate above tau'") {
    val corpus = graft.Tables.embeddings(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getInt(2), r.getSeq[Float](1).toArray))
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        d += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val expectRemoved = corpus.filter { case (id, lbl, emb) =>
      corpus.exists { case (id2, lbl2, emb2) =>
        lbl2 == lbl && id2 < id && cos(emb2, emb) >= Similarity.SemTau }
    }.map(_._1).toSet
    val removed = Similarity.semanticDedup(spark, sf001).collect()
    assert(removed.map(_.getLong(0)).toSet == expectRemoved)
    assert(removed.nonEmpty, "corpus should contain semantic dups at tau")
    // each leader really is the strongest earlier same-cluster mate
    val byId = corpus.map(t => t._1 -> t).toMap
    removed.foreach { r =>
      val (id, lbl, leader) = (r.getLong(0), r.getLong(1), r.getLong(2))
      val (_, llbl, _) = byId(leader)
      assert(leader < id && llbl.toLong == lbl)
      val best = corpus.filter(t => t._2.toLong == lbl && t._1 < id)
        .map(t => (t._1, cos(t._3, byId(id)._3)))
        .sortBy { case (lid, c) => (-c, lid) }.head
      assert(best._1 == leader, s"vec $id: expected leader ${best._1}, got $leader")
    }
    // stats roll up to the same removal set
    val stats = Similarity.semanticDedupStats(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val totals = corpus.groupBy(_._2.toLong).map { case (l, g) => l -> g.length.toLong }
    stats.foreach { case (lbl, nTotal, nRemoved, nKept) =>
      assert(nTotal == totals(lbl))
      assert(nRemoved == expectRemoved.count(id => byId(id)._2.toLong == lbl))
      assert(nKept == nTotal - nRemoved)
    }
  }
}
