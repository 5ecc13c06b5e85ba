package graft

import org.apache.spark.sql.functions._

/** Recall-vs-n for the near-dup multiprobe dials at corpus sizes
  * where the exhaustive O(n²) baseline is unrunnable (VERDICT r10
  * item 5): instead of brute-forcing the true pair set, PLANT it —
  * inject P perturbed copies with EXACTLY KNOWN cosine to their base
  * vectors (sampled uniformly over [0.40, 0.98], the query's
  * above-gate band) under fresh ids, run the registered collapse-
  * wrapped multiprobe over corpus ∪ planted, and report the fraction
  * of planted (base, copy) pairs recovered. The planted distribution
  * is FIXED across corpus sizes, so the recall curve isolates the
  * n-dependence of the dial (per-band collision prob q^r falls as
  * the auto-sized r deepens with ⌊log₂ n⌋) from corpus composition.
  *
  * Construction: for base v with unit direction u, the copy is
  * c·u + √(1−c²)·ŵ (ŵ a seeded random unit vector orthogonalized
  * against u), scaled by ‖v‖ — cos(copy, v) = c exactly in the reals
  * and to float rounding here; the probe still scores every planted
  * pair with the engine's own [[graft.functions.CosineSim.score]]
  * and keeps only ≥ 0.35 as ground truth (all, by construction).
  *
  * Usage: PlantedRecallProbe <sfDir | synth:N> [nPlanted=2000]
  *
  * `synth:N` extends the curve past what any ScaleUp corpus can give
  * (VERDICT r11 item 4): the ×1000 corpus holds only ~62k DISTINCT
  * reps (rotations repeat mod 16), so the registered query never
  * exercises the sizing rule beyond n = 200k. Synth mode generates N
  * UNIQUE embeddings — components are seeded hash-derived uniforms
  * in [-1, 1], the `sqlBandSigs` plane trick, so the corpus is
  * deterministic and collision-free at any N — renders them once to
  * /tmp/graft_synth_N (reused across runs), and measures the
  * registered dial plus three contrasts around it.
  */
object PlantedRecallProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val nPlanted = args.drop(1).find(a => !a.contains("="))
      .map(_.toInt).getOrElse(2000)
    val synthN: Option[Long] =
      if (sfDir.startsWith("synth:")) Some(sfDir.stripPrefix("synth:").toLong)
      else None
    val spark = GraftSession.local()
    import graft.llm.Similarity

    val emb = synthN match {
      case None => Tables.embeddings(spark, sfDir)
      case Some(sn) => SynthCorpus.embeddings(spark, sn)
    }
    val n = emb.count()
    val maxId = emb.agg(max(col("vec_id"))).head.getLong(0)
    val stride = math.max(1L, n / nPlanted)
    // deterministic base sample: every stride-th id
    val bases = emb.filter(pmod(col("vec_id"), lit(stride)) === 0)
      .select(col("vec_id"), col("embedding"))
      .limit(nPlanted).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val rnd = new java.util.Random(42)
    val shift = maxId + 1L

    def unit(v: Array[Double]): Array[Double] = {
      val nv = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / nv)
    }
    val planted = bases.zipWithIndex.map { case ((bid, bv), k) =>
      val v = bv.map(_.toDouble)
      val norm = math.sqrt(v.map(x => x * x).sum)
      val u = unit(v)
      val c = 0.40 + 0.58 * rnd.nextDouble() // target cos in [0.40, 0.98]
      val w = Array.fill(v.length)(rnd.nextGaussian())
      val dotWU = w.zip(u).map { case (a, b) => a * b }.sum
      val orth = unit(w.zip(u).map { case (a, b) => a - dotWU * b })
      val s = math.sqrt(1.0 - c * c)
      val copy = u.zip(orth).map { case (ui, oi) =>
        (norm * (c * ui + s * oi)).toFloat }
      (shift + k, copy, bid)
    }
    // ground truth through the engine's own scorer (float rounding
    // could in principle cross the 0.35 gate; by construction none do)
    val truePairs = planted.filter { case (_, copy, bid) =>
      graft.functions.CosineSim.score(copy,
        bases.find(_._1 == bid).get._2) >= 0.35
    }.map { case (cid, _, bid) => (bid, cid) }.toSet
    println(s"[planted] n=$n planted=${planted.length} true=${truePairs.size}")

    import spark.implicits._
    val plantedDf = planted.map { case (cid, copy, _) => (cid, copy) }
      .toSeq.toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    val union = emb.select(col("vec_id"), col("embedding"))
      .unionByName(plantedDf)

    val reps = union.select(col("embedding")).distinct().count()
    val rDefault = Similarity.nearDupRepPlanesFor(reps)
    // (bands, r, t): the registered dial (rep-sized width), then
    // contrasts around it
    val dials =
      if (synthN.isDefined) {
        // r15 grid: the SHIPPED rule (r = bitLen−2 uncapped, bands
        // doubling per 2 bits of r, SQ8 pre-gate), a double-bands
        // contrast (2B, same r — what more width buys), a half-bands
        // contrast (is the doubling earning its mass?), and a
        // deeper-r contrast (the next λ-halving — does band-doubling
        // still buy the recall back?). Gated AND ungated recall come
        // from the same pass (the gate is a post-hoc pair predicate
        // on the probe-set candidates), so the gate's recall cost is
        // isolated per dial. An optional `dials=K` third arg runs
        // only the first K (the 10M sig computes are ~10 min per dial
        // at B=1024).
        val shipped = Similarity.nearDupRepDialFor(reps)
        Seq(
          shipped,
          (2 * shipped._1, shipped._2, 3),
          (shipped._1 / 2, shipped._2, 3),
          (shipped._1, shipped._2 + 1, 3)).distinct
      }
      else Seq(
        (Similarity.NearDupBands, rDefault, Similarity.NearDupProbes),
        (128, rDefault + 1, 3),
        (Similarity.NearDupBands, rDefault, 1),
        (32, rDefault, 2))
    val maxDials = args.find(_.startsWith("dials="))
      .map(_.stripPrefix("dials=").toInt).getOrElse(dials.size)
    val tau = Similarity.NearDupGateTau
    dials.take(maxDials).foreach { case (bands, r, t) =>
      val t0 = System.nanoTime()
      // planted copies all sit above `shift`: only pairs touching
      // them can be planted pairs. Synth corpora (all-unique, so the
      // dup collapse is an identity) use the PROBE-SET variant (r13):
      // the probes side is restricted to planted ∪ base ids and
      // broadcast against the full index, so the corpus never
      // shuffles at all — exact for pairs with both endpoints in the
      // set, which is every ground-truth pair. (The unrestricted
      // pair set ENOSPC'd at 1M.)
      if (synthN.isDefined) {
        // staged: the stats agg and the pair collect below are two
        // actions, and recomputing the scored set would repeat the
        // full-corpus signature explode (~10 min/pass at 10M B=1024);
        // the scored candidate set itself is probe-set-bounded (tens
        // of M rows), well inside the staging discipline
        val scored = graft.Materialize.stage(
          Similarity.probeSetCandidatesScored(union, bands, r, t,
            (bases.map(_._1) ++ planted.map(_._1)).toSeq))
        // one action: candidate gate stats (α on a representative
        // sample of the full operator's candidate distribution — the
        // probe side is a uniform id set, independent of geometry)
        // plus the scored planted-touching pairs
        val stats = scored.agg(count(lit(1)).as("cand"),
          count(when(col("gcos") >= tau, 1)).as("gkeep")).head()
        val rows = scored
          .filter(col("vec_b") >= lit(shift) && col("cos") >= 0.35)
          .select(col("vec_a"), col("vec_b"), col("gcos")).collect()
        val sec = (System.nanoTime() - t0) / 1e9
        val found = rows.map(x => (x.getLong(0), x.getLong(1))).toSet
        val foundGated = rows.filter(x => !x.isNullAt(2) && x.getDouble(2) >= tau)
          .map(x => (x.getLong(0), x.getLong(1))).toSet
        val hit = truePairs.count(found)
        val hitG = truePairs.count(foundGated)
        val recall = hit.toDouble / math.max(1, truePairs.size)
        val recallG = hitG.toDouble / math.max(1, truePairs.size)
        val keep =
          if (stats.getLong(0) == 0) 0.0
          else stats.getLong(1).toDouble / stats.getLong(0)
        println(f"[planted] B=$bands%4d r=$r%3d t=$t%2d n=$n%9d " +
          f"recall_gated=$recallG%6.3f recall_ungated=$recall%6.3f " +
          f"hit=$hitG%5d/${truePairs.size}%5d " +
          f"cand=${stats.getLong(0)}%,d cand_gate_keep=$keep%.3f " +
          f"sec=$sec%7.1f")
      } else {
        val pairs = Similarity.nearDupWithDupCollapse(union, bands, r, t)
          .filter(col("vec_b") >= lit(shift))
        val found = pairs.filter(col("vec_b") >= lit(shift))
          .select(col("vec_a"), col("vec_b")).collect()
          .map(x => (x.getLong(0), x.getLong(1))).toSet
        val sec = (System.nanoTime() - t0) / 1e9
        val hit = truePairs.count(found)
        val recall = hit.toDouble / math.max(1, truePairs.size)
        println(f"[planted] B=$bands%4d r=$r%3d t=$t%2d n=$n%9d recall=$recall%6.3f hit=$hit%5d/${truePairs.size}%5d sec=$sec%7.1f")
      }
    }
    spark.stop()
  }
}
