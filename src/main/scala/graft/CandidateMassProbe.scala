package graft

import org.apache.spark.sql.functions._

/** Candidate/rescore MASS of the registered near-dup multiprobe shape
  * at corpus sizes past 2^18 reps (VERDICT r13 item 3 → the r14
  * λ-quadratic falsification → the r15 re-rule): recall at a fixed
  * dial is n-invariant (r13), so what decides whether a dial
  * survives a decade of corpus growth is the candidate mass entering
  * the pair-dedup exchange. r14 measured the capped (128, 16, 3)
  * dial at 15.3 B pre-distinct rows / 1M reps (DNF on sandbox disk);
  * this probe now measures the r15 rule's points, pre- AND post- the
  * SQ8 gate.
  *
  * Measures, on the [[SynthCorpus]] collision-free corpus (reps = n
  * by construction), through the EXACT relations the registered
  * shape feeds to its dedup + rescore
  * ([[graft.llm.Similarity.candidateStreamOf]] and
  * [[graft.llm.Similarity.gatedStream]]):
  *
  *  - `stream_rows`: pre-distinct candidate rows — the mass the
  *    ungated shape would shuffle — EXACT, summed over probe-side
  *    slices;
  *  - `gated_rows`: the same stream after the SQ8 pre-gate at
  *    [[graft.llm.Similarity.NearDupGateTau]] — the mass the
  *    registered past-cap shape actually shuffles;
  *  - `cand_pairs_est` / `gated_pairs_est`: HLL distinct
  *    (vec_a, vec_b) — the rescore join's input mass. Exact-error
  *    HLL at K = 1; at K > 1 a pair found probing from BOTH
  *    endpoints can land in two slices, so the summed estimate is an
  *    upper bound within 2× (stream counts stay exact regardless);
  *  - per-slice wall seconds and shuffle-write bytes (the
  *    [[examples.QueryCounters]] listener).
  *
  * Usage: CandidateMassProbe <n> <bands> <r> <t> [slices=1]
  *        [slicesRun=slices] [--full] [--hist[=S]]
  *
  * `--full` additionally runs the COMPLETE registered shape
  * ([[graft.llm.Similarity.nearDupPairsMultiProbe]], gated per the
  * rule's [[graft.llm.Similarity.nearDupGateFor]]) in this JVM and
  * reports its wall seconds, total shuffle-write bytes, and output
  * pair count. Run ONE dial per JVM: shuffle files of a prior config
  * in the same JVM survive until GC and stack toward ENOSPC (the
  * 2026-08-15 measurement died exactly that way).
  *
  * `--hist[=S]` measures the pre-distinct stream WITHOUT the bucket
  * join, as Σ over (band, bucket) of idx_count·probe_count minus the
  * exact-probe self-collisions (= Σ idx_count): the join-free
  * identity of the stream count. This is what makes the r15 rule's
  * 10M points measurable at all — at (1024, 22, 3) the sliced JOIN
  * still shuffles the full 10 B-row index explode (~130 GB),
  * while the count tables are one partial-aggregated exchange,
  * hash-SAMPLED on (band, bucket) by 1/S (unbiased; millions of
  * buckets make the variance negligible; S is stamped in the
  * output). Cannot see pair identity, so no distinct/gated numbers —
  * quote those from the 1M join runs (the gate keep-rate is
  * n-invariant junk geometry; PlantedRecallProbe cross-checks it at
  * 10M on the probe-set candidate sample).
  *
  * Round-15 dial points: default 1M = (362, 18, 3); high 1M =
  * (724, 18, 3); default 10M = (1448, 22, 3); high 10M =
  * (2896, 22, 3); the r14 capped contrast (128, 16, 3) at 1M and the
  * fixed-λ contrast (128, 20, 3) at 10M.
  */
object CandidateMassProbe {
  def main(args: Array[String]): Unit = {
    val n = args(0).toLong
    val bands = args(1).toInt
    val r = args(2).toInt
    val t = args(3).toInt
    val full = args.contains("--full")
    val hist = args.find(_.startsWith("--hist"))
    val histSample = hist.map(h =>
      if (h.contains("=")) h.split("=")(1).toInt else 1)
    val positional = args.drop(4).filterNot(_.startsWith("--"))
    val slices = positional.headOption.map(_.toInt).getOrElse(1)
    // optional second positional: run only the first `slicesRun`
    // probe slices and report totals EXTRAPOLATED by
    // slices/slicesRun — an unbiased estimator (vec_id % slices is
    // independent of geometry; each slice is exact within itself),
    // clearly labeled `extrapolated=true` in the output. For when a
    // full exact pass doesn't fit the wall-clock budget.
    val slicesRun = positional.drop(1).headOption.map(_.toInt)
      .getOrElse(slices).min(slices)
    require(slicesRun >= 1, s"slicesRun must be >= 1, got $slicesRun")
    val spark = GraftSession.local()
    val counters = examples.QueryCounters.attach(spark)

    val emb = SynthCorpus.embeddings(spark, n)
    val tau = graft.llm.Similarity.NearDupGateTau
    println(s"[mass] n=$n dial=($bands,$r,$t) slices=$slices " +
      f"lambda=${n.toDouble / (1L << r)}%.1f gate_tau=$tau%.2f")

    histSample match {
      case Some(s) =>
        // join-free stream count: Σ ci·pi − Σ ci over (band, bucket),
        // hash-sampled by 1/S on the bucket key. Signatures and
        // probes are computed INLINE (no staged sig table: bands
        // ints/row at B=1024 over 10M rows is ~40 GB deserialized).
        import graft.llm.Similarity.{bandSignatureCols, Dim}
        def sampled(c: org.apache.spark.sql.DataFrame) =
          if (s <= 1) c
          else c.filter(pmod(xxhash64(col("band"), col("bucket")),
            lit(s)) === 0)
        val idxC = sampled(emb.select(
            posexplode(bandSignatureCols(col("embedding"), bands, r))
              .as(Seq("band", "bucket"))))
          .groupBy(col("band"), col("bucket"))
          .agg(count(lit(1)).as("ci"))
        val prbC = sampled(emb.select(
            posexplode(graft.functions.HyperplaneProbes.hyperplane_probes(
              col("embedding"), bands, r, Dim, t)).as(Seq("pos", "bucket")))
          .select((col("pos") / (t + 1)).cast("int").as("band"),
            col("bucket")))
          .groupBy(col("band"), col("bucket"))
          .agg(count(lit(1)).as("pi"))
        val t0 = System.nanoTime()
        // coalesce: sum() over an EMPTY sampled join is NULL — a large
        // sample divisor S on a small corpus must report zero, not NPE
        // (ADVICE r15)
        val row = idxC.join(prbC, Seq("band", "bucket"))
          .agg(coalesce(sum(col("ci") * col("pi")), lit(0L)).as("cp"),
            coalesce(sum(col("ci")), lit(0L)).as("c")).head()
        val sec = (System.nanoTime() - t0) / 1e9
        val streamSampled = row.getLong(0) - row.getLong(1)
        val stream = streamSampled * s.toLong
        println(f"[mass] HIST n=$n dial=($bands,$r,$t) " +
          f"stream_rows=$stream%,d rows_per_rep=${stream.toDouble / n}%.1f " +
          f"sec=$sec%.1f sample=1/$s sampled_rows=$streamSampled%,d " +
          f"shufWrite=${counters.shuffleWrite.get / 1e9}%.2f GB " +
          f"spill=${counters.diskSpill.get / 1e9}%.2f GB")
      case None =>
        val e = graft.llm.Similarity.sigTableOf(emb, bands, r)
        var totRows = 0L; var totCand = 0L; var totSec = 0.0
        var totShuf = 0L; var totSpillRun = 0L
        var totGated = 0L; var totGatedCand = 0L
        (0 until slicesRun).foreach { k =>
          // each slice's join shuffle files are freed only when the
          // ShuffleDependency is GC'd (ContextCleaner); without an
          // explicit GC, slices stack to ENOSPC on the sandbox disk
          System.gc()
          Thread.sleep(2000) // drain the async listener bus + cleaner
          counters.reset()
          val slice = if (slices == 1) None else Some((k, slices))
          val stream = graft.llm.Similarity
            .candidateStreamOf(e, bands, r, t, slice)
          // gate scored in the same pass (gcos via the registered
          // gatedStream relation would FILTER; here we need both
          // sides of the gate, so score with the same broadcast
          // joins and aggregate conditionally)
          val gt = e.select(col("vec_id"),
            graft.functions.Sq8Gate.sq8_pack(col("embedding"),
              graft.llm.Similarity.Dim).as("q8"))
          val scored = stream
            .join(broadcast(gt.select(col("vec_id").as("vec_a"),
              col("q8").as("q8_a"))), "vec_a")
            .join(broadcast(gt.select(col("vec_id").as("vec_b"),
              col("q8").as("q8_b"))), "vec_b")
            .withColumn("g", graft.functions.Sq8Gate.sq8_cos(
              col("q8_a"), col("q8_b")) >= tau)
          val t0 = System.nanoTime()
          val row = scored.agg(
            count(lit(1)).as("rows"),
            approx_count_distinct(struct(col("vec_a"), col("vec_b")), 0.01)
              .as("cand"),
            count(when(col("g"), 1)).as("grows"),
            approx_count_distinct(when(col("g"),
              struct(col("vec_a"), col("vec_b"))), 0.01).as("gcand")).head()
          val sec = (System.nanoTime() - t0) / 1e9
          Thread.sleep(2000)
          totRows += row.getLong(0); totCand += row.getLong(1); totSec += sec
          totGated += row.getLong(2); totGatedCand += row.getLong(3)
          totShuf += counters.shuffleWrite.get; totSpillRun += counters.diskSpill.get
          println(f"[mass] slice=$k rows=${row.getLong(0)}%,d " +
            f"cand_est=${row.getLong(1)}%,d gated=${row.getLong(2)}%,d " +
            f"gated_cand_est=${row.getLong(3)}%,d sec=$sec%.1f " +
            f"shufWrite=${counters.shuffleWrite.get / 1e9}%.2f GB " +
            f"spill=${counters.diskSpill.get / 1e9}%.2f GB")
        }
        val scale = slices.toDouble / slicesRun
        val xRows = (totRows * scale).toLong
        val xCand = (totCand * scale).toLong
        val xGated = (totGated * scale).toLong
        val xGatedCand = (totGatedCand * scale).toLong
        println(f"[mass] TOTAL n=$n dial=($bands,$r,$t) " +
          f"stream_rows=$xRows%,d cand_pairs_est=$xCand%,d " +
          f"gated_rows=$xGated%,d gated_pairs_est=$xGatedCand%,d " +
          f"gate_keep=${if (totRows == 0) 0.0 else totGated.toDouble / totRows}%.3f " +
          f"sec_run=$totSec%.1f shufWrite=${(totShuf * scale) / 1e9}%.2f GB " +
          f"spill_run=${totSpillRun / 1e9}%.2f GB " +
          f"rows_per_rep=${xRows.toDouble / n}%.1f " +
          f"extrapolated=${slicesRun < slices} ($slicesRun/$slices slices run; " +
          "sec_run/spill_run are RAW run-only values, stream/cand/gated/" +
          "shufWrite are extrapolated)")
    }

    if (full) {
      // the count pass's join shuffle (~20 GB at the 1M default
      // dial) is freed only when its ShuffleDependency is GC'd;
      // without an explicit GC an 80 g heap may never collect it
      // before the full pass needs the disk
      System.gc()
      Thread.sleep(5000)
      counters.reset()
      val gate = graft.llm.Similarity.nearDupGateFor(n)
      val t0 = System.nanoTime()
      val pairs = graft.llm.Similarity
        .nearDupPairsMultiProbe(emb, bands, r, t, gate).count()
      val sec = (System.nanoTime() - t0) / 1e9
      Thread.sleep(2000)
      println(f"[mass] FULL n=$n dial=($bands,$r,$t) gate=$gate " +
        f"pairs=$pairs%,d sec=$sec%.1f " +
        f"shufWrite=${counters.shuffleWrite.get / 1e9}%.2f GB " +
        f"spill=${counters.diskSpill.get / 1e9}%.2f GB")
    }
    spark.stop()
  }
}
