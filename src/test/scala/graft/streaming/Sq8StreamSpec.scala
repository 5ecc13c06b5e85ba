package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** The SQ8 streaming near-dup path (VERDICT r11 item 6): int8 state,
  * conservative quantized pre-gate, exact-float rescore — drained
  * parity with batch, and the gate margin actually covers the
  * realized quantization error.
  */
class Sq8StreamSpec extends SparkSpec {

  test("quantized cosine error stays under the gate margin") {
    val vecs = graft.Tables.embeddings(spark, sf001)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    // all pairs over a deterministic 60-vector sample = 1770 pairs,
    // plus near-equal perturbed twins (the member-vs-rep worst case:
    // vectors that quantize EQUAL but differ in the reals)
    val sample = vecs.sortBy(_._1).take(60).map(_._2)
    var worst = 0.0
    for (i <- sample.indices; j <- (i + 1) until sample.length) {
      val (a, b) = (sample(i), sample(j))
      val err = math.abs(
        EmbeddingStreams.sq8Cos(EmbeddingStreams.sq8Quantize(a),
          EmbeddingStreams.sq8Quantize(b))
          - graft.functions.CosineSim.score(a, b))
      if (err > worst) worst = err
    }
    val rnd = new java.util.Random(11)
    for (v <- sample.take(20)) {
      val q = EmbeddingStreams.sq8Quantize(v)
      var mx = 0.0f
      for (x <- v) mx = math.max(mx, math.abs(x))
      // twin inside the same quantization cell: ±0.49 steps per comp
      val twin = v.zip(q).map { case (x, _) =>
        x + ((rnd.nextDouble() - 0.5) * 0.98 * mx / 127.0).toFloat }
      for (o <- sample.take(20)) {
        val err = math.abs(
          EmbeddingStreams.sq8Cos(EmbeddingStreams.sq8Quantize(v),
            EmbeddingStreams.sq8Quantize(o))
            - graft.functions.CosineSim.score(twin, o))
        if (err > worst) worst = err
      }
    }
    assert(worst < EmbeddingStreams.Sq8GateMargin,
      s"realized quantization error $worst >= margin ${EmbeddingStreams.Sq8GateMargin}")
  }

  test("sq8 composition: quantized candidates + exact rescore equals batch") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = "/root/testdata/sf0.001"
    val ebatch = graft.Tables.embeddings(spark, base)
    val (bands, r, t) = (16, 9, 2)
    val vecs = ebatch.select(col("vec_id"), col("embedding")).collect()
      .map(x => (x.getLong(0), x.getSeq[Float](1).toArray)).toSeq
    val cents = graft.llm.Similarity.firstNCentroids(ebatch)
    val dir = java.nio.file.Files.createTempDirectory("sq8dup").toString
    val idxIn = MemoryStream[(Long, Array[Float])]
    val idxQ = graft.streaming.EmbeddingStreams.ivfIndexStream(
      idxIn.toDS().toDF("vec_id", "embedding"), cents,
      s"$dir/idx", s"$dir/ckpt")
    val candIn = MemoryStream[(Long, Array[Float])]
    val scored = scala.collection.mutable.Set[(Long, Long, Long)]()
    val candQ = graft.streaming.EmbeddingStreams.nearDupPairsRescored(
      graft.streaming.EmbeddingStreams.nearDupCandidatesStreamSq8(
        candIn.toDS().toDF("vec_id", "embedding"), bands, r, t),
      s"$dir/idx") { batch =>
      scored.synchronized {
        scored ++= batch.collect().map(x =>
          (x.getLong(0), x.getLong(1), math.round(x.getDouble(2) * 1e9)))
      }
    }
    val waves = vecs.sortBy(-_._1).grouped((vecs.size + 2) / 3).toSeq
    waves.foreach { w =>
      idxIn.addData(w); idxQ.processAllAvailable()
      candIn.addData(w); candQ.processAllAvailable()
    }
    idxQ.stop(); candQ.stop()
    val batch = graft.llm.Similarity
      .nearDupPairsMultiProbe(ebatch, bands, r, t).collect()
      .map(x => (x.getLong(0), x.getLong(1), math.round(x.getDouble(2) * 1e9)))
      .toSet
    val streamed = scored.synchronized(scored.toSet)
    assert(streamed == batch,
      s"stream-only: ${(streamed -- batch).take(3)}; batch-only: ${(batch -- streamed).take(3)}")
    assert(streamed.nonEmpty)
  }

  test("sq8Step: dup collapse keeps per-member exact flags; state is one rep per distinct q8") {
    val v = Array.fill(64)(0.5f)
    val twin = v.clone(); twin(0) = v(0) + 1e-4f // same quantization cell
    val far = Array.fill(64)(-0.5f)
    val ts = new java.sql.Timestamp(1000000L)
    val rows = Seq(
      graft.streaming.EmbeddingStreams.TimedProbeRow(1L, 1L, true, v, ts),
      graft.streaming.EmbeddingStreams.TimedProbeRow(1L, 2L, false, twin, ts),
      graft.streaming.EmbeddingStreams.TimedProbeRow(1L, 3L, true, far, ts))
    val (groups, cands) = graft.streaming.EmbeddingStreams.sq8Step(
      rows, Nil, 0L, Long.MaxValue / 4)
    // v and twin collapse into one group (2 members, flags preserved
    // per member); far is its own group
    assert(groups.map(_.size).sorted == List(1, 2))
    val g2 = groups.find(_.size == 2).get
    assert(g2.exacts.toSet == Set(true, false))
    // (1,2) pairs via the exact rule (vec 1 exact); cos(v, far) = -1
    // fails even the slack gate, so no cross pairs
    assert(cands.toSet == Set(
      graft.streaming.EmbeddingStreams.CandPair(1L, 2L)))
  }
}
