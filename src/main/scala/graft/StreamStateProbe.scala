package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Measures the streaming near-dup twins' STATE FOOTPRINT — the
  * evidence behind the r11 state-design claims (VERDICT r10 items
  * 2–3): drive (a) the scored collapsed-state operator
  * ([[graft.streaming.EmbeddingStreams.nearDupPairsStream]]) and
  * (b) the slim candidate operator
  * ([[graft.streaming.EmbeddingStreams.nearDupCandidatesStream]])
  * over the base corpus AND over corpus ∪ a planted 100-copy
  * duplicate cohort, and print each run's state-store rows + bytes
  * from its own progress metrics plus the cohort DELTA per copy.
  * Expected shape: (a)'s bytes grow with DISTINCT vectors only (the
  * 100-copy cohort adds entry-list bytes per copy, 2-3 orders below
  * the bands·(t+1)·dim·4 ≈ 49 KB a distinct vector's representative
  * arrays cost), (b) carries no arrays at all, so its per-copy and
  * per-distinct costs are BOTH at the ids-only scale.
  *
  * Usage: StreamStateProbe [sfDir=/root/testdata/sf0.001 | dim:N]
  *
  * `dim:N` (VERDICT r12 item 3) replaces the 64-dim corpus with a
  * SYNTHETIC one at production dims (512/768): 1000 unique
  * hash-derived vectors of width N, passed to each streaming core as
  * its `dim` argument. At dim 64 the SQ8 state honestly measured
  * only 1.9× under the scored path because per-member framing
  * (id, µs, flag entries + row overhead)
  * dominates a 64 B vector; the 4×-at-production-dims claim was
  * arithmetic until this mode measured it.
  */
object StreamStateProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val synthDim: Option[Int] =
      if (sfDir.startsWith("dim:")) Some(sfDir.stripPrefix("dim:").toInt)
      else None
    // RocksDB: memoryUsedBytes reports REAL serialized bytes
    // (memtable/SST), where the default HDFS-backed store
    // SizeEstimates its in-heap version maps — object and
    // version-cache overhead that buries the state-encoding signal
    val spark = GraftSession.local(confs = Map(
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"))
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val vecs = synthDim match {
      case Some(d) =>
        // unique deterministic vectors, uniform in [-1, 1] per
        // component (seeded per id — collision-free at any width)
        (0L until 1000L).map { id =>
          val rnd = new java.util.Random(0xC0FFEEL + id)
          (id, Array.fill(d)(rnd.nextFloat() * 2f - 1f))
        }
      case None =>
        Tables.embeddings(spark, sfDir)
          .select(col("vec_id"), col("embedding")).collect()
          .map(x => (x.getLong(0), x.getSeq[Float](1).toArray)).toSeq
    }
    val dim = synthDim.getOrElse(graft.llm.Similarity.Dim)
    val shift = vecs.map(_._1).max + 1
    val cohort = (0 until 100).map(k => (shift + k, vecs.head._2))
    val corpus = vecs ++ cohort
    val (bands, r, t) = (graft.llm.Similarity.NearDupBands,
      graft.llm.Similarity.nearDupRepPlanesFor(vecs.size + 1L),
      graft.llm.Similarity.NearDupProbes)
    println(s"[state] n=${corpus.size} (distinct ${vecs.size + 1} among cohort) " +
      s"dials=($bands, $r, $t) probe rows/vec=${bands * (t + 1)}")

    def drive(name: String, data: Seq[(Long, Array[Float])])(
        mk: org.apache.spark.sql.DataFrame =>
          org.apache.spark.sql.Dataset[_]): Long = {
      val in = MemoryStream[(Long, Array[Float])]
      val q = mk(in.toDS().toDF("vec_id", "embedding"))
        .writeStream.format("noop").outputMode("append").start()
      data.grouped((data.size + 1) / 2).foreach { w =>
        in.addData(w); q.processAllAvailable()
      }
      val ops = q.lastProgress.stateOperators
      val mem = ops.map(_.memoryUsedBytes).sum
      // memoryUsedBytes under RocksDB is MEMORY only (memtable +
      // block cache + filters) — once the state outgrows the ~64 MB
      // memtable and flushes, the SST files hold the real mass and
      // memoryUsedBytes silently under-reports (discovered at
      // dim 512, where the scored path measured 67 KB/distinct
      // against a 393 KB/distinct array mass). Total = memory + SST
      // (the cache double-counts a little of the SST — acceptable
      // for operator-vs-operator comparison, and zero before any
      // flush, where r12's dim-64 numbers were honest).
      val sst = ops.map(o =>
        Option(o.customMetrics.get("rocksdbSstFileSize"))
          .map(_.longValue).getOrElse(0L)).sum
      val bytes = mem + sst
      val rows = ops.map(_.numRowsTotal).sum
      println(f"[state] $name%-14s rows=$rows%9d bytes=$bytes%12d " +
        f"(mem=$mem%12d sst=$sst%12d) " +
        f"(${bytes.toDouble / data.size}%9.1f B/vec over ${data.size}%6d)")
      q.stop()
      bytes
    }

    def both(name: String)(mk: org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.Dataset[_]): Unit = {
      val base = drive(s"$name/base", vecs)(mk)
      val dup = drive(s"$name/+cohort", corpus)(mk)
      println(f"[state] $name%-14s cohort delta=${dup - base}%10d B " +
        f"= ${(dup - base) / 100.0}%9.1f B/copy " +
        f"(a DISTINCT vector's arrays cost ${bands * (t + 1) * vecs.head._2.length * 4}%d B)")
    }

    both("scored") { df =>
      graft.streaming.EmbeddingStreams.nearDupPairsStream(df, bands, r, t, dim) }
    both("sq8") { df =>
      graft.streaming.EmbeddingStreams.nearDupCandidatesStreamSq8(df, bands, r, t, dim) }
    both("slim") { df =>
      graft.streaming.EmbeddingStreams.nearDupCandidatesStream(df, bands, r, t, dim) }
    // decisive wedge: m identical vectors ALONE. Collapsed state is
    // 192 buckets × (ONE emb + m 16 B entries); a broken collapse
    // stores m arrays per bucket (≈ m × 49 KB). The dup10→dup100
    // marginal isolates the per-copy cost from the per-bucket
    // constants (and from RocksDB version churn, which dominates the
    // mixed-corpus deltas above).
    def dupMarginal(name: String)(mk: org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.Dataset[_]): Unit = {
      val b10 = drive(s"$name/dup10", cohort.take(10))(mk)
      val b100 = drive(s"$name/dup100", cohort)(mk)
      println(f"[state] $name%-14s per-copy marginal=" +
        f"${(b100 - b10) / 90.0}%8.1f B (uncollapsed would add " +
        f"${bands * (t + 1) * vecs.head._2.length * 4}%d B/copy)")
    }
    dupMarginal("scored") { df =>
      graft.streaming.EmbeddingStreams.nearDupPairsStream(df, bands, r, t, dim) }
    dupMarginal("sq8") { df =>
      graft.streaming.EmbeddingStreams.nearDupCandidatesStreamSq8(df, bands, r, t, dim) }
    dupMarginal("slim") { df =>
      graft.streaming.EmbeddingStreams.nearDupCandidatesStream(df, bands, r, t, dim) }
    spark.stop()
  }
}
