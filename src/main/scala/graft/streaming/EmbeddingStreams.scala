package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}
import graft.llm.Similarity

/** Incremental maintenance of the on-disk IVF index — how a 100 TB
  * embedding index actually gets BUILT: embeddings arrive as a stream
  * (new documents being embedded), each micro-batch runs the same
  * zero-shuffle literal-centroid assignment as batch
  * ([[Similarity.assignWith]] — one codegen'd cosine per centroid per
  * row), and the parquet sink appends the rows into the SAME
  * cell-partitioned layout [[Similarity.probeIvfIndex]] reads. The
  * sink's commit log makes the append exactly-once across restarts,
  * and probes running between micro-batches always see a consistent
  * prefix of the stream.
  *
  * Centroids are fixed at index-creation time (passed in, inlined as
  * literals) — the standard IVF contract: re-clustering means
  * re-indexing, arriving vectors never move existing ones.
  * StreamBatchParitySpec streams a corpus in two waves and asserts the
  * probe over the streamed index equals the batch in-memory IVF top-k
  * over the full corpus.
  */
object EmbeddingStreams {

  /** Start the index-maintenance stream: `embs` must be a streaming
    * (vec_id, embedding) frame; rows land in `path` partitioned by
    * cell, exactly-once via `checkpoint`.
    */
  def ivfIndexStream(embs: DataFrame, cents: Array[Array[Float]],
      path: String, checkpoint: String): StreamingQuery =
    Similarity.assignWith(embs, cents)
      .writeStream
      .format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .partitionBy("cell")
      .outputMode("append")
      .start()

  case class NearDupPair(vec_a: Long, vec_b: Long, cos: Double)
  // public: Dataset encoders codegen `new TimedProbeRow(...)` from
  // generated classes, which cannot touch private members
  case class TimedProbeRow(band_bucket: Long, vec_id: Long, exact: Boolean,
      embedding: Array[Float], ts: java.sql.Timestamp)
  /** One DISTINCT embedding registered in a bucket: the representative
    * vector ONCE, plus every copy's (vec_id, micros) as PARALLEL
    * PRIMITIVE ARRAYS — the [[Similarity.nearDupWithDupCollapse]] rep
    * discipline carried into streaming state. The collapse is what
    * bounds the BYTES: with the RocksDB provider (real serialized
    * sizes) a duplicate copy measured ~1.6 KB marginal state vs the
    * 49 KB a distinct vector's probe-bucket arrays cost (BASELINE.md
    * round 11).
    * Arrays rather than `List[(Long, Long)]` bound the PER-BATCH CPU:
    * every micro-batch decode/encode of a hot bucket walks its
    * entries, and the primitive-array codec does that without
    * materializing a boxed Tuple2 + cons cell per entry (and appends
    * O(1) amortized via buffers in [[collapsedStep]]).
    */
  case class DistinctGroup(exact: Boolean, emb: Array[Float],
      ids: Array[Long], tss: Array[Long]) {
    def size: Int = ids.length
  }
  /** STATE FORMAT v2 (round 11): the members list became
    * `List[DistinctGroup]` (one rep per distinct embedding, parallel
    * primitive arrays). This is an ENCODER-INCOMPATIBLE break with
    * the v1 flat member list — a `nearDupPairsStreamTtl` query
    * restarted from a pre-v2 checkpoint will fail to decode (or
    * misdecode) its state; discard old checkpoints when upgrading.
    */
  case class TimedBucketState(groups: List[DistinctGroup])

  /** `ttl` as event-time MICROSECONDS (the precision events carry),
    * saturated for effectively-infinite ttls: `Duration.toNanos`
    * overflows past ~292 years, and [[unbounded]] passes 10k
    * years. The saturation value keeps `memberUs + ttlUs` far
    * from Long overflow for any epoch-scale member instant. Shared by
    * every TTL stream ([[DocStreams.minhashDedupStreamTtl]] too).
    */
  private[streaming] def ttlMicrosOf(ttl: java.time.Duration): Long =
    if (ttl.getSeconds > 9000000000L) Long.MaxValue / 4
    else math.floorDiv(ttl.toNanos, 1000L)

  /** Watermark ms → a conservative µs bound: the true event-time
    * watermark is ≥ `wmMs·1000`, so evicting only below this bound
    * never evicts a member a future non-late row could still pair
    * with (eviction stays pure GC at full precision).
    */
  private def wmMicros(wmMs: Long): Long = wmMs * 1000L

  /** The collapsed-state transition for ONE bucket and one batch of
    * arrivals — a pure function, unit-tested directly
    * (EmbedDupStreamSpec) so the O(distinct-vectors) state bound is
    * asserted on the data structure, not inferred from timings.
    *
    * Arrivals process in vec_id order (deterministic replay); each
    * row scores ONCE per distinct group (not once per member) and
    * pairs with every in-ttl entry of a gate-passing group; identical
    * vectors (bit-equal float arrays) collapse into one group whose
    * representative array is stored once. The gate and the gap are
    * both full-microseconds (`EventStreams.micros`): sub-ms gaps
    * straddling the ttl boundary classify exactly, not on truncated
    * `getTime` ms (the r10 sessionize/compactStream bug class).
    */
  /** Mutable in-step twin of [[DistinctGroup]]: growable buffers so a
    * duplicate cohort appends in O(1) amortized per copy (rebuilding
    * immutable arrays per arrival would be O(m²) per batch).
    */
  private final class GroupW(val exact: Boolean, val emb: Array[Float],
      val ids: scala.collection.mutable.ArrayBuffer[Long],
      val tss: scala.collection.mutable.ArrayBuffer[Long])

  private[streaming] def collapsedStep(rows: Seq[TimedProbeRow],
      prior: List[DistinctGroup], wmMs: Long, ttlUs: Long)
      : (List[DistinctGroup], List[NearDupPair]) = {
    val wmUs = wmMicros(wmMs)
    var groups: List[GroupW] = prior.flatMap { g =>
      val ids = new scala.collection.mutable.ArrayBuffer[Long](g.size)
      val tss = new scala.collection.mutable.ArrayBuffer[Long](g.size)
      var i = 0
      while (i < g.size) {
        if (g.tss(i) + ttlUs >= wmUs) { ids += g.ids(i); tss += g.tss(i) }
        i += 1
      }
      if (ids.isEmpty) Nil else new GroupW(g.exact, g.emb, ids, tss) :: Nil
    }
    val out = List.newBuilder[NearDupPair]
    rows.sortBy(_.vec_id).foreach { row =>
      val rowUs = EventStreams.micros(row.ts)
      var own: GroupW = null
      groups.foreach { g =>
        if (own == null && java.util.Arrays.equals(g.emb, row.embedding))
          own = g
        // identical embeddings have identical probe sets, so a
        // group's exact flag holds for every copy — the batch
        // candidate rule `e(y) ∈ P(x) ∨ e(x) ∈ P(y)` evaluates once
        // per group (probe-probe contacts skipped, as in batch)
        if (row.exact || g.exact) {
          val cos = graft.functions.CosineSim.score(row.embedding, g.emb)
          if (cos >= 0.35) {
            var i = 0
            while (i < g.ids.length) {
              if (g.ids(i) != row.vec_id
                  && math.abs(rowUs - g.tss(i)) <= ttlUs)
                out += NearDupPair(math.min(g.ids(i), row.vec_id),
                  math.max(g.ids(i), row.vec_id), cos)
              i += 1
            }
          }
        }
      }
      if (own != null) { own.ids += row.vec_id; own.tss += rowUs }
      else groups ::= new GroupW(row.exact, row.embedding,
        scala.collection.mutable.ArrayBuffer(row.vec_id),
        scala.collection.mutable.ArrayBuffer(rowUs))
    }
    (groups.map(g => DistinctGroup(g.exact, g.emb, g.ids.toArray,
      g.tss.toArray)), out.result())
  }

  /** Streaming near-duplicate pairs with a sliding event-time TTL —
    * the incremental twin of [[Similarity.nearDupPairsMultiProbe]]
    * and the [[DocStreams.minhashDedupStreamTtl]] recall/storage
    * dial applied to pairs. Each arriving vector is REGISTERED under
    * its t+1 margin-probe buckets per band
    * ([[graft.functions.HyperplaneProbes]], position 0 = the exact
    * bucket) and PAIRED against the bucket's existing members within
    * `ttl`. A pair emits iff at least one side's registration in the
    * shared bucket is exact — precisely the batch candidate
    * condition `e(y) ∈ P(x) ∨ e(x) ∈ P(y)` (probe-probe contacts are
    * NOT batch candidates and are skipped) — scored inline with the
    * bitwise batch cosine ([[graft.functions.CosineSim.score]]) and
    * gated at ≥ 0.35, so a drained stream's pair set equals the
    * batch query's over gap-≤-ttl pairs (StreamBatchParitySpec).
    *
    * Pairing gates on the EVENT-TIME gap ≤ `ttl` at FULL MICROSECOND
    * precision ([[EventStreams.micros]], not ms-truncated `getTime`)
    * — a deterministic rule, independent of watermark lag and batch
    * boundaries, exact even for sub-ms gaps straddling the ttl
    * boundary (adversarial ±µs fixtures in StreamBatchParitySpec) —
    * and bucket members garbage-collect once the watermark proves no
    * future non-late arrival can still pair with them
    * (`member_us + ttl_us < wm_ms·1000 ≤ true watermark`: a
    * surviving future row has `ts ≥ watermark`, so its gap would
    * exceed `ttl` anyway; eviction is pure GC, never a semantics
    * change).
    *
    * Emission is AT-LEAST-ONCE per pair (a pair meeting in several
    * bands emits per meeting — the [[graft.streaming.EventStreams]]
    * fact-emission discipline; consumers dedup by (vec_a, vec_b),
    * and the parity spec compares sets). Within a micro-batch,
    * arrivals process in vec_id order, so replayed batches emit
    * deterministically.
    *
    * STATE COST: bucket state is EXACT-DUPLICATE COLLAPSED — one
    * representative array per distinct embedding plus an id+micros
    * entry list ([[collapsedStep]]), the
    * [[Similarity.nearDupWithDupCollapse]] identity argument applied
    * to state (identical vectors have identical signatures, probes
    * and cosines, so pairing every entry of a group against one
    * representative score emits exactly the direct construction's
    * pairs). A duplicate-heavy stream — the web-scale reality that
    * killed the uncollapsed BATCH run at ×1000 — holds
    * bands·(t+1)·dim·4 bytes per DISTINCT vector (≈ 49 KB at the
    * defaults) plus ~1.6 KB measured marginal per copy (16 B of
    * (id, µs) × bands·(t+1) registrations; BASELINE.md round 11), and
    * scores once per distinct group, not m² per duplicate cohort.
    * Holding the float reps is what lets the stream emit the scored
    * answer itself: an ids-only or int8 state is smaller, but emits
    * candidates (23× the true pairs for int8 at sf0.1, ROADMAP
    * direction 4) that still need a rescore against a vector store.
    */
  def nearDupPairsStreamTtl(embs: DataFrame, bands: Int, r: Int,
      t: Int, ttl: java.time.Duration,
      watermarkDelay: String = "10 minutes",
      dim: Int = Similarity.Dim): Dataset[NearDupPair] = {
    import embs.sparkSession.implicits._
    val ttlUs = ttlMicrosOf(ttl)
    // t+1 margin probes per band ([[graft.functions.HyperplaneProbes]];
    // `dim` is a plan-time constant of the probe expression), packed
    // with the band into one grouping key: band = pos/(t+1), bucket
    // is a non-negative r-bit int
    val probed = embs
      .withWatermark("ts", watermarkDelay)
      .select(col("vec_id"), col("ts"),
        posexplode(graft.functions.HyperplaneProbes.hyperplane_probes(
          col("embedding"), bands, r, dim, t)).as(Seq("pos", "bucket")),
        col("embedding"))
      .select(
        ((col("pos") / (t + 1)).cast("long") * lit(4294967296L)
          + col("bucket")).as("band_bucket"),
        col("vec_id"),
        (pmod(col("pos"), lit(t + 1)) === 0).as("exact"),
        col("ts"), col("embedding"))
      .as[TimedProbeRow]
    probed
      .groupByKey(_.band_bucket)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout) {
        (_: Long, rows: Iterator[TimedProbeRow],
            state: GroupState[TimedBucketState]) =>
          val wm = state.getCurrentWatermarkMs()
          val (groups, pairs) = collapsedStep(rows.toSeq,
            state.getOption.map(_.groups).getOrElse(Nil), wm, ttlUs)
          if (groups.isEmpty) state.remove()
          else {
            state.update(TimedBucketState(groups))
            // wake at the first ms instant whose µs lower bound passes
            // the earliest entry expiry, to GC (timeout must sit past
            // the current watermark)
            val minUs = groups.iterator
              .flatMap(_.tss.iterator).min
            state.setTimeoutTimestamp(
              math.max(math.floorDiv(minUs + ttlUs, 1000L) + 1, wm + 1))
          }
          pairs.iterator
      }
  }

  /** Unbounded variant over a (vec_id, embedding) stream: the TTL
    * machinery through [[unbounded]] — every pair gap is 0, nothing
    * ever evicts, and the drained pair set equals the batch multiprobe
    * query over the WHOLE corpus (StreamBatchParitySpec). One
    * implementation, two bounds: the TTL variant above is the only
    * stateful core.
    */
  def nearDupPairsStream(embs: DataFrame, bands: Int, r: Int,
      t: Int = Similarity.NearDupProbes,
      dim: Int = Similarity.Dim): Dataset[NearDupPair] =
    unbounded(embs)((e, ttl, delay) =>
      nearDupPairsStreamTtl(e, bands, r, t, ttl, delay, dim))

  /** Run a TTL stream as its unbounded twin: a constant event time
    * `ts` and an effectively infinite ttl, so nothing ever expires.
    * The constant instant sits far in the future with a delay larger
    * still, pinning the watermark at zero STRICTLY BELOW every row —
    * a constant AT the watermark would be dropped as late data.
    */
  private[streaming] def unbounded[T](rows: DataFrame)(
      ttlStream: (DataFrame, java.time.Duration, String) => T): T =
    ttlStream(rows.withColumn("ts", timestamp_seconds(lit(7258118400L))),
      java.time.Duration.ofDays(3650000L), "3650000 days")
}
