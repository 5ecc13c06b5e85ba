package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset}
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

  /** Running per-label centroid maintenance over a streaming
    * (label, embedding) frame — the monitoring companion to the index
    * stream: as embeddings arrive, each label's mean vector updates
    * incrementally. The fixed-point BIGINT partials
    * ([[Similarity.centroidsOf]]) are associative, so streaming state
    * is 24 bytes per (label, dim) no matter how many vectors flow
    * through, micro-batch boundaries can't change the result, and the
    * drained aggregate is bit-identical to running the batch query
    * over the same rows (StreamBatchParitySpec).
    */
  def centroidStream(embs: DataFrame): DataFrame =
    Similarity.centroidsOf(embs)

  case class NearDupPair(vec_a: Long, vec_b: Long, cos: Double)
  // public: Dataset encoders codegen `new TimedProbeRow(...)` from
  // generated classes, which cannot touch private members
  case class TimedProbeRow(band_bucket: Long, vec_id: Long, exact: Boolean,
      embedding: Array[Float], ts: java.sql.Timestamp)
  /** One DISTINCT embedding registered in a bucket: the representative
    * vector ONCE, plus every copy's (vec_id, micros) as PARALLEL
    * PRIMITIVE ARRAYS — the [[Similarity.nearDupWithDupCollapse]] rep
    * discipline carried into streaming state. The collapse is what
    * bounds the BYTES: StreamStateProbe (RocksDB provider, real
    * serialized sizes) measures ~1.6 KB marginal state per duplicate
    * copy vs the 49 KB a distinct vector's probe-bucket arrays cost.
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
    * overflows past ~292 years, and the unbounded wrapper passes
    * 10k years. The saturation value keeps `memberUs + ttlUs` far
    * from Long overflow for any epoch-scale member instant.
    */
  private def ttlMicrosOf(ttl: java.time.Duration): Long =
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
    * (id, µs) × bands·(t+1) registrations; StreamStateProbe), and
    * scores once per distinct group, not m² per duplicate cohort.
    * For stream rates where even
    * per-distinct arrays are too much state, use the slim composed
    * path: [[nearDupCandidatesStreamTtl]] (ids-only state) +
    * [[rescoreCandidates]] in foreachBatch against the accumulating
    * [[ivfIndexStream]] layout.
    */
  def nearDupPairsStreamTtl(embs: DataFrame, bands: Int, r: Int,
      t: Int, ttl: java.time.Duration,
      watermarkDelay: String = "10 minutes",
      dim: Int = Similarity.Dim): Dataset[NearDupPair] = {
    import embs.sparkSession.implicits._
    val ttlUs = ttlMicrosOf(ttl)
    val probed = probeExplode(embs, bands, r, t, dim, watermarkDelay,
        Seq(col("embedding")))
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
    * machinery with a constant event time and an effectively
    * infinite ttl — every pair gap is 0, nothing ever evicts, and
    * the drained pair set equals the batch multiprobe query over the
    * WHOLE corpus (StreamBatchParitySpec). One implementation, two
    * bounds: the TTL variant above is the only stateful core.
    *
    * The constant instant sits far in the future with a delay larger
    * still, pinning the watermark at zero STRICTLY BELOW every row —
    * a constant AT the watermark would be dropped as late data.
    */
  def nearDupPairsStream(embs: DataFrame, bands: Int, r: Int,
      t: Int = Similarity.NearDupProbes,
      dim: Int = Similarity.Dim): Dataset[NearDupPair] =
    nearDupPairsStreamTtl(
      embs.withColumn("ts", timestamp_seconds(lit(7258118400L))),
      bands, r, t, java.time.Duration.ofDays(3650000L), "3650000 days", dim)

  // ---------------------------------------------------------------
  // Slim composed path: candidate-only state + foreachBatch rescore
  // ---------------------------------------------------------------

  case class CandPair(vec_a: Long, vec_b: Long)
  case class SlimProbeRow(band_bucket: Long, vec_id: Long, exact: Boolean,
      ts: java.sql.Timestamp)
  /** Parallel primitive arrays for the same per-batch-CPU reason as
    * [[DistinctGroup]]. The slim state's byte story is
    * dim-INDEPENDENCE: ~56 B/registration measured end-to-end
    * (StreamStateProbe, RocksDB) with no embedding arrays at all,
    * where the scored twin pays bands·(t+1)·dim·4 per distinct
    * vector — at production dims (768+) that is 3 orders of
    * magnitude, which is what lets the candidate operator absorb
    * stream rates whose vectors can't live in state.
    */
  case class SlimBucketState(ids: Array[Long], exacts: Array[Boolean],
      tss: Array[Long]) {
    def size: Int = ids.length
  }

  /** Shared probe-explode prep: watermark, t+1 margin probes per band
    * ([[graft.functions.HyperplaneProbes]]), the packed
    * (band, bucket) grouping key and the exact flag; `extra` chooses
    * whether the embedding rides along (scored path) or not (slim
    * path — dropping it here is what divides the shuffle mass by
    * ≈ dim·4 bytes per probe row). `dim` is the vector width, a
    * plan-time constant of the probe expression: the corpus's
    * [[Similarity.Dim]] unless the caller streams another width.
    */
  private def probeExplode(embs: DataFrame, bands: Int, r: Int, t: Int,
      dim: Int, watermarkDelay: String, extra: Seq[Column]): DataFrame =
    embs
      .withWatermark("ts", watermarkDelay)
      .select(Seq(col("vec_id"), col("ts"),
        posexplode(graft.functions.HyperplaneProbes.hyperplane_probes(
          col("embedding"), bands, r, dim, t))
          .as(Seq("pos", "bucket"))) ++ extra: _*)
      // pack (band, bucket) into one grouping key: band = pos/(t+1),
      // bucket is a non-negative r-bit int
      .select(Seq(
        ((col("pos") / (t + 1)).cast("long") * lit(4294967296L)
          + col("bucket")).as("band_bucket"),
        col("vec_id"),
        (pmod(col("pos"), lit(t + 1)) === 0).as("exact"),
        col("ts")) ++ extra: _*)

  /** Slim-state transition for one bucket — same candidate rule and
    * full-µs ttl gate as [[collapsedStep]], NO scoring and NO arrays:
    * state is 17 bytes of (vec_id, exact, micros) per registration
    * (~56 B with store overhead, StreamStateProbe — dim-independent),
    * which is what lets the candidate operator absorb stream rates
    * whose vectors can't live in state at all.
    */
  private[streaming] def slimStep(rows: Seq[SlimProbeRow],
      prior: SlimBucketState, wmMs: Long, ttlUs: Long)
      : (SlimBucketState, List[CandPair]) = {
    val wmUs = wmMicros(wmMs)
    val ids = new scala.collection.mutable.ArrayBuffer[Long](prior.size)
    val exacts = new scala.collection.mutable.ArrayBuffer[Boolean](prior.size)
    val tss = new scala.collection.mutable.ArrayBuffer[Long](prior.size)
    var i = 0
    while (i < prior.size) {
      if (prior.tss(i) + ttlUs >= wmUs) {
        ids += prior.ids(i); exacts += prior.exacts(i); tss += prior.tss(i)
      }
      i += 1
    }
    val out = List.newBuilder[CandPair]
    rows.sortBy(_.vec_id).foreach { row =>
      val rowUs = EventStreams.micros(row.ts)
      var j = 0
      while (j < ids.length) {
        if (ids(j) != row.vec_id && (row.exact || exacts(j))
            && math.abs(rowUs - tss(j)) <= ttlUs)
          out += CandPair(math.min(ids(j), row.vec_id),
            math.max(ids(j), row.vec_id))
        j += 1
      }
      ids += row.vec_id; exacts += row.exact; tss += rowUs
    }
    (SlimBucketState(ids.toArray, exacts.toArray, tss.toArray),
      out.result())
  }

  /** UNSCORED candidate pairs with the same TTL/candidate semantics
    * as [[nearDupPairsStreamTtl]] but ids-only state — the promised
    * slim-state composition half: downstream, [[rescoreCandidates]]
    * (typically in `foreachBatch`) joins the candidates against the
    * accumulating [[ivfIndexStream]] parquet layout and applies the
    * cosine gate, reproducing the scored operator's pair set exactly
    * (StreamBatchParitySpec drains both paths to the same batch
    * multiprobe set). Candidates are emitted at-least-once and
    * UNFILTERED by cosine — by construction a superset per the LSH
    * candidate rule; the rescore is where the ≥ 0.35 gate lives.
    */
  def nearDupCandidatesStreamTtl(embs: DataFrame, bands: Int, r: Int,
      t: Int, ttl: java.time.Duration,
      watermarkDelay: String = "10 minutes",
      dim: Int = Similarity.Dim): Dataset[CandPair] = {
    import embs.sparkSession.implicits._
    val ttlUs = ttlMicrosOf(ttl)
    val probed = probeExplode(embs, bands, r, t, dim, watermarkDelay, Nil)
      .as[SlimProbeRow]
    probed
      .groupByKey(_.band_bucket)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout) {
        (_: Long, rows: Iterator[SlimProbeRow],
            state: GroupState[SlimBucketState]) =>
          val wm = state.getCurrentWatermarkMs()
          val (members, cands) = slimStep(rows.toSeq,
            state.getOption.getOrElse(
              SlimBucketState(Array.emptyLongArray,
                Array.emptyBooleanArray, Array.emptyLongArray)),
            wm, ttlUs)
          if (members.size == 0) state.remove()
          else {
            state.update(members)
            state.setTimeoutTimestamp(math.max(
              math.floorDiv(members.tss.min + ttlUs, 1000L) + 1,
              wm + 1))
          }
          cands.iterator
      }
  }

  /** Unbounded slim-candidate variant — the [[nearDupPairsStream]]
    * constant-instant trick over the candidate core.
    */
  def nearDupCandidatesStream(embs: DataFrame, bands: Int, r: Int,
      t: Int = Similarity.NearDupProbes,
      dim: Int = Similarity.Dim): Dataset[CandPair] =
    nearDupCandidatesStreamTtl(
      embs.withColumn("ts", timestamp_seconds(lit(7258118400L))),
      bands, r, t, java.time.Duration.ofDays(3650000L), "3650000 days", dim)

  // ---------------------------------------------------------------
  // SQ8 composed path: int8-quantized gated candidates + rescore
  // ---------------------------------------------------------------

  /** One distinct QUANTIZED embedding registered in a bucket: the
    * int8 rep once (dim bytes — 4× less than the scored path's float
    * rep), plus every copy's (exact, vec_id, micros) as parallel
    * primitive arrays. Unlike [[DistinctGroup]], the exact flag is
    * PER MEMBER: two near-equal float vectors can quantize to the
    * same rep while their probe sets (and so their exact flags in
    * this bucket) differ, and the batch candidate rule needs each
    * member's own flag.
    */
  case class Sq8Group(q8: Array[Byte], exacts: Array[Boolean],
      ids: Array[Long], tss: Array[Long]) {
    def size: Int = ids.length
  }
  case class Sq8BucketState(groups: List[Sq8Group])

  /** Per-vector symmetric int8 scalar quantization — the byte-level
    * twin of [[Similarity]]'s `sq8Col` (`scale = 127/max|v|`,
    * `q = floor(v·scale + 0.5)`); the zero vector quantizes to zeros.
    */
  private[streaming] def sq8Quantize(v: Array[Float]): Array[Byte] = {
    var mx = 0.0
    var i = 0
    while (i < v.length) { val a = math.abs(v(i).toDouble); if (a > mx) mx = a; i += 1 }
    val out = new Array[Byte](v.length)
    if (mx == 0.0) return out
    val scale = 127.0 / mx
    i = 0
    while (i < v.length) {
      out(i) = math.floor(v(i) * scale + 0.5).toByte; i += 1
    }
    out
  }

  /** Cosine between two int8-quantized vectors: exact integer dot
    * (≤ dim·127², nowhere near Long overflow) over float norms —
    * per-vector scales cancel in the ratio, so this approximates the
    * TRUE cosine up to rounding error only.
    */
  private[streaming] def sq8Cos(a: Array[Byte], b: Array[Byte]): Double = {
    var dot = 0L; var na = 0L; var nb = 0L
    var i = 0
    while (i < a.length) {
      dot += a(i).toLong * b(i); na += a(i).toLong * a(i)
      nb += b(i).toLong * b(i); i += 1
    }
    if (na == 0L || nb == 0L) 0.0
    else dot / math.sqrt(na.toDouble * nb.toDouble)
  }

  /** Conservative in-state gate slack for [[sq8Step]]: candidates are
    * gated at `0.35 − Sq8GateMargin` on the QUANTIZED cosine, so no
    * true ≥ 0.35 pair is lost before the exact-float rescore trims
    * the overshoot. Bound (d = 64): per-component rounding error is
    * ≤ 0.5/scale, so ‖Δv‖/‖v‖ ≤ 0.5·√d/127 ≈ 0.0315 per side; the
    * row additionally scores against its group's REP, whose true
    * vector sits within one quantization step per component of the
    * member's (they quantize equal), adding ≤ 2×0.0315. First-order
    * cosine perturbation ≤ Σ of the relative errors ≈ 0.13 < 0.15.
    * Sq8StreamSpec measures the realized |qcos − cos| gap on the
    * corpus (~0.01 typical) and asserts it under the margin.
    */
  val Sq8GateMargin: Double = 0.15

  private final class Sq8GroupW(val q8: Array[Byte],
      val exacts: scala.collection.mutable.ArrayBuffer[Boolean],
      val ids: scala.collection.mutable.ArrayBuffer[Long],
      val tss: scala.collection.mutable.ArrayBuffer[Long])

  /** Quantized-state transition for one bucket — [[collapsedStep]]'s
    * candidate semantics with int8 reps and NO inline scoring: pairs
    * pass the batch candidate rule (`row.exact || member.exact`, gap
    * ≤ ttl) plus the conservative quantized gate, and emit as
    * UNSCORED [[CandPair]]s for the foreachBatch exact-float rescore
    * ([[rescoreCandidatesSplit]] against the [[ivfIndexStream]]
    * store). Parity: the gate slack ([[Sq8GateMargin]]) covers the
    * quantization error, so the candidate set is a SUPERSET of the
    * batch pair set restricted to bucket co-membership, and the
    * exact rescore's ≥ 0.35 gate equals the batch gate — the drained
    * composition reproduces the batch pairs exactly
    * (StreamBatchParitySpec). The middle state/emission operating
    * point: ~4× less distinct-state than the scored path (bytes vs
    * floats), candidate volume ≈ true pairs instead of the slim
    * path's every-bucket-collision.
    */
  private[streaming] def sq8Step(rows: Seq[TimedProbeRow],
      prior: List[Sq8Group], wmMs: Long, ttlUs: Long)
      : (List[Sq8Group], List[CandPair]) = {
    val wmUs = wmMicros(wmMs)
    var groups: List[Sq8GroupW] = prior.flatMap { g =>
      val exacts = new scala.collection.mutable.ArrayBuffer[Boolean](g.size)
      val ids = new scala.collection.mutable.ArrayBuffer[Long](g.size)
      val tss = new scala.collection.mutable.ArrayBuffer[Long](g.size)
      var i = 0
      while (i < g.size) {
        if (g.tss(i) + ttlUs >= wmUs) {
          exacts += g.exacts(i); ids += g.ids(i); tss += g.tss(i)
        }
        i += 1
      }
      if (ids.isEmpty) Nil else new Sq8GroupW(g.q8, exacts, ids, tss) :: Nil
    }
    val gate = 0.35 - Sq8GateMargin
    val out = List.newBuilder[CandPair]
    rows.sortBy(_.vec_id).foreach { row =>
      val rowUs = EventStreams.micros(row.ts)
      val q8r = sq8Quantize(row.embedding)
      var own: Sq8GroupW = null
      groups.foreach { g =>
        if (own == null && java.util.Arrays.equals(g.q8, q8r)) own = g
        if (sq8Cos(q8r, g.q8) >= gate) {
          var i = 0
          while (i < g.ids.length) {
            if (g.ids(i) != row.vec_id && (row.exact || g.exacts(i))
                && math.abs(rowUs - g.tss(i)) <= ttlUs)
              out += CandPair(math.min(g.ids(i), row.vec_id),
                math.max(g.ids(i), row.vec_id))
            i += 1
          }
        }
      }
      if (own != null) {
        own.exacts += row.exact; own.ids += row.vec_id; own.tss += rowUs
      } else groups ::= new Sq8GroupW(q8r,
        scala.collection.mutable.ArrayBuffer(row.exact),
        scala.collection.mutable.ArrayBuffer(row.vec_id),
        scala.collection.mutable.ArrayBuffer(rowUs))
    }
    (groups.map(g => Sq8Group(g.q8, g.exacts.toArray, g.ids.toArray,
      g.tss.toArray)), out.result())
  }

  /** Candidate pairs with [[nearDupPairsStreamTtl]]'s TTL/candidate
    * semantics but INT8-QUANTIZED distinct-collapsed state and a
    * conservative quantized pre-gate — compose with
    * [[nearDupPairsRescored]] for exact scores.
    */
  def nearDupCandidatesStreamSq8Ttl(embs: DataFrame, bands: Int, r: Int,
      t: Int, ttl: java.time.Duration,
      watermarkDelay: String = "10 minutes",
      dim: Int = Similarity.Dim): Dataset[CandPair] = {
    import embs.sparkSession.implicits._
    val ttlUs = ttlMicrosOf(ttl)
    val probed = probeExplode(embs, bands, r, t, dim, watermarkDelay,
        Seq(col("embedding")))
      .as[TimedProbeRow]
    probed
      .groupByKey(_.band_bucket)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout) {
        (_: Long, rows: Iterator[TimedProbeRow],
            state: GroupState[Sq8BucketState]) =>
          val wm = state.getCurrentWatermarkMs()
          val (groups, cands) = sq8Step(rows.toSeq,
            state.getOption.map(_.groups).getOrElse(Nil), wm, ttlUs)
          if (groups.isEmpty) state.remove()
          else {
            state.update(Sq8BucketState(groups))
            val minUs = groups.iterator.flatMap(_.tss.iterator).min
            state.setTimeoutTimestamp(
              math.max(math.floorDiv(minUs + ttlUs, 1000L) + 1, wm + 1))
          }
          cands.iterator
      }
  }

  /** Unbounded SQ8-candidate variant — the [[nearDupPairsStream]]
    * constant-instant trick.
    */
  def nearDupCandidatesStreamSq8(embs: DataFrame, bands: Int, r: Int,
      t: Int = Similarity.NearDupProbes,
      dim: Int = Similarity.Dim): Dataset[CandPair] =
    nearDupCandidatesStreamSq8Ttl(
      embs.withColumn("ts", timestamp_seconds(lit(7258118400L))),
      bands, r, t, java.time.Duration.ofDays(3650000L), "3650000 days", dim)

  /** Rescore one micro-batch of candidate pairs against the on-disk
    * vector store ([[ivfIndexStream]]'s layout — the index IS the
    * vector store, no second table), SPLITTING matched from missed:
    * dedup the at-least-once candidate emissions, pull both sides'
    * embeddings in ONE store scan (broadcast semi-probe by the
    * batch's distinct ids — bounded by arrival rate, orders of
    * magnitude below the store), then two broadcast left joins of the
    * tiny candidate set against the tiny hit set. Returns
    * `(scored, missed)`: scored passed the cosine ≥ 0.35 gate with
    * BOTH vectors present; missed pairs had at least one side absent
    * from the store (the index stream hasn't committed that vector
    * yet) and must be retried or dead-lettered — silently dropping
    * them was the round-11 advisory bug: emissions are
    * at-least-once per pair, not per batch, so a pair missed once
    * never reappears on its own.
    */
  def rescoreCandidatesSplit(cands: DataFrame, indexPath: String)
      : (DataFrame, DataFrame) = {
    val spark = cands.sparkSession
    val c = cands.select(col("vec_a"), col("vec_b")).distinct()
    val ids = c.select(explode(array(col("vec_a"), col("vec_b"))).as("vec_id"))
      .distinct()
    val store = spark.read
      .schema("vec_id BIGINT, embedding ARRAY<FLOAT>, label INT, cell INT")
      .parquet(indexPath)
    // one store scan: keep only the batch's vectors (broadcast hash
    // semi-probe), yielding a hit set no larger than 2× the batch
    val hits = store.join(broadcast(ids), "vec_id")
      .select(col("vec_id"), col("embedding"))
    val joined = c
      .join(broadcast(hits.select(col("vec_id").as("vec_a"),
        col("embedding").as("emb_a"))), Seq("vec_a"), "left")
      .join(broadcast(hits.select(col("vec_id").as("vec_b"),
        col("embedding").as("emb_b"))), Seq("vec_b"), "left")
    val scored = joined
      .filter(col("emb_a").isNotNull && col("emb_b").isNotNull)
      .withColumn("cos",
        graft.functions.CosineSim.cosine_sim(col("emb_a"), col("emb_b")))
      .filter(col("cos") >= 0.35)
      .select(col("vec_a"), col("vec_b"), col("cos"))
    val missed = joined
      .filter(col("emb_a").isNull || col("emb_b").isNull)
      .select(col("vec_a"), col("vec_b"))
    (scored, missed)
  }

  /** The matched half of [[rescoreCandidatesSplit]] — kept for callers
    * that manage misses themselves.
    */
  def rescoreCandidates(cands: DataFrame, indexPath: String): DataFrame =
    rescoreCandidatesSplit(cands, indexPath)._1

  /** Resolve which on-disk generation of the retry set is live.
    * [[nearDupPairsRescored]]'s swap is rename-aside (dir.stage →
    * dir via a dir → dir.old detour), so after a crash the newest
    * COMPLETE set is `dir` if present, else `dir.tmp` (a legacy
    * delete-then-rename generation), else `dir.old` (previous
    * generation — the batch whose swap was interrupted is replayed
    * from the checkpoint, so the older set plus the replayed fresh
    * candidates still covers every pair; the stream is at-least-once
    * per pair by contract). `dir.stage` is deliberately NOT a read
    * source: a crash mid-write leaves it partial. Returns None only
    * when no generation exists (first batch ever).
    */
  private def liveRetryPath(dir: String,
      fs: org.apache.hadoop.fs.FileSystem): Option[String] = {
    import org.apache.hadoop.fs.Path
    Seq(dir, dir + ".tmp", dir + ".old")
      .find(d => fs.exists(new Path(d)))
  }

  /** Wire the composition: a slim candidate stream rescored per
    * micro-batch against `indexPath` and handed to `sink` as scored
    * (vec_a, vec_b, cos) rows.
    *
    * Candidates whose vectors are NOT yet in the store (the index
    * stream commits independently — two production queries cannot
    * guarantee the drain-index-first discipline the parity spec uses)
    * are RE-ENQUEUED via `retryDir`: each batch unions the pending
    * misses with its own candidates, and writes the new miss set back.
    * The swap is rename-aside — write `dir.stage`, rename `dir` →
    * `dir.old`, rename `dir.stage` → `dir`, delete `dir.old` — so
    * every crash window leaves at least one complete generation on
    * disk (delete-then-rename had a window where a crash lost the
    * whole backlog, silently re-dropping every pending pair). Reads
    * resolve the live generation via [[liveRetryPath]].
    *
    * A pair is retried until its vectors land OR it has waited
    * `maxRetryBatches` micro-batches since first seen (`first_batch`
    * rides in the retry file). Expired pairs are DEAD-LETTERED: appended
    * to `<retryDir>.dead` and logged, so one never-arriving vector
    * cannot keep the backlog rewrite running forever. With
    * `retryDir = None` misses are NOT retried; they are counted and
    * logged per batch so the drop is at least visible.
    */
  def nearDupPairsRescored(cands: Dataset[CandPair], indexPath: String,
      retryDir: Option[String] = None, maxRetryBatches: Long = 256L)(
      sink: DataFrame => Unit): StreamingQuery =
    cands.writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[CandPair], batchId: Long) =>
        val spark = batch.sparkSession
        val fresh = batch.toDF().select(col("vec_a"), col("vec_b"))
          .withColumn("first_batch", lit(batchId))
        val pending = retryDir match {
          case Some(dir) =>
            val fs = new org.apache.hadoop.fs.Path(dir)
              .getFileSystem(spark.sparkContext.hadoopConfiguration)
            liveRetryPath(dir, fs) match {
              case Some(live) => spark.read
                .schema("vec_a BIGINT, vec_b BIGINT, first_batch BIGINT")
                .parquet(live)
                // pre-first_batch retry files lack the column → treat
                // those rows as first seen now
                .withColumn("first_batch",
                  coalesce(col("first_batch"), lit(batchId)))
              case None => fresh.limit(0)
            }
          case None => fresh.limit(0)
        }
        // a pair present in both keeps its ORIGINAL first_batch so the
        // age cap measures true wait, not time since last re-emission
        val all = fresh.unionByName(pending)
          .groupBy(col("vec_a"), col("vec_b"))
          .agg(min(col("first_batch")).as("first_batch"))
        val (scored, missedKeys) = rescoreCandidatesSplit(all, indexPath)
        sink(scored)
        retryDir match {
          case Some(dir) =>
            import org.apache.hadoop.fs.Path
            val missed = missedKeys
              .join(broadcast(all), Seq("vec_a", "vec_b"))
            val expired = missed
              .filter(lit(batchId) - col("first_batch") >= maxRetryBatches)
            val deadN = expired.count()
            if (deadN > 0) {
              expired.coalesce(1).write.mode("append").parquet(dir + ".dead")
              System.err.println(
                s"[graft] rescore batch $batchId: DEAD-LETTERED $deadN " +
                  s"pair(s) unmatched after $maxRetryBatches batches → " +
                  s"$dir.dead")
            }
            val keep = missed
              .filter(lit(batchId) - col("first_batch") < maxRetryBatches)
            val fs = new Path(dir)
              .getFileSystem(spark.sparkContext.hadoopConfiguration)
            // rename-aside swap: `keep` reads the live generation
            // lazily (through the pending union), so materialize FIRST
            // — and to dir.stage, a path that is never a read source
            // (staging to dir.tmp would self-clobber when the live
            // generation IS dir.tmp after a crash). Then move
            // generations only by rename; every crash window leaves a
            // complete recent generation among dir/dir.tmp/dir.old,
            // and checkpoint replay re-supplies the in-flight batch.
            val p = new Path(dir)
            val stage = new Path(dir + ".stage")
            val tmp = new Path(dir + ".tmp")
            val old = new Path(dir + ".old")
            keep.coalesce(1).write.mode("overwrite").parquet(stage.toString)
            if (fs.exists(old)) fs.delete(old, true)
            if (fs.exists(p)) fs.rename(p, old)
            if (fs.exists(tmp)) fs.delete(tmp, true)
            fs.rename(stage, p)
            fs.delete(old, true)
            ()
          case None =>
            val n = missedKeys.count()
            if (n > 0) System.err.println(
              s"[graft] rescore batch $batchId: DROPPED $n candidate pair(s) " +
                "not yet in the vector store (no retryDir configured)")
        }
      }
      .start()
}
