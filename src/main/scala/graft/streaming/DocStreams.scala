package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming corpus deduplication — the incremental twin of the batch
  * dedup collapse in [[graft.llm.Dedup]]: documents arrive as a
  * stream, each computes its MinHash signature map-side (the same
  * native expression as batch), and `flatMapGroupsWithState` keyed on
  * the FULL 16-value signature keeps first-wins state — a document is
  * emitted iff its signature has never been seen, across micro-batch
  * boundaries and restarts (state lives in the checkpoint).
  *
  * Why the full signature and not one band: a document owns 8 band
  * keys, and near-dup keep/drop needs consensus ACROSS its bands —
  * a second stateful shuffle that streaming restricts. At
  * full-signature granularity (the est_jaccard = 1.0 bucket) one
  * stateful operator is exact, and it subsumes exact token-stream
  * dedup: identical token streams have identical signatures. Band-
  * level near-dup streaming would layer this same state shape per
  * band plus a doc-level vote; the batch path remains the reference
  * semantics for that.
  *
  * Scale: [[minhashDedupStream]] state is one (signature → doc_id)
  * entry per DISTINCT content ever seen — the same O(distinct) bound
  * as the batch collapse, held forever. [[minhashDedupStreamTtl]],
  * the one stateful step both run, is the bounded-storage variant:
  * an EVENT-time TTL evicts signatures unseen for `ttl`, so state
  * holds only the recently-seen distinct contents and a very late
  * duplicate is re-admitted — the explicit recall/storage trade.
  * (Event time, not processing time, for the same reason the
  * windowed aggregations use it: deterministic under replay and
  * backfill, and timeouts that fire off the watermark terminate
  * cleanly under AvailableNow/processAllAvailable, which a
  * processing-time timeout never does — it demands a batch per clock
  * tick forever.)
  */
object DocStreams {

  case class KeptDoc(doc_id: Long, sig: String)

  /** First-wins incremental signature dedup over a streaming
    * (doc_id, text) frame — [[minhashDedupStreamTtl]] with nothing
    * ever expiring ([[EmbeddingStreams.unbounded]]). Within one
    * micro-batch the min doc_id of a signature group wins, so ordered
    * arrival (ids ascending, the append-only ingest case) reproduces
    * the batch min-doc_id collapse exactly — asserted in
    * StreamBatchParitySpec.
    */
  def minhashDedupStream(docs: DataFrame): Dataset[KeptDoc] =
    EmbeddingStreams.unbounded(docs)(minhashDedupStreamTtl)

  /** Streaming heavy hitters: the mergeable Misra-Gries summary
    * ([[graft.operators.MisraGriesAgg]]) as a streaming GLOBAL
    * aggregate. Each micro-batch's partial summaries fold into the
    * running state through the SAME reduce/merge the batch path uses
    * (mergeability is exactly what makes a sketch streamable), so a
    * drained stream with k ≥ |vocab| equals the exact batch counts —
    * asserted in StreamBatchParitySpec — and for k < |vocab| the
    * deterministic MG bounds still hold. State is ONE ≤k-entry map;
    * Complete output mode re-emits it per micro-batch.
    */
  def heavyHittersStream(docs: DataFrame, k: Int): DataFrame = {
    import docs.sparkSession.implicits._
    docs
      .select(explode(graft.llm.TextAnalysis.tokensCol).as("word"))
      .as[String]
      .select(graft.operators.MisraGriesAgg(k).toColumn.name("sketch"))
      .toDF()
  }

  /** Streaming Count-Min sketch ([[graft.operators.CountMinAgg]]) as
    * a streaming global aggregate — same mergeable-summary argument as
    * [[heavyHittersStream]], with a STRONGER parity contract: the grid
    * is a deterministic function of the multiset of tokens (cells are
    * sums over the salted portable hash), so a drained stream's grid
    * is ELEMENTWISE EQUAL to the batch grid, regardless of
    * micro-batch boundaries (asserted in StreamBatchParitySpec).
    * State is depth·width longs, constant in the vocabulary.
    */
  def cmsStream(docs: DataFrame, depth: Int, width: Int): DataFrame = {
    import docs.sparkSession.implicits._
    docs
      .select(explode(graft.llm.TextAnalysis.tokensCol).as("word"))
      .as[String]
      .select(graft.operators.CountMinAgg(depth, width).toColumn.name("cells"))
      .toDF()
  }

  case class PrepDoc(doc_id: Long, lang: String, n_tokens: Int)

  /** Streaming ingest prep: the batch pipeline's stateless
    * scrub + quality gate ([[graft.llm.Pipeline.scrubGate]], reused
    * VERBATIM — one set of semantics, two execution modes) composed
    * with incremental first-wins exact dedup keyed on the same
    * normalized content hash the batch window collapse uses. The
    * output is the deduplicated, gated document stream a continuous
    * corpus ingest would append to the training store.
    *
    * Scale: the stateless stages are per-row (no watermark needed);
    * dedup state is one (hash → doc_id) entry per distinct surviving
    * content — the same O(distinct) bound as the batch collapse.
    */
  def prepStream(docs: DataFrame): Dataset[PrepDoc] = {
    import docs.sparkSession.implicits._
    graft.llm.Pipeline.scrubGate(docs)
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        md5(lower(col("clean"))).as("h"))
      .as[(Long, String, Int, String)]
      .groupByKey(_._4)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (h: String, rows: Iterator[(Long, String, Int, String)],
            state: GroupState[Long]) =>
          if (state.exists) Iterator.empty
          else {
            val first = rows.minBy(_._1)
            state.update(first._1)
            Iterator.single(PrepDoc(first._1, first._2, first._3))
          }
      }
  }

  /** TTL-bounded variant over a (doc_id, text, ts) frame: a
    * signature's state expires when the watermark passes its last
    * sighting + `ttl` (duplicate arrivals refresh the clock —
    * eviction means "unseen for ttl", not "first seen ttl ago").
    * `watermarkDelay` is the usual lateness allowance on `ts`.
    */
  def minhashDedupStreamTtl(docs: DataFrame, ttl: java.time.Duration,
      watermarkDelay: String = "10 minutes"): Dataset[KeptDoc] = {
    import docs.sparkSession.implicits._
    // full-µs ttl (saturated for effectively-infinite ttls): the
    // expiry instant is computed in µs and only ROUNDED UP to the
    // ms-granular timeout API, so state never expires early —
    // floor-ms arithmetic here could drop a signature up to 1 ms
    // before "unseen for ttl" and re-emit a sub-ms-boundary duplicate
    // (the r10 truncation bug class)
    val ttlUs = EmbeddingStreams.ttlMicrosOf(ttl)
    docs
      .withWatermark("ts", watermarkDelay)
      .select(col("doc_id"), graft.llm.Dedup.signatureKey.as("sig"), col("ts"))
      .as[(Long, String, java.sql.Timestamp)]
      .groupByKey(_._2)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (sig: String, rows: Iterator[(Long, String, java.sql.Timestamp)],
            state: GroupState[Long]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            // one pass over the single-use iterator (bounded: this
            // signature's rows within ONE micro-batch)
            val rs = rows.toArray
            val seenUs = rs.iterator.map(r => EventStreams.micros(r._3)).max
            // first ms instant whose µs lower bound passes last
            // sighting + ttl (never early); and a timeout timestamp
            // must sit past the current watermark (a late
            // straggler's ts+ttl may not)
            val expiry = math.max(math.floorDiv(seenUs + ttlUs, 1000L) + 1,
              state.getCurrentWatermarkMs + 1)
            if (state.exists) {
              state.setTimeoutTimestamp(expiry) // refresh on duplicate sighting
              Iterator.empty
            } else {
              val keep = rs.iterator.map(_._1).min
              state.update(keep) // state must exist before a timeout can be set
              state.setTimeoutTimestamp(expiry)
              Iterator.single(KeptDoc(keep, sig))
            }
          }
      }
  }
}
