package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming variants of the event-time analytics.
  *
  * The reference is strictly batch (terminal DONE state,
  * coordinator.go:136-140) — these are OUR extension, per the
  * Spark-first doctrine: the same logical transformations as
  * `graft.queries.EventWindows`, run incrementally with watermarks.
  * Batch/streaming parity is the point: one set of semantics, two
  * execution modes.
  *
  * Scale notes: state is keyed by (window, event_type) or user_id and
  * bounded by the watermark — late data past 1 hour is dropped and
  * state evicted, so long-running state growth is O(active keys), not
  * O(stream length). `flatMapGroupsWithState` sessions use explicit
  * timeouts for the same bound.
  */
// Serializable: stateless, but its helper methods (micros/tsOfMicros)
// are referenced from flatMapGroupsWithState closures, which capture
// the module instance
object EventStreams extends Serializable {

  case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double)

  case class SessionState(start: Long, lastTs: Long, n: Int, total: Double)

  case class SessionOut(user_id: Long, session_start: java.sql.Timestamp,
      n_events: Int, session_value: Double)

  /** Watermarked tumbling-window aggregation (streaming twin of
    * EventWindows.hourly). `dsum` (decimal-cast sum) makes the money
    * total associative, so incremental accumulation across micro-
    * batches is bit-identical to the one-shot batch aggregation —
    * exact parity, asserted in StreamBatchParitySpec.
    */
  def hourlyCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), graft.Exact.dsum(col("value")).as("total_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("total_value"))

  case class TransState(lastUs: Long, lastId: Long, lastType: String)
  case class TransOut(user_id: Long, from_type: String, to_type: String)

  /** Streaming event-type transitions (twin of
    * `EventWindows.transitions`' step extraction): per-user state is
    * just the LAST event seen — each arriving event emits one
    * (from, to) step chained from it. Steps are emitted raw (Append
    * mode); the matrix aggregation composes downstream or lands in
    * the sink, and drained-step parity vs the batch lead() extraction
    * is asserted in StreamBatchParitySpec. Within a micro-batch
    * events are chained in (ts, event_id) order — the same total
    * order the batch window uses — so an in-order feed drains to the
    * identical step multiset.
    */
  def transitionsStream(events: Dataset[Event]): Dataset[TransOut] = {
    import events.sparkSession.implicits._

    def fn(userId: Long, batch: Iterator[Event],
        state: GroupState[TransState]): Iterator[TransOut] = {
      // Exact MICROsecond order (ts is timestamp[us]; .getTime alone
      // truncates to ms, which can invert same-ms events vs the batch
      // window's full-precision (ts, event_id) order).
      val sorted = batch.toSeq.sortBy(e => (micros(e.ts), e.event_id))
      var out = List.empty[TransOut]
      var last = state.getOption
      sorted.foreach { e =>
        last.foreach(l => out ::= TransOut(userId, l.lastType, e.event_type))
        last = Some(TransState(micros(e.ts), e.event_id, e.event_type))
      }
      last.foreach(state.update)
      out.reverseIterator
    }

    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(fn)
  }

  /** Streaming OHLC bars (twin of `EventWindows.ohlc`): open/close
    * are the MIN/MAX of the `(us, event_id, value)` struct —
    * lexicographic struct min/max is ASSOCIATIVE, so incremental
    * accumulation across micro-batches lands on exactly the first/
    * last row the batch rank-1 window picks (event_id totalizes the
    * order, so ties at the same microsecond resolve identically).
    * high/low/count are associative already — exact parity, asserted
    * in StreamBatchParitySpec.
    */
  def ohlcStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .withColumn("us", graft.Tables.epochMicros(col("ts")))
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        min(struct(col("us"), col("event_id"), col("value"))).as("o"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max(struct(col("us"), col("event_id"), col("value"))).as("c"),
        count(lit(1)).as("n"))
      .select(col("window.start").as("hour_start"), col("event_type"),
        col("o.value").as("open"), col("high"), col("low"),
        col("c.value").as("close"), col("n"))

  /** Custom sessionization with explicit state management —
    * `flatMapGroupsWithState` with an event-time timeout. Emits a
    * session when 30 minutes pass with no further events (mirrors
    * `session_window(ts, "30 minutes")` semantics).
    */
  def sessionize(events: Dataset[Event]): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val gapUs = 30L * 60 * 1000000L

    def fn(userId: Long, batch: Iterator[Event],
        state: GroupState[SessionState]): Iterator[SessionOut] = {
      // full-microsecond ordering and gap arithmetic (state holds
      // micros): `ts.getTime` (ms) truncates, so a true gap in
      // [30 min, 30 min + 1 ms) would merge sessions the batch
      // session_window splits — the exact bug class fixed in
      // transitionsStream
      val sorted = batch.toSeq.sortBy(e => (micros(e.ts), e.event_id))
      var out = List.empty[SessionOut]
      var cur = state.getOption
      if (sorted.isEmpty) {
        if (state.hasTimedOut && cur.isDefined) {
          val s = cur.get
          out ::= SessionOut(userId, tsOfMicros(s.start), s.n, s.total)
          state.remove()
        }
      } else {
        sorted.foreach { e =>
          val t = micros(e.ts)
          cur match {
            case Some(s) if t < s.lastTs + gapUs =>
              cur = Some(s.copy(lastTs = math.max(s.lastTs, t), n = s.n + 1,
                total = s.total + e.value))
            case Some(s) =>
              out ::= SessionOut(userId, tsOfMicros(s.start), s.n, s.total)
              cur = Some(SessionState(t, t, 1, e.value))
            case None =>
              cur = Some(SessionState(t, t, 1, e.value))
          }
        }
        state.update(cur.get)
        // timeout API is ms-granular: round UP so the timeout never
        // fires before the true micro-second gap has elapsed
        state.setTimeoutTimestamp(
          math.floorDiv(cur.get.lastTs + gapUs + 999L, 1000L))
      }
      out.reverseIterator
    }

    events
      .withWatermark("ts", "1 hour")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(fn)
  }

  /** Stream-stream interval join: each purchase joins error events of
    * the same user within the preceding 30 minutes. Both sides are
    * watermarked so the join state is bounded — Spark retains only
    * errors young enough to still match a future purchase.
    */
  def purchasesWithRecentErrors(purchases: DataFrame, errors: DataFrame): DataFrame =
    intervalJoin(purchases, errors, "inner")

  /** LEFT OUTER stream-stream interval join: every purchase emits —
    * matched rows as they pair up, unmatched ones with null error
    * columns once the watermark proves no matching error can still
    * arrive. This is the harder join mode at scale: the null row for
    * an unmatched purchase is only correct to emit after event time
    * passes `p_ts + delay`, so emission is watermark-driven and state
    * eviction doubles as the completeness proof. Same bounded state
    * as the inner variant.
    */
  def purchasesWithRecentErrorsOuter(purchases: DataFrame, errors: DataFrame): DataFrame =
    intervalJoin(purchases, errors, "left_outer")

  /** FULL OUTER stream-stream interval join — both unmatched
    * purchases AND unmatched errors emit null-padded rows once the
    * watermark proves their window closed. The rarest-supported join
    * mode; state bounds are identical to the inner case (both sides
    * evict at the watermark).
    */
  def purchasesWithRecentErrorsFull(purchases: DataFrame, errors: DataFrame): DataFrame =
    intervalJoin(purchases, errors, "full_outer")

  private def intervalJoin(purchases: DataFrame, errors: DataFrame,
      mode: String): DataFrame = {
    val p = purchases.withWatermark("ts", "1 hour")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("p_ts"), col("value").as("purchase_value"))
    val e = errors.withWatermark("ts", "1 hour")
      .select(col("user_id").as("e_user"), col("ts").as("e_ts"),
        col("value").as("error_value"))
    p.join(e,
      col("p_user") === col("e_user")
        && col("e_ts") <= col("p_ts")
        && col("e_ts") >= col("p_ts") - expr("INTERVAL 30 MINUTES"),
      mode)
      // coalesce keeps user_id non-null for error-only rows in the
      // full-outer mode; p_user is never null in inner/left_outer
      .select(col("purchase_id"),
        coalesce(col("p_user"), col("e_user")).as("user_id"),
        col("p_ts"), col("e_ts"), col("purchase_value"), col("error_value"))
  }

  case class AsofTagged(user_id: Long, ts: java.sql.Timestamp,
      isPurchase: Boolean, event_id: Long, value: Double)

  case class AsofOut(purchase_id: Long, user_id: Long,
      p_ts: java.sql.Timestamp, err_ts: Option[java.sql.Timestamp],
      purchase_value: Double, err_value: Option[Double])

  /** State: un-finalized purchases as (micros, event_id, value) and
    * candidate errors as (micros, value), both per user. */
  case class AsofState(purchases: List[(Long, Long, Double)],
      errors: List[(Long, Double)])

  private[streaming] def micros(t: java.sql.Timestamp): Long =
    math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000

  private[streaming] def tsOfMicros(us: Long): java.sql.Timestamp = {
    // floor to the SECOND with floorDiv throughout: the former
    // truncating `/ 1000` rounded pre-epoch instants toward zero,
    // reconstructing them one second late
    val t = new java.sql.Timestamp(math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((math.floorMod(us, 1000000L)).toInt * 1000)
    t
  }

  /** Stream-stream AS-OF: each purchase enriched with the LATEST
    * error of the same user at-or-before it, within `horizonMicros` —
    * the streaming twin of [[graft.operators.AsOfJoin.asof]] with a
    * tolerance (the batch parity oracle in StreamBatchParitySpec).
    *
    * Spark has no native streaming as-of (window functions don't run
    * on streams), so this is `flatMapGroupsWithState` over a tagged
    * union keyed by user: a purchase can only be FINALIZED once the
    * watermark passes its event time — before that, an older error
    * could still arrive and change "latest preceding". Emission is
    * therefore watermark-driven (like the outer interval join's null
    * rows), and the same watermark bounds state: a buffered purchase
    * lives until the watermark passes it, a candidate error until
    * `err_ts + horizon` falls behind the watermark (it can then never
    * match a pending or future purchase, since those all sit at or
    * ahead of the watermark). State is O(in-flight events per user
    * within the horizon) — the price of exact as-of semantics on an
    * out-of-order stream, and the reason the horizon is part of the
    * operator contract rather than an optional nicety.
    */
  def asofEnrichStream(purchases: DataFrame, errors: DataFrame,
      horizonMicros: Long = 3600000000L,
      watermarkDelay: String = "1 hour"): Dataset[AsofOut] = {
    import purchases.sparkSession.implicits._
    val hz = horizonMicros
    def tag(df: DataFrame, isPurchase: Boolean): Dataset[AsofTagged] =
      df.select(col("user_id"), col("ts").cast("timestamp").as("ts"),
        lit(isPurchase).as("isPurchase"), col("event_id"), col("value"))
        .as[AsofTagged]

    def fn(userId: Long, batch: Iterator[AsofTagged],
        state: GroupState[AsofState]): Iterator[AsofOut] = {
      val st = state.getOption.getOrElse(AsofState(Nil, Nil))
      var pend = st.purchases
      var errs = st.errors
      batch.foreach { r =>
        val us = micros(r.ts)
        if (r.isPurchase) pend ::= ((us, r.event_id, r.value))
        else errs ::= ((us, r.value))
      }
      val wmMs = state.getCurrentWatermarkMs()
      val wmUs = wmMs * 1000L
      // a purchase finalizes once no error at-or-before it can still
      // arrive: strictly older than the watermark (ms granularity)
      val (done, stillPending) = pend.partition(_._1 / 1000L < wmMs)
      val out = done.sortBy(p => (p._1, p._2)).map { case (pUs, id, v) =>
        val m = errs.filter(e => e._1 <= pUs && pUs - e._1 <= hz)
        val best = if (m.isEmpty) None else Some(m.maxBy(_._1))
        AsofOut(id, userId, tsOfMicros(pUs), best.map(b => tsOfMicros(b._1)),
          v, best.map(_._2))
      }
      val keepErrs = errs.filter(e => e._1 + hz >= wmUs)
      if (stillPending.isEmpty && keepErrs.isEmpty) state.remove()
      else {
        state.update(AsofState(stillPending, keepErrs))
        val next = (stillPending.map(_._1 / 1000L) ++
          keepErrs.map(e => (e._1 + hz) / 1000L + 1L)).min
        state.setTimeoutTimestamp(math.max(next, wmMs + 1L))
      }
      out.iterator
    }

    tag(purchases, isPurchase = true)
      .union(tag(errors, isPurchase = false))
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(fn)
  }

  case class AttrTagged(user_id: Long, ts: java.sql.Timestamp,
      isPurchase: Boolean, event_id: Long, value: Double,
      page: Option[Int])

  case class AttrOut(p_id: Long, user_id: Long, value: Double,
      first_page: Option[Int], last_page: Option[Int])

  /** State: un-finalized purchases as (micros, p_id, value) and
    * candidate touches as (micros, t_id, page), both per user. */
  case class AttrState(purchases: List[(Long, Long, Double)],
      touches: List[(Long, Long, Option[Int])])

  /** Streaming first/last-touch attribution — the twin of
    * [[graft.queries.EventWindows.attributionEnrichedOf]]: each
    * purchase, once the watermark proves no older touch can still
    * arrive, emits its FIRST and LAST marketing touch within the
    * 7-day lookback; purchases with no touch in the window emit
    * nothing. The per-page credit aggregation composes downstream
    * (the [[transitionsStream]] emission discipline).
    *
    * Same emission/state mechanics as [[asofEnrichStream]] (this is
    * that operator with TWO directional picks instead of one): a
    * purchase finalizes when the watermark passes it; a touch lives
    * until `t_ts + lookback` falls behind the watermark — it can
    * then never land in a pending or future purchase's window. State
    * is O(one lookback of events per user) — the price of exact
    * attribution on an out-of-order stream.
    */
  def attributionStream(purchases: DataFrame, touches: DataFrame,
      lookbackMicros: Long = 7L * 24 * 3600000000L,
      watermarkDelay: String = "1 hour"): Dataset[AttrOut] = {
    import purchases.sparkSession.implicits._
    val lb = lookbackMicros
    def tagP(df: DataFrame): Dataset[AttrTagged] =
      df.select(col("user_id"), col("ts").cast("timestamp").as("ts"),
        lit(true).as("isPurchase"), col("event_id"), col("value"),
        lit(null).cast("int").as("page")).as[AttrTagged]
    def tagT(df: DataFrame): Dataset[AttrTagged] =
      df.select(col("user_id"), col("ts").cast("timestamp").as("ts"),
        lit(false).as("isPurchase"), col("event_id"),
        lit(0.0).as("value"), col("page").cast("int").as("page"))
        .as[AttrTagged]

    def fn(userId: Long, batch: Iterator[AttrTagged],
        state: GroupState[AttrState]): Iterator[AttrOut] = {
      val st = state.getOption.getOrElse(AttrState(Nil, Nil))
      var pend = st.purchases
      var tch = st.touches
      batch.foreach { r =>
        val us = micros(r.ts)
        if (r.isPurchase) pend ::= ((us, r.event_id, r.value))
        else tch ::= ((us, r.event_id, r.page))
      }
      val wmMs = state.getCurrentWatermarkMs()
      val wmUs = wmMs * 1000L
      // a purchase finalizes once no touch at-or-before it can still
      // arrive: strictly older than the watermark (ms granularity)
      val (done, stillPending) = pend.partition(_._1 / 1000L < wmMs)
      val out = done.sortBy(p => (p._1, p._2)).flatMap { case (pUs, id, v) =>
        val m = tch.filter(t => t._1 <= pUs && pUs - t._1 < lb)
        if (m.isEmpty) None
        else {
          val first = m.minBy(t => (t._1, t._2))
          val last = m.maxBy(t => (t._1, t._2))
          Some(AttrOut(id, userId, v, first._3, last._3))
        }
      }
      val keepTch = tch.filter(t => t._1 + lb >= wmUs)
      if (stillPending.isEmpty && keepTch.isEmpty) state.remove()
      else {
        state.update(AttrState(stillPending, keepTch))
        val next = (stillPending.map(_._1 / 1000L) ++
          keepTch.map(t => (t._1 + lb) / 1000L + 1L)).min
        state.setTimeoutTimestamp(math.max(next, wmMs + 1L))
      }
      out.iterator
    }

    tagP(purchases).union(tagT(touches))
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(fn)
  }

  /** One hour-bucket share of a finalized step-hold interval:
    * `value` held for `ov_us` microseconds inside hour `hour_us`.
    * Summing `value·ov_us / Σ ov_us` per (hour_us, event_type)
    * downstream reproduces the batch [[graft.queries.EventWindows.twap]]
    * — the [[transitionsStream]] emission discipline (append-mode
    * facts; the terminal aggregation composes at the consumer).
    */
  case class TwapOut(event_type: String, hour_us: Long,
      value: Double, ov_us: Long)

  /** Un-finalized events of one type: (micros, event_id, value). */
  case class TwapState(events: List[(Long, Long, Double)])

  /** Streaming TWAP — the stateful twin of the batch step-hold
    * time-weighted average ([[graft.queries.EventWindows.twap]]):
    * each event's value holds until the SAME TYPE's next event, and
    * holds are split across the hour buckets they span.
    *
    * A hold (a → b) finalizes when the watermark passes b (ms-strict,
    * the [[attributionStream]] finality rule): any late arrival that
    * could still land inside (a, b) would be behind the watermark and
    * is dropped by Spark's stateful late-row filter, so the successor
    * relationship can never be revised once emitted. The last event
    * of a type stays pending (the batch side drops the null-end hold
    * for the same reason — its successor is unknown). State is the
    * un-finalized suffix per type: O(events within one watermark
    * delay), the same bound as [[asofEnrichStream]]. Ties (same type,
    * same microsecond) hold 0 µs and drop; the tied row with the
    * largest event_id carries forward — both matching batch.
    */
  def twapStream(events: Dataset[Event],
      watermarkDelay: String = "1 hour"): Dataset[TwapOut] = {
    import events.sparkSession.implicits._
    val hourUs = 3600000000L

    def fn(etype: String, batch: Iterator[Event],
        state: GroupState[TwapState]): Iterator[TwapOut] = {
      var pend = state.getOption.map(_.events).getOrElse(Nil)
      batch.foreach { e => pend ::= ((micros(e.ts), e.event_id, e.value)) }
      val wmMs = state.getCurrentWatermarkMs()
      var rest = pend.sortBy(p => (p._1, p._2))
      val out = scala.collection.mutable.ListBuffer.empty[TwapOut]
      while (rest.lengthCompare(2) >= 0 && rest.tail.head._1 / 1000L < wmMs) {
        val a = rest.head
        val b = rest.tail.head
        if (b._1 > a._1) {
          var bkt = a._1 - a._1 % hourUs
          val lastBkt = (b._1 - 1) - (b._1 - 1) % hourUs
          while (bkt <= lastBkt) {
            val ov = math.min(b._1, bkt + hourUs) - math.max(a._1, bkt)
            out += TwapOut(etype, bkt, a._3, ov)
            bkt += hourUs
          }
        }
        rest = rest.tail
      }
      if (rest.isEmpty) state.remove()
      else {
        state.update(TwapState(rest))
        // re-wake when the earliest pending successor can finalize; a
        // lone open hold has no successor and needs no timeout (the
        // next arrival for this type reactivates the group)
        if (rest.lengthCompare(2) >= 0)
          state.setTimeoutTimestamp(
            math.max(math.floorDiv(rest.tail.head._1, 1000L) + 1L, wmMs + 1L))
      }
      out.iterator
    }

    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.event_type)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(fn)
  }

  /** Streaming change-log compaction — the streaming twin of
    * [[graft.operators.Compaction.latestPerKey]]: per-key
    * latest-wins state via `flatMapGroupsWithState`, emitting a key's
    * row whenever its latest (ts, event_id) improves. Update-mode
    * emission means a consumer holds current state by upserting
    * emitted rows; state is one row per key (O(active keys), the same
    * bound the batch compaction's shuffle groups have).
    */
  def compactStream(events: Dataset[Event]): Dataset[Event] = {
    import events.sparkSession.implicits._
    // latest-wins on FULL-precision micros (batch latestPerKey orders
    // by the microsecond ts): ms truncation would let same-ms events
    // whose event_id order opposes their micros order pick a
    // different "latest"
    def key(e: Event): (Long, Long) = (micros(e.ts), e.event_id)
    def fn(userId: Long, batch: Iterator[Event],
        state: GroupState[Event]): Iterator[Event] = {
      val candidates = state.getOption.toSeq ++ batch
      if (candidates.isEmpty) Iterator.empty
      else {
        val best = candidates.maxBy(key)
        val improved = state.getOption.forall(s => key(best) != key(s))
        state.update(best)
        if (improved) Iterator.single(best) else Iterator.empty
      }
    }
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(fn)
  }

  /** Streaming exactly-once dedup: drop duplicate event_ids within
    * the watermark horizon — the streaming twin of exact dedup (state
    * is bounded by the watermark; late duplicates beyond 1 hour age
    * out of state, the documented at-scale tradeoff).
    */
  def dedupStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")

  /** Exactly-once parquet sink via foreachBatch: each micro-batch
    * writes to its own `batch=<id>` directory with overwrite, so a
    * RETRY of batch N replaces N's own output instead of appending a
    * duplicate — idempotence under the at-least-once delivery the
    * checkpoint gives, which composes to exactly-once. This is the
    * production sink shape when the built-in file sink's commit log
    * can't own the destination (e.g. a table batch jobs also write).
    */
  def exactlyOnceParquetSink(df: DataFrame, outDir: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        batch.write.mode("overwrite").parquet(s"$outDir/batch=$id")
      }
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()

  /** Streaming read of the events parquet — the streaming twin of
    * [[graft.Tables.events]], sharing its `normalizeTs` dispatch so a
    * driver-side re-encoding of `ts` (INT64 nanos / TIMESTAMP_NTZ /
    * TIMESTAMP — it has shipped all three) changes behavior in one
    * place for batch AND streaming. One streaming-only extra: event
    * time (withWatermark) requires TIMESTAMP, not TIMESTAMP_NTZ, so
    * the normalized column is cast to LTZ — exact under the pinned
    * UTC session. The file source needs a directory; glob-filter
    * isolates the events file. The raw schema is the batch loader's
    * ([[graft.Tables.table]], read after the same `nanosAsLong` set),
    * so both twins share one memoized inference.
    */
  def eventsFileStream(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val rawSchema = graft.Tables.table(spark, sfDir, "events").schema
    graft.Tables.normalizeTs(
      spark.readStream.schema(rawSchema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sfDir))
      .withColumn("ts",
        col("ts").cast(org.apache.spark.sql.types.TimestampType))
  }

  /** File-source streaming pipeline over the events parquet — the
    * readStream → transform → writeStream wiring. `availableNow`
    * makes it a run-to-completion incremental batch (the pattern for
    * backfill + tail-follow at scale).
    */
  def runFileStream(spark: SparkSession, sfDir: String, outDir: String): Unit = {
    val agg = hourlyCounts(eventsFileStream(spark, sfDir))
    val q = agg.writeStream
      .outputMode(OutputMode.Append)
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", s"$outDir-ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }
}
