package graft.streaming

import graft.SparkSpec
import graft.queries.EventWindows
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** Batch/stream parity over the REAL events parquet (sf0.01, 10k
  * events): each streaming twin must produce the same result set as
  * its batch query when the stream is drained to completion. This is
  * the "one set of semantics, two execution modes" claim made in
  * [[EventStreams]], asserted rather than stated.
  *
  * Emission mechanics per query:
  *  - hourly: complete output mode (a finite stream's last windows
  *    never pass the watermark in append mode), via the real
  *    file-source readStream + AvailableNow wiring.
  *  - sessions: append via flatMapGroupsWithState; a far-future
  *    sentinel event advances the watermark so every real session
  *    times out and emits.
  *  - dedup: append; input is the corpus unioned with itself, so the
  *    dedup has real duplicates to drop.
  */
class StreamBatchParitySpec extends SparkSpec {
  import EventStreams._

  private val sfDir = "/root/testdata/sf0.01"

  // ts arrives NTZ from the current parquet encoding; the UTC session
  // makes the cast to LTZ exact, and Event needs java.sql.Timestamp
  private def collectEvents(): Seq[Event] =
    graft.Tables.events(spark, sfDir)
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("user_id"), col("event_type"), col("value"))
      .collect()
      .map(r => Event(r.getLong(0), r.getTimestamp(1), r.getLong(2),
        r.getString(3), r.getDouble(4)))
      .toSeq

  test("hourly: file-stream AvailableNow (complete mode) equals batch windows") {
    val q = hourlyCounts(eventsFileStream(spark, sfDir))
      .writeStream.format("memory").queryName("parity_hourly")
      .outputMode(OutputMode.Complete)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = spark.table("parity_hourly")
      .withColumn("window_start", col("window_start").cast("timestamp"))
      .collect()
      .map(r => (r.getTimestamp(0).getTime, r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    val batch = EventWindows.hourly(spark, sfDir)
      .select(col("window_start").cast("timestamp").as("window_start"),
        col("event_type"), col("n"), col("total_value"))
      .collect()
      .map(r => (r.getTimestamp(0).getTime, r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(streamed == batch,
      s"stream-only: ${(streamed -- batch).take(3)}; batch-only: ${(batch -- streamed).take(3)}")
  }

  test("ohlc: associative struct-min open/close equals the batch rank-1 windows") {
    val q = ohlcStream(eventsFileStream(spark, sfDir))
      .writeStream.format("memory").queryName("parity_ohlc")
      .outputMode(OutputMode.Complete)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    def key(r: org.apache.spark.sql.Row) =
      (r.getTimestamp(0).getTime, r.getString(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getLong(6))
    val streamed = spark.table("parity_ohlc")
      .withColumn("hour_start", col("hour_start").cast("timestamp"))
      .collect().map(key).toSet
    val batch = EventWindows.ohlc(spark, sfDir)
      .select(col("hour_start").cast("timestamp").as("hour_start"),
        col("event_type"), col("open"), col("high"), col("low"),
        col("close"), col("n"))
      .collect().map(key).toSet
    assert(streamed == batch,
      s"stream-only: ${(streamed -- batch).take(3)}; batch-only: ${(batch -- streamed).take(3)}")
  }

  test("sessions: drained flatMapGroupsWithState equals batch session_window") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val events = collectEvents()
    val maxTs = events.map(_.ts.getTime).max
    val input = MemoryStream[Event]
    val q = sessionize(input.toDS())
      .writeStream.format("memory").queryName("parity_sessions")
      .outputMode("append").start()
    input.addData(events)
    q.processAllAvailable()
    // sentinel a year ahead: watermark passes every real session's
    // timeout; the sentinel's own session stays open and is excluded
    input.addData(Event(-1L, new java.sql.Timestamp(maxTs + 365L * 86400 * 1000),
      -1L, "sentinel", 0.0))
    q.processAllAvailable()
    val streamed = spark.table("parity_sessions")
      .filter(col("user_id") =!= -1L).collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime, r.getInt(2).toLong,
        math.round(r.getDouble(3) * 100)))
      .toSet
    q.stop()
    val batch = EventWindows.sessions(spark, sfDir)
      .withColumn("session_start", col("session_start").cast("timestamp"))
      .collect()
      .map(r => (r.getLong(1), r.getTimestamp(0).getTime, r.getLong(2),
        math.round(r.getDouble(3) * 100)))
      .toSet
    assert(streamed == batch,
      s"stream-only: ${(streamed -- batch).take(3)}; batch-only: ${(batch -- streamed).take(3)}")
  }

  test("transitions: drained per-user step stream equals the batch lead() matrix") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // feed in EXACT event order (full microseconds, not ms-truncated
    // getTime — the fixtures carry sub-ms parts, and a truncated key
    // can invert same-ms events vs the batch (ts, event_id) order)
    // across several micro-batches — the chained state must stitch
    // steps across batch boundaries
    def us(t: java.sql.Timestamp): Long =
      math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000
    val events = collectEvents().sortBy(e => (us(e.ts), e.event_id))
    val input = MemoryStream[Event]
    val q = transitionsStream(input.toDS())
      .writeStream.format("memory").queryName("parity_transitions")
      .outputMode("append").start()
    events.grouped(math.max(1, events.length / 3)).foreach { chunk =>
      // shuffle within the micro-batch (deterministically): the
      // operator's own internal sort must restore exact-us order
      input.addData(chunk.sortBy(e => e.event_id * 2654435761L % 1000003))
      q.processAllAvailable()
    }
    val streamed = spark.table("parity_transitions")
      .groupBy(col("from_type"), col("to_type")).count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    q.stop()
    val batch = EventWindows.transitions(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(streamed.nonEmpty)
    assert(streamed == batch,
      s"stream-only: ${(streamed.toSet -- batch.toSet).take(3)}; " +
        s"batch-only: ${(batch.toSet -- streamed.toSet).take(3)}")
  }

  test("interval join: drained stream-stream join equals the batch non-equi join") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val events = collectEvents()
    val pIn = MemoryStream[Event]
    val eIn = MemoryStream[Event]
    val q = purchasesWithRecentErrors(pIn.toDF(), eIn.toDF())
      .writeStream.format("memory").queryName("parity_ssj")
      .outputMode("append").start()
    pIn.addData(events.filter(_.event_type == "purchase"))
    eIn.addData(events.filter(_.event_type == "error"))
    q.processAllAvailable()
    val streamed = spark.table("parity_ssj").collect()
      .map(r => (r.getLong(0), r.getTimestamp(3).getTime)).toSet
    q.stop()
    val all = graft.Tables.events(spark, sfDir)
    val p = all.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("p_ts"))
    val e = all.filter(col("event_type") === "error")
      .select(col("user_id").as("e_user"), col("ts").as("e_ts"))
    val batch = p.join(e,
        col("p_user") === col("e_user")
          && col("e_ts") <= col("p_ts")
          && col("e_ts") >= col("p_ts") - expr("INTERVAL 30 MINUTES"))
      .select(col("purchase_id"), col("e_ts").cast("timestamp").as("e_ts"))
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime)).toSet
    assert(streamed == batch,
      s"stream-only: ${(streamed -- batch).take(3)}; batch-only: ${(batch -- streamed).take(3)}")
  }

  test("outer interval join: unmatched purchases emit null rows once the watermark proves them") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val events = collectEvents()
    val maxTs = events.map(_.ts.getTime).max
    val pIn = MemoryStream[Event]
    val eIn = MemoryStream[Event]
    val q = purchasesWithRecentErrorsOuter(pIn.toDF(), eIn.toDF())
      .writeStream.format("memory").queryName("parity_ssj_outer")
      .outputMode("append").start()
    pIn.addData(events.filter(_.event_type == "purchase"))
    eIn.addData(events.filter(_.event_type == "error"))
    q.processAllAvailable()
    // a null row for an unmatched purchase is only provable once the
    // watermark passes p_ts + delay: push BOTH streams a year ahead
    val sentinel = Event(-1L, new java.sql.Timestamp(maxTs + 365L * 86400 * 1000),
      -1L, "sentinel", 0.0)
    pIn.addData(sentinel); eIn.addData(sentinel)
    q.processAllAvailable()
    val streamed = spark.table("parity_ssj_outer")
      .filter(col("user_id") =!= -1L).collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(3)) -1L else r.getTimestamp(3).getTime)).toSet
    q.stop()
    val all = graft.Tables.events(spark, sfDir)
    val p = all.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("p_ts"))
    val e = all.filter(col("event_type") === "error")
      .select(col("user_id").as("e_user"), col("ts").as("e_ts"))
    val batch = p.join(e,
        col("p_user") === col("e_user")
          && col("e_ts") <= col("p_ts")
          && col("e_ts") >= col("p_ts") - expr("INTERVAL 30 MINUTES"),
        "left_outer")
      .select(col("purchase_id"), col("e_ts").cast("timestamp").as("e_ts"))
      .collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) -1L else r.getTimestamp(1).getTime)).toSet
    assert(streamed == batch,
      s"stream-only: ${(streamed -- batch).take(3)}; batch-only: ${(batch -- streamed).take(3)}")
    // and the outer join strictly extends the inner result set
    assert(batch.count(_._2 == -1L) > 0, "fixture has no unmatched purchases")
  }

  test("full-outer interval join: both sides' unmatched rows drain to batch parity") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val events = collectEvents()
    val maxTs = events.map(_.ts.getTime).max
    val pIn = MemoryStream[Event]
    val eIn = MemoryStream[Event]
    val q = purchasesWithRecentErrorsFull(pIn.toDF(), eIn.toDF())
      .writeStream.format("memory").queryName("parity_ssj_full")
      .outputMode("append").start()
    pIn.addData(events.filter(_.event_type == "purchase"))
    eIn.addData(events.filter(_.event_type == "error"))
    q.processAllAvailable()
    val sentinel = Event(-1L, new java.sql.Timestamp(maxTs + 365L * 86400 * 1000),
      -1L, "sentinel", 0.0)
    pIn.addData(sentinel); eIn.addData(sentinel)
    q.processAllAvailable()
    def rowKey(pid: Any, ets: Any): (Long, Long) =
      (if (pid == null) -1L else pid.asInstanceOf[Long],
        if (ets == null) -1L else ets.asInstanceOf[java.sql.Timestamp].getTime)
    val streamed = spark.table("parity_ssj_full")
      .filter(col("user_id") =!= -1L).collect()
      .map(r => (rowKey(r.get(0), r.get(3)), r.getLong(1))).toSet
    q.stop()
    val all = graft.Tables.events(spark, sfDir)
    val p = all.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("p_ts"))
    val e = all.filter(col("event_type") === "error")
      .select(col("user_id").as("e_user"), col("ts").as("e_ts"))
    val batch = p.join(e,
        col("p_user") === col("e_user")
          && col("e_ts") <= col("p_ts")
          && col("e_ts") >= col("p_ts") - expr("INTERVAL 30 MINUTES"),
        "full_outer")
      .select(col("purchase_id"), col("e_ts").cast("timestamp").as("e_ts"),
        coalesce(col("p_user"), col("e_user")).as("user_id"))
      .collect()
      .map(r => (rowKey(r.get(0), r.get(1)), r.getLong(2))).toSet
    assert(streamed == batch,
      s"stream-only: ${(streamed -- batch).take(3)}; batch-only: ${(batch -- streamed).take(3)}")
    // the mode is only proven if BOTH unmatched populations exist
    assert(batch.exists(_._1._1 == -1L), "fixture has no unmatched errors")
    assert(batch.exists(_._1._2 == -1L), "fixture has no unmatched purchases")
  }

  test("as-of stream: drained purchases carry the latest preceding error within the horizon") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val events = collectEvents()
    val maxTs = events.map(_.ts.getTime).max
    // errors pre-aggregated to one row per (user, instant) — the same
    // tie-break discipline as the batch q_asof_join oracle
    val errAgg = graft.Tables.events(spark, sfDir)
      .filter(col("event_type") === "error")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("value")).as("value"))
      .select(lit(-1L).as("event_id"), col("ts").cast("timestamp").as("ts"),
        col("user_id"), lit("error").as("event_type"), col("value"))
      .as[Event].collect().toSeq
    val pIn = MemoryStream[Event]
    val eIn = MemoryStream[Event]
    val q = EventStreams.asofEnrichStream(pIn.toDF(), eIn.toDF())
      .writeStream.format("memory").queryName("parity_asof")
      .outputMode("append").start()
    pIn.addData(events.filter(_.event_type == "purchase"))
    eIn.addData(errAgg)
    q.processAllAvailable()
    // a purchase only finalizes when the watermark passes it: drain by
    // pushing BOTH streams a year ahead
    val sentinel = Event(-1L, new java.sql.Timestamp(maxTs + 365L * 86400 * 1000),
      -1L, "sentinel", 0.0)
    pIn.addData(sentinel); eIn.addData(sentinel)
    q.processAllAvailable()
    val streamed = spark.table("parity_asof")
      .filter(col("user_id") =!= -1L).collect()
      .map(r => (r.getLong(0), r.getTimestamp(2).getTime,
        if (r.isNullAt(3)) -1L else r.getTimestamp(3).getTime,
        math.round(r.getDouble(4) * 100),
        if (r.isNullAt(5)) Long.MinValue else math.round(r.getDouble(5) * 100)))
      .toSet
    q.stop()
    // batch twin: the tolerance-bounded backward as-of over the same frames
    val ev = graft.Tables.events(spark, sfDir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("ts"), col("value"))
    val errRef = ev.filter(col("event_type") === "error")
      .groupBy(col("user_id"), col("ts").as("err_ts"))
      .agg(max(col("value")).as("err_value"))
    val batch = graft.operators.AsOfJoin.asof(purchases, errRef,
        "user_id", "ts", "err_ts", toleranceMicros = 3600000000L)
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("asof_err_ts").cast("timestamp").as("asof_err_ts"),
        col("value"), col("asof_err_value"))
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime,
        if (r.isNullAt(2)) -1L else r.getTimestamp(2).getTime,
        math.round(r.getDouble(3) * 100),
        if (r.isNullAt(4)) Long.MinValue else math.round(r.getDouble(4) * 100)))
      .toSet
    assert(streamed == batch,
      s"stream-only: ${(streamed -- batch).take(3)}; batch-only: ${(batch -- streamed).take(3)}")
    // the fixture must exercise both populations for the test to mean
    // anything: enriched purchases AND no-error-in-horizon purchases
    assert(batch.exists(_._3 != -1L), "fixture has no enriched purchases")
    assert(batch.exists(_._3 == -1L), "fixture has no horizon-missing purchases")
  }

  test("attribution stream: drained first/last touches equal the batch as-of enrichment") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ev = graft.Tables.events(spark, sfDir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").cast("timestamp").as("ts"),
        col("event_id"), col("value"))
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2),
        r.getDouble(3))).toSeq
    val touches = ev.filter(col("event_type").isin("view", "click"))
      .select(col("user_id"), col("ts").cast("timestamp").as("ts"),
        col("event_id"),
        get_json_object(col("props"), "$.k").cast("int").as("page"))
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2),
        if (r.isNullAt(3)) Option.empty[Int] else Some(r.getInt(3)))).toSeq
    val maxTs = (purchases.map(_._2.getTime) ++ touches.map(_._2.getTime)).max
    val pIn = MemoryStream[(Long, java.sql.Timestamp, Long, Double)]
    val tIn = MemoryStream[(Long, java.sql.Timestamp, Long, Option[Int])]
    val q = EventStreams.attributionStream(
        pIn.toDS().toDF("user_id", "ts", "event_id", "value"),
        tIn.toDS().toDF("user_id", "ts", "event_id", "page"))
      .writeStream.format("memory").queryName("parity_attr")
      .outputMode("append").start()
    pIn.addData(purchases)
    tIn.addData(touches)
    q.processAllAvailable()
    // a purchase only finalizes when the watermark passes it: drain
    // with a far-future sentinel on BOTH inputs
    val sentinelTs = new java.sql.Timestamp(maxTs + 365L * 86400 * 1000)
    pIn.addData((-1L, sentinelTs, -1L, 0.0))
    tIn.addData((-1L, sentinelTs, -1L, Option.empty[Int]))
    q.processAllAvailable()
    def pg(x: Any): Int = if (x == null) Int.MinValue else x.asInstanceOf[Int]
    val streamed = spark.table("parity_attr")
      .filter(col("user_id") =!= -1L).collect()
      .map(r => (r.getLong(0), math.round(r.getDouble(2) * 100),
        pg(r.get(3)), pg(r.get(4)))).toSet
    q.stop()
    val batch = graft.queries.EventWindows
      .attributionEnrichedOf(graft.Tables.events(spark, sfDir))
      .collect()
      .map(r => (r.getLong(0), math.round(r.getDouble(1) * 100),
        pg(r.get(2)), pg(r.get(3)))).toSet
    assert(batch.nonEmpty, "fixture has no attributable purchases")
    assert(streamed == batch,
      s"stream-only: ${(streamed -- batch).take(3)}; batch-only: ${(batch -- streamed).take(3)}")
  }

  test("IVF index stream: two-wave incremental build probes identical to batch") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = "/root/testdata/sf0.001"
    val ebatch = graft.Tables.embeddings(spark, base)
    val cents = graft.llm.Similarity.firstNCentroids(ebatch)
    val vecs = ebatch.select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
    val mid = vecs.length / 2
    val dir = java.nio.file.Files.createTempDirectory("ivfstream").toString
    val input = MemoryStream[(Long, Array[Float])]
    val q = graft.streaming.EmbeddingStreams.ivfIndexStream(
      input.toDS().toDF("vec_id", "embedding"), cents,
      s"$dir/idx", s"$dir/ckpt")
    input.addData(vecs.take(mid))    // initial index build
    q.processAllAvailable()
    input.addData(vecs.drop(mid))    // later arrivals append into cells
    q.processAllAvailable()
    q.stop()
    val probed = graft.llm.Similarity.probeIvfIndex(spark, s"$dir/idx").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    val batch = graft.llm.Similarity.ivfTopK(spark, base).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    assert(probed == batch,
      s"probe-only: ${(probed -- batch).take(3)}; batch-only: ${(batch -- probed).take(3)}")
  }

  test("near-dup pairs stream: drained incremental LSH equals the batch multiprobe set") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = "/root/testdata/sf0.001"
    val ebatch = graft.Tables.embeddings(spark, base)
    val (bands, r, t) = (16, 9, 2)
    val vecs = ebatch.select(col("vec_id"), col("embedding")).collect()
      .map(x => (x.getLong(0), x.getSeq[Float](1).toArray)).toSeq
    val input = MemoryStream[(Long, Array[Float])]
    val q = graft.streaming.EmbeddingStreams.nearDupPairsStream(
        input.toDS().toDF("vec_id", "embedding"), bands, r, t)
      .writeStream.format("memory").queryName("parity_neardup")
      .outputMode("append").start()
    // three waves in REVERSED id order: later-arriving smaller ids
    // must still pair against already-registered larger ids
    val waves = vecs.sortBy(-_._1).grouped((vecs.size + 2) / 3).toSeq
    waves.foreach { w => input.addData(w); q.processAllAvailable() }
    val streamed = spark.table("parity_neardup").collect()
      .map(x => (x.getLong(0), x.getLong(1), math.round(x.getDouble(2) * 1e9)))
      .toSet // at-least-once emission: set-compare is the contract
    q.stop()
    val batch = graft.llm.Similarity
      .nearDupPairsMultiProbe(ebatch, bands, r, t).collect()
      .map(x => (x.getLong(0), x.getLong(1), math.round(x.getDouble(2) * 1e9)))
      .toSet
    assert(streamed == batch,
      s"stream-only: ${(streamed -- batch).take(3)}; batch-only: ${(batch -- streamed).take(3)}")
    assert(streamed.nonEmpty)
  }

  test("near-dup TTL stream: pairs gate on event-time gap; evicted members re-admit") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = "/root/testdata/sf0.001"
    val ebatch = graft.Tables.embeddings(spark, base)
    val (bands, r, t) = (16, 9, 2)
    // plant event times 1 s apart by vec_id: the deterministic
    // pairing rule becomes |vec_a − vec_b| ≤ ttlSec
    val t0 = 1700000000000L
    val ttlSec = 100L
    val vecs = ebatch.select(col("vec_id"), col("embedding")).collect()
      .map(x => (x.getLong(0), x.getSeq[Float](1).toArray,
        new java.sql.Timestamp(t0 + x.getLong(0) * 1000L))).toSeq
    val input = MemoryStream[(Long, Array[Float], java.sql.Timestamp)]
    val q = graft.streaming.EmbeddingStreams.nearDupPairsStreamTtl(
        input.toDS().toDF("vec_id", "embedding", "ts"), bands, r, t,
        java.time.Duration.ofSeconds(ttlSec))
      .writeStream.format("memory").queryName("parity_neardup_ttl")
      .outputMode("append").start()
    val waves = vecs.sortBy(_._1).grouped((vecs.size + 2) / 3).toSeq
    waves.foreach { w => input.addData(w); q.processAllAvailable() }
    // advance the watermark a year: every member's ttl expires
    val farTs = new java.sql.Timestamp(t0 + 365L * 86400 * 1000)
    input.addData((-1L, vecs.head._2, farTs))
    q.processAllAvailable()
    // a re-arrival of vector 0's embedding, ttl-close to the sentinel:
    // old members are evicted (no pair with 0), but it pairs with the
    // sentinel clone — eviction re-admits, it does not blacklist
    input.addData((-2L, vecs.head._2, new java.sql.Timestamp(farTs.getTime + 1000L)))
    q.processAllAvailable()
    val streamed = spark.table("parity_neardup_ttl").collect()
      .map(x => (x.getLong(0), x.getLong(1), math.round(x.getDouble(2) * 1e9)))
      .toSet
    q.stop()
    val lateOnly = streamed.filter(p => p._1 < 0 || p._2 < 0)
    assert(lateOnly.map(p => (p._1, p._2)) == Set((-2L, -1L)),
      s"late arrivals must pair only with each other, got $lateOnly")
    val batch = graft.llm.Similarity
      .nearDupPairsMultiProbe(ebatch, bands, r, t)
      .filter(abs(col("vec_a") - col("vec_b")) <= ttlSec)
      .collect()
      .map(x => (x.getLong(0), x.getLong(1), math.round(x.getDouble(2) * 1e9)))
      .toSet
    assert(streamed -- lateOnly == batch,
      s"stream-only: ${(streamed -- lateOnly -- batch).take(3)}; " +
        s"batch-only: ${(batch -- streamed).take(3)}")
    assert(batch.nonEmpty)
  }

  test("near-dup TTL sub-ms: gaps straddling the ttl by ±400µs classify on true micros") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dim = graft.llm.Similarity.Dim
    val e = Array.tabulate(dim)(i => math.sin(i).toFloat)
    val ttl = java.time.Duration.ofSeconds(100)
    val ttlUs = 100000000L
    // all four rows carry the SAME embedding (identical vectors always
    // meet in every exact bucket), so pairing is decided purely by the
    // event-time gap:
    //  ids 1,2: gap = ttl + 400µs -> NOT a pair. The retired getTime
    //    arithmetic truncates the gap to exactly ttl ms and pairs them.
    //  ids 3,4: gap = ttl − 400µs -> a pair (both precisions agree;
    //    guards the other boundary side). The 3/4 cohort sits 10·ttl
    //    after 1/2 so no cross-cohort gap is within ttl.
    val rows = Seq(
      (1L, e, tsUs(subMsBase)),
      (2L, e, tsUs(subMsBase + ttlUs + 400)),
      (3L, e, tsUs(subMsBase + 10 * ttlUs)),
      (4L, e, tsUs(subMsBase + 10 * ttlUs + ttlUs - 400)))
    val input = MemoryStream[(Long, Array[Float], java.sql.Timestamp)]
    val q = graft.streaming.EmbeddingStreams.nearDupPairsStreamTtl(
        input.toDS().toDF("vec_id", "embedding", "ts"), 8, 4, 1, ttl)
      .writeStream.format("memory").queryName("parity_neardup_subms")
      .outputMode("append").start()
    input.addData(rows)
    q.processAllAvailable()
    input.addData((-1L, e, tsUs(subMsBase + 365L * 86400 * 1000000L)))
    q.processAllAvailable()
    val streamed = spark.table("parity_neardup_subms").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    q.stop()
    assert(streamed == Set((3L, 4L)),
      s"expected only the sub-ttl pair (3,4), got $streamed")
  }

  test("near-dup duplicate-heavy stream: planted 100-copy cohort drains to batch parity") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = "/root/testdata/sf0.001"
    val ebatch = graft.Tables.embeddings(spark, base)
    val vecs = ebatch.select(col("vec_id"), col("embedding")).collect()
      .map(x => (x.getLong(0), x.getSeq[Float](1).toArray)).toSeq
    val shift = vecs.map(_._1).max + 1
    // the web-scale shape that killed the uncollapsed batch run at
    // ×1000: one vector duplicated 100× under fresh ids, interleaved
    // with the real corpus across waves
    val cohort = (0 until 100).map(k => (shift + k, vecs.head._2))
    val corpus = new scala.util.Random(7).shuffle(vecs ++ cohort)
    val (bands, r, t) = (16, 10, 2)
    val input = MemoryStream[(Long, Array[Float])]
    val q = graft.streaming.EmbeddingStreams.nearDupPairsStream(
        input.toDS().toDF("vec_id", "embedding"), bands, r, t)
      .writeStream.format("memory").queryName("parity_neardup_dup")
      .outputMode("append").start()
    corpus.grouped((corpus.size + 2) / 3).foreach { w =>
      input.addData(w); q.processAllAvailable()
    }
    val streamed = spark.table("parity_neardup_dup").collect()
      .map(x => (x.getLong(0), x.getLong(1), math.round(x.getDouble(2) * 1e9)))
      .toSet
    q.stop()
    // batch twin over the same union corpus — via the dup collapse,
    // whose pair-set identity with the direct construction is
    // EmbedDupCollapseSpec's claim
    val batch = graft.llm.Similarity.nearDupWithDupCollapse(
        corpus.toDF("vec_id", "embedding"), bands, r, t).collect()
      .map(x => (x.getLong(0), x.getLong(1), math.round(x.getDouble(2) * 1e9)))
      .toSet
    assert(streamed == batch,
      s"stream-only: ${(streamed -- batch).take(3)}; batch-only: ${(batch -- streamed).take(3)}")
    // the cohort really exercised the collapse: all C(101,2) pairs
    // among vec0 and its copies are present
    val cohortIds = (vecs.head._1 +: cohort.map(_._1)).toSet
    val within = streamed.count(p => cohortIds(p._1) && cohortIds(p._2))
    assert(within == 101 * 100 / 2, s"cohort pairs: $within")
  }

  test("near-dup pairs stream at a non-default width: dim = 8 finds the planted pair") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // 8-dim vectors: the probe expression's width is the `dim`
    // argument, so at the 64-dim default every probe is null
    val rnd = new scala.util.Random(11)
    val vecs = (0L until 40L).map(id => (id, Array.fill(8)(rnd.nextFloat() * 2f - 1f)))
    val planted = (1000L, vecs(5)._2.clone())
    val (bands, r, t) = (4, 6, 1)
    def drain(name: String, dim: Option[Int]): Set[(Long, Long)] = {
      val input = MemoryStream[(Long, Array[Float])]
      val embs = input.toDS().toDF("vec_id", "embedding")
      val pairs = dim match {
        case Some(d) => graft.streaming.EmbeddingStreams.nearDupPairsStream(embs, bands, r, t, d)
        case None => graft.streaming.EmbeddingStreams.nearDupPairsStream(embs, bands, r, t)
      }
      val q = pairs.writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      (vecs :+ planted).grouped(21).foreach { w =>
        input.addData(w); q.processAllAvailable()
      }
      q.stop()
      spark.table(name).collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    }
    assert(drain("neardup_dim8", Some(8)).contains((5L, 1000L)))
    assert(drain("neardup_dim_default", None).isEmpty)
  }

  test("centroid stream: drained running means are bit-identical to batch pooling") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = "/root/testdata/sf0.001"
    val rows = graft.Tables.embeddings(spark, base)
      .select(col("label"), col("embedding")).collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1).toArray)).toSeq
    val mid = rows.length / 2
    val input = MemoryStream[(Int, Array[Float])]
    val q = graft.llm.Similarity
      .centroidsOf(input.toDS().toDF("label", "embedding"))
      .writeStream.format("memory").queryName("centroids")
      .outputMode("complete").start()
    input.addData(rows.take(mid))
    q.processAllAvailable()
    // mid-stream state is a valid centroid of the prefix (n sums to mid*dim)
    val midN = spark.table("centroids").agg(sum("n")).collect()(0).getLong(0)
    assert(midN == mid.toLong * graft.llm.Similarity.Dim)
    input.addData(rows.drop(mid))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("centroids").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    val batch = graft.llm.Similarity.labelCentroids(spark, base).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    assert(streamed == batch,   // EXACT doubles: fixed-point partials
      s"stream-only: ${(streamed -- batch).take(3)}; batch-only: ${(batch -- streamed).take(3)}")
  }

  test("exactly-once sink: a re-run from the same checkpoint adds nothing") {
    import java.nio.file.Files
    val base = Files.createTempDirectory("eos").toString
    def runOnce(): Unit = {
      val stream = eventsFileStream(spark, sfDir)
        .select(col("event_id"), col("ts"), col("user_id"))
      val q = exactlyOnceParquetSink(stream, s"$base/out", s"$base/ckpt")
      q.awaitTermination()
    }
    runOnce()
    val afterFirst = spark.read.parquet(s"$base/out").count()
    runOnce()  // same checkpoint: no new input -> no new batches
    val afterSecond = spark.read.parquet(s"$base/out").count()
    val expected = graft.Tables.events(spark, sfDir).count()
    assert(afterFirst == expected, s"sink wrote $afterFirst of $expected rows")
    assert(afterSecond == afterFirst, "re-run from checkpoint duplicated rows")
  }

  test("doc dedup: incremental minhash-signature dedup equals the batch collapse") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val n = docs.map(_._1).max + 1
    // byte-identical copies under higher ids, arriving a batch later:
    // every one must be suppressed by state from the first batch
    val dups = docs.map { case (id, t) => (id + n, t) }
    val input = MemoryStream[(Long, String)]
    val q = DocStreams.minhashDedupStream(input.toDS().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("parity_docdedup")
      .outputMode("append").start()
    input.addData(docs)
    q.processAllAvailable()
    input.addData(dups)
    q.processAllAvailable()
    val streamedRows = spark.table("parity_docdedup").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    q.stop()
    assert(streamedRows.length == streamedRows.toSet.size,
      "a signature must never be emitted twice")
    // batch twin over originals + dups: collapse by the same full
    // signature, keep the min doc_id
    val batch = (docs ++ dups).toDF("doc_id", "text")
      .select(col("doc_id"), graft.llm.Dedup.signatureKey.as("sig"))
      .groupBy(col("sig")).agg(min(col("doc_id")).as("doc_id"))
      .collect().map(r => (r.getLong(1), r.getString(0))).toSet
    assert(streamedRows.toSet == batch,
      s"stream-only: ${(streamedRows.toSet -- batch).take(3)}; " +
        s"batch-only: ${(batch -- streamedRows.toSet).take(3)}")
  }

  test("prep stream: scrub+gate+dedup ingest equals the batch pipeline's kept set") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = "/root/testdata/sf0.001"
    val docs = graft.Tables.documents(spark, base)
      .select(col("doc_id"), col("lang"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    val n = docs.map(_._1).max + 1
    val dups = docs.map { case (id, l, t) => (id + n, l, t) }
    val input = MemoryStream[(Long, String, String)]
    val q = graft.streaming.DocStreams
      .prepStream(input.toDS().toDF("doc_id", "lang", "text"))
      .writeStream.format("memory").queryName("parity_prep")
      .outputMode("append").start()
    input.addData(docs)
    q.processAllAvailable()
    input.addData(dups)   // byte-identical copies a batch later: all suppressed
    q.processAllAvailable()
    val streamed = spark.table("parity_prep").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    q.stop()
    assert(streamed.map(_._1).distinct.length == streamed.length)
    // batch twin over the SAME union corpus, through the same stages
    val dir = java.nio.file.Files.createTempDirectory("prep").toString
    (docs ++ dups).toDF("doc_id", "lang", "text")
      .select(col("doc_id"), col("text"), col("lang"),
        lit("web").as("source"), length(col("text")).cast("long").as("n_chars"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val batch = graft.llm.Pipeline.scrubGate(graft.Tables.documents(spark, dir))
      .withColumn("h", md5(lower(col("clean"))))
      .withColumn("keep", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("h")).orderBy(col("doc_id").asc)) === 1)
      .filter(col("keep"))
      .select(col("doc_id"), col("lang"), col("n_tokens")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    assert(streamed.toSet == batch,
      s"stream-only: ${(streamed.toSet -- batch).take(3)}; " +
        s"batch-only: ${(batch -- streamed.toSet).take(3)}")
  }

  test("doc dedup TTL: real corpus — fresh dups suppressed, evicted sigs re-admitted") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val n = docs.map(_._1).max + 1
    val t0 = 1_700_000_000_000L
    def at(minutes: Long): java.sql.Timestamp =
      new java.sql.Timestamp(t0 + minutes * 60000L)
    val input = MemoryStream[(Long, String, java.sql.Timestamp)]
    val q = DocStreams
      .minhashDedupStreamTtl(input.toDS().toDF("doc_id", "text", "ts"),
        ttl = java.time.Duration.ofHours(1), watermarkDelay = "0 seconds")
      .writeStream.format("memory").queryName("parity_docdedup_ttl")
      .outputMode("append").start()
    // wave 1: the whole corpus at 00:00 — distinct signatures emit
    input.addData(docs.map { case (id, t) => (id, t, at(0)) })
    q.processAllAvailable()
    // wave 2 at 00:30, inside the 1 h TTL: every copy suppressed
    input.addData(docs.map { case (id, t) => (id + n, t, at(30)) })
    q.processAllAvailable()
    // clock doc at 05:00 pushes the watermark past every 01:30 expiry
    input.addData((-1L, "watermark advancing clock document", at(300)))
    q.processAllAvailable()
    // wave 3 at 05:30, after eviction: the corpus re-admits wholesale
    input.addData(docs.map { case (id, t) => (id + 2 * n, t, at(330)) })
    q.processAllAvailable()
    val streamed = spark.table("parity_docdedup_ttl")
      .filter(col("doc_id") >= 0).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    q.stop()
    // batch twin: the min-doc_id signature collapse, once per
    // surviving wave (wave 2 leaves no trace — suppression is total)
    val collapse = docs.toDF("doc_id", "text")
      .select(col("doc_id"), graft.llm.Dedup.signatureKey.as("sig"))
      .groupBy(col("sig")).agg(min(col("doc_id")).as("doc_id"))
      .collect().map(r => (r.getLong(1), r.getString(0)))
    val expected = (collapse ++ collapse.map { case (id, s) => (id + 2 * n, s) }).toSet
    assert(streamed == expected,
      s"stream-only: ${(streamed -- expected).take(3)}; " +
        s"expected-only: ${(expected -- streamed).take(3)}")
  }

  test("doc dedup TTL: sub-ms sighting never evicts early (µs expiry, ceil-ms timeout)") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // sighting at base+999µs, ttl 100 s: the retired floor-ms expiry
    // (getTime + ttlMs) fires at watermark base+100.000 s — 999 µs
    // BEFORE "unseen for ttl" — and would re-emit the duplicate at
    // base+100.0005 s; the µs expiry with a ceil-ms timeout keeps the
    // signature alive through that window
    val t0us = 1_700_000_000_000_000L // epoch µs, ms-aligned
    def tsUs(us: Long): java.sql.Timestamp = {
      val t = new java.sql.Timestamp(math.floorDiv(us, 1000L))
      t.setNanos(math.floorMod(us, 1000000L).toInt * 1000)
      t
    }
    val input = MemoryStream[(Long, String, java.sql.Timestamp)]
    val q = DocStreams
      .minhashDedupStreamTtl(input.toDS().toDF("doc_id", "text", "ts"),
        ttl = java.time.Duration.ofSeconds(100), watermarkDelay = "0 seconds")
      .writeStream.format("memory").queryName("parity_docdedup_subms")
      .outputMode("append").start()
    val text = "sub millisecond boundary eviction probe document"
    input.addData((1L, text, tsUs(t0us + 999)))
    q.processAllAvailable()
    // clock doc: watermark lands EXACTLY on the floor-ms expiry
    input.addData((-1L, "watermark advancing clock document", tsUs(t0us + 100_000_000L)))
    q.processAllAvailable()
    // a batch with NO data for the probe key at that watermark — the
    // only path where the timeout can fire: floor-ms expiry (≤ wm)
    // would evict here, 999 µs early; the ceil-µs expiry stays alive
    input.addData((-2L, "second clock document different signature", tsUs(t0us + 100_000_100L)))
    q.processAllAvailable()
    // duplicate inside the 999 µs window the truncation would lose
    input.addData((2L, text, tsUs(t0us + 100_000_500L)))
    q.processAllAvailable()
    q.stop()
    val ids = spark.table("parity_docdedup_subms").collect()
      .map(_.getLong(0)).toSet
    assert(ids.contains(1L))
    assert(!ids.contains(2L),
      "duplicate re-admitted 999 µs before its ttl — early eviction")
  }

  test("compaction: streamed latest-wins state equals batch latestPerKey") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val events = collectEvents()
    val input = MemoryStream[Event]
    val q = compactStream(input.toDS())
      .writeStream.format("memory").queryName("parity_compact")
      .outputMode("update").start()
    // three micro-batches in arrival order unrelated to event time, so
    // the state must genuinely compare (ts, event_id), not arrival
    val waves = events.sortBy(_.event_id).grouped((events.size + 2) / 3).toSeq
    waves.foreach { w => input.addData(w); q.processAllAvailable() }
    // a consumer upserting emitted rows holds, per key, the last
    // emission = the max (ts, event_id) ever emitted for that key
    val streamed = spark.table("parity_compact").collect()
      .map(r => (r.getLong(2), (r.getTimestamp(1).getTime, r.getLong(0))))
      .groupBy(_._1).map { case (u, rows) => (u, rows.map(_._2).max) }.toSet
    q.stop()
    val batch = graft.operators.Compaction.latestPerKey(
        graft.Tables.events(spark, sfDir)
          .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
            col("user_id")),
        Seq("user_id"), Seq(col("ts"), col("event_id")))
      .collect()
      .map(r => (r.getLong(2), (r.getTimestamp(1).getTime, r.getLong(0))))
      .toSet
    assert(streamed == batch,
      s"stream-only: ${(streamed -- batch).take(3)}; batch-only: ${(batch -- streamed).take(3)}")
  }

  test("twap: drained step-hold stream equals the batch two-level decomposition") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val events = collectEvents()
    val maxTs = events.map(_.ts.getTime).max
    val input = MemoryStream[Event]
    val q = twapStream(input.toDS())
      .writeStream.format("memory").queryName("parity_twap")
      .outputMode("append").start()
    // waves in arrival order unrelated to event time, so holds must
    // genuinely wait for the watermark before pairing successors
    val waves = events.sortBy(_.event_id).grouped((events.size + 2) / 3).toSeq
    waves.foreach { w => input.addData(w); q.processAllAvailable() }
    // sentinel a year ahead: the global watermark passes every real
    // hold's successor; each type's LAST event stays pending, exactly
    // the null-end hold the batch side drops
    input.addData(Event(-1L, new java.sql.Timestamp(maxTs + 365L * 86400 * 1000),
      -1L, "sentinel", 0.0))
    q.processAllAvailable()
    val streamed = spark.table("parity_twap")
      .filter(col("event_type") =!= "sentinel")
      .groupBy(col("hour_us"), col("event_type"))
      .agg(sum(graft.Exact.dec2(col("value")) * col("ov_us")).as("num"),
        sum(col("ov_us")).as("held_us"))
      .select(col("hour_us"), col("event_type"),
        (col("num").cast("double") / col("held_us").cast("double")).as("twap"),
        col("held_us"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getLong(3)))
      .toSet
    q.stop()
    val batch = EventWindows.twap(spark, sfDir)
      .select(unix_micros(col("hour_start").cast("timestamp")).as("hour_us"),
        col("event_type"), col("twap"), col("held_us"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getLong(3)))
      .toSet
    assert(streamed == batch,
      s"stream-only: ${(streamed -- batch).take(3)}; batch-only: ${(batch -- streamed).take(3)}")
    assert(streamed.nonEmpty)
  }

  /** Timestamp at exact micro-second precision (sub-ms resolution is
    * what `ts.getTime` truncates). */
  private def tsUs(us: Long): java.sql.Timestamp = {
    // floorDiv/floorMod so PRE-EPOCH micros build correctly too
    val t = new java.sql.Timestamp(math.floorDiv(us, 1000L))
    t.setNanos(math.floorMod(us, 1000000L).toInt * 1000)
    t
  }
  private val subMsBase = 1700000000000000L // fixed epoch µs, ms-aligned

  test("sessions sub-ms: gaps straddling 30 min by ±400µs match session_window") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val gapUs = 30L * 60 * 1000000L
    // user 1: true gap = gap − 400µs → ONE session; the retired
    //   ms-truncated compare saw exactly 30 min and split it
    // user 2: true gap = gap + 400µs → TWO sessions (both sides agree;
    //   guards the other side of the boundary)
    // user 3: same-ms events whose id order opposes their µs order —
    //   the session start must carry the true earliest MICRO instant
    val events = Seq(
      Event(1L, tsUs(subMsBase + 600), 1L, "view", 1.0),
      Event(2L, tsUs(subMsBase + 600 + gapUs - 400), 1L, "view", 2.0),
      Event(3L, tsUs(subMsBase), 2L, "view", 3.0),
      Event(4L, tsUs(subMsBase + gapUs + 400), 2L, "view", 4.0),
      Event(6L, tsUs(subMsBase + 900), 3L, "view", 5.0),
      Event(5L, tsUs(subMsBase + 100), 3L, "view", 6.0))
    // (pre-epoch instants cannot ride this fixture: Spark's initial
    // watermark is 0, so negative event times are dropped as late
    // rows before any stateful operator sees them — the micros
    // round-trip for them is pinned directly in EventStreamsSpec)
    val input = MemoryStream[Event]
    val q = sessionize(input.toDS())
      .writeStream.format("memory").queryName("parity_sessions_subms")
      .outputMode("append").start()
    input.addData(events)
    q.processAllAvailable()
    input.addData(Event(-1L,
      tsUs(subMsBase + 365L * 86400 * 1000000L), -1L, "sentinel", 0.0))
    q.processAllAvailable()
    val streamed = spark.table("parity_sessions_subms")
      .filter(col("user_id") =!= -1L)
      .select(col("user_id"), unix_micros(col("session_start")),
        col("n_events"), col("session_value"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        math.round(r.getDouble(3) * 100)))
      .toSet
    q.stop()
    val batch = events.toDS().toDF()
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total"))
      .select(col("user_id"), unix_micros(col("session_window.start")),
        col("n"), col("total"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2).toInt,
        math.round(r.getDouble(3) * 100)))
      .toSet
    assert(streamed == batch,
      s"stream-only: ${streamed -- batch}; batch-only: ${batch -- streamed}")
    // the adversarial rows really exercised both boundary sides
    assert(batch.count(_._1 == 1L) == 1, "user 1 must merge to one session")
    assert(batch.count(_._1 == 2L) == 2, "user 2 must split into two sessions")
    assert(batch.exists(t => t._1 == 3L && t._2 == subMsBase + 100),
      "user 3's session start must keep its sub-ms micros")
  }

  test("compaction sub-ms: same-ms events with opposing id order pick the µs-latest") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // user 1: the µs-LATER event has the SMALLER id — an ms-truncated
    //   latest-wins key ties on ms and wrongly lets id 20 win
    // user 2: ids agree with micros (control)
    val events = Seq(
      Event(10L, tsUs(subMsBase + 800), 1L, "view", 1.0),
      Event(20L, tsUs(subMsBase + 200), 1L, "view", 2.0),
      Event(30L, tsUs(subMsBase + 100), 2L, "view", 3.0),
      Event(40L, tsUs(subMsBase + 900), 2L, "view", 4.0))
    val input = MemoryStream[Event]
    val q = compactStream(input.toDS())
      .writeStream.format("memory").queryName("parity_compact_subms")
      .outputMode("update").start()
    // one event per micro-batch, in id order: the bogus ms key would
    // emit id 20 as an "improvement" over id 10
    events.foreach { e => input.addData(e); q.processAllAvailable() }
    val streamed = spark.table("parity_compact_subms")
      .select(col("user_id"), unix_micros(col("ts")), col("event_id"))
      .collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2))))
      .groupBy(_._1).map { case (u, rows) => (u, rows.map(_._2).max._2) }
      .toSet
    q.stop()
    val batch = graft.operators.Compaction.latestPerKey(
        events.toDS().toDF().select(col("event_id"), col("ts"), col("user_id")),
        Seq("user_id"), Seq(col("ts"), col("event_id")))
      .collect().map(r => (r.getLong(2), r.getLong(0))).toSet
    assert(streamed == batch,
      s"stream-only: ${streamed -- batch}; batch-only: ${batch -- streamed}")
    assert(batch == Set((1L, 10L), (2L, 40L)))
  }

  test("heavy hitters: drained Misra-Gries stream equals exact batch counts") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val input = MemoryStream[(Long, String)]
    // k=64 ≥ |vocab|=31: the MG guarantee forces exactness, so the
    // stream must land on the true counts REGARDLESS of micro-batch
    // partial/merge order
    val q = DocStreams.heavyHittersStream(input.toDS().toDF("doc_id", "text"), k = 64)
      .writeStream.format("memory").queryName("parity_hh")
      .outputMode("complete").start()
    // three waves forces real cross-micro-batch state merges
    docs.grouped((docs.size + 2) / 3).foreach { w =>
      input.addData(w); q.processAllAvailable()
    }
    val streamed = spark.table("parity_hh").collect().head
      .getMap[String, Long](0).toMap
    q.stop()
    val exact = graft.Tables.documents(spark, sfDir)
      .select(explode(graft.llm.TextAnalysis.tokensCol).as("word"))
      .groupBy("word").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(streamed == exact,
      s"stream-only: ${(streamed.toSet -- exact.toSet).take(3)}; " +
        s"batch-only: ${(exact.toSet -- streamed.toSet).take(3)}")
    // and a truncating sketch keeps its invariants across the stream
    val input2 = MemoryStream[(Long, String)]
    val q2 = DocStreams.heavyHittersStream(input2.toDS().toDF("doc_id", "text"), k = 8)
      .writeStream.format("memory").queryName("parity_hh_small")
      .outputMode("complete").start()
    docs.grouped((docs.size + 2) / 3).foreach { w =>
      input2.addData(w); q2.processAllAvailable()
    }
    val small = spark.table("parity_hh_small").collect().head
      .getMap[String, Long](0).toMap
    q2.stop()
    assert(small.size <= 8, "summary must not exceed capacity")
    small.foreach { case (w, est) =>
      assert(est <= exact(w), s"$w: streaming est overestimates")
    }
  }

  test("Count-Min: drained streaming grid is elementwise equal to the batch grid") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val input = MemoryStream[(Long, String)]
    // narrow grid so collisions are live; the grid is a deterministic
    // function of the token multiset, so ANY micro-batch split must
    // land on the identical cells — bit-exact parity, not bounds
    val q = DocStreams.cmsStream(input.toDS().toDF("doc_id", "text"),
        depth = 3, width = 16)
      .writeStream.format("memory").queryName("parity_cms")
      .outputMode("complete").start()
    docs.grouped((docs.size + 2) / 3).foreach { w =>
      input.addData(w); q.processAllAvailable()
    }
    val streamed = spark.table("parity_cms").collect().head
      .getSeq[Long](0).toArray
    q.stop()
    val batch = graft.Tables.documents(spark, sfDir)
      .select(explode(graft.llm.TextAnalysis.tokensCol).as("word"))
      .as[String]
      .select(graft.operators.CountMinAgg(3, 16).toColumn.name("cells"))
      .head()
    assert(streamed.sameElements(batch),
      "streaming CMS grid must equal the batch grid")
  }

  test("dedup: duplicated stream collapses to the batch-distinct event set") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val events = collectEvents()
    val input = MemoryStream[Event]
    val q = dedupStream(input.toDF())
      .writeStream.format("memory").queryName("parity_dedup")
      .outputMode("append").start()
    input.addData(events)          // originals
    q.processAllAvailable()
    input.addData(events)          // exact duplicates, later micro-batch
    q.processAllAvailable()
    val streamedIds = spark.table("parity_dedup").collect()
      .map(_.getLong(0)).sorted.toSeq
    q.stop()
    val batchIds = graft.Tables.events(spark, sfDir)
      .select(col("event_id")).distinct().collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(streamedIds == batchIds)
  }
}
