package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Exact._
import graft.Tables

/** Event-time windowing over the `events` table, in BATCH mode.
  *
  * The reference is strictly batch (job runs to DONE and exits,
  * coordinator.go:136-140), so these run as batch `window()` /
  * `session_window()` aggregations (SURVEY.md §1.3). The same
  * transformations run unchanged under `readStream` — see
  * `graft.streaming` for the watermarked streaming variants.
  *
  * Scale: window() compiles to an ordinary hash aggregation keyed on
  * (window, ...) — partial+final, no global sort; session_window uses
  * the sort-based session merge within user_id partitions, which
  * scales as long as a single user's events fit a partition (true for
  * any sane user cardinality; salting by day would be the escape
  * hatch).
  */
object EventWindows {

  /** Tumbling 1-hour windows per event_type. */
  def hourly(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        dsum(col("value")).as("total_value"),
        countDistinct(col("user_id")).as("n_users"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("total_value"), col("n_users"))

  /** Sliding windows: 1-hour length, 30-minute slide (each event lands
    * in exactly two windows).
    */
  def sliding(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("total_value"))

  /** Session windows per user: 30-minute inactivity gap. A new event
    * at t extends the session to t+gap; the next event merges iff it
    * arrives strictly before that end.
    */
  def sessions(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        dsum(col("value")).as("session_value"),
        max(col("ts")).as("last_ts"))
      .select(col("session_window.start").as("session_start"), col("user_id"),
        col("n_events"), col("session_value"), col("last_ts"))

  /** Session entry/exit transition matrix — the product-analytics
    * counterpart of [[sessions]], built on GAP-BASED sessionization
    * (lag + running sum of session-break flags — the classic
    * two-window construction, vs [[sessions]]' `session_window`):
    * events more than 30 minutes apart start a new session; each
    * session reports its first and last page (`props.$k`), and the
    * output aggregates sessions per (entry_page, exit_page) with the
    * bounce count (single-event sessions; entry = exit by
    * construction). Timestamps compare as exact epoch MICROSECONDS
    * (`unix_micros` / DuckDB `epoch_us`) — second-truncation would
    * misclassify sub-second gaps differently per engine.
    *
    * Scale: both windows and the per-session aggregation ride ONE
    * hash partitioning on user_id (the session key); the final
    * (entry, exit) matrix is page² rows — tiny.
    */
  def entryExit(spark: SparkSession, sfDir: String): DataFrame =
    entryExitOf(Tables.events(spark, sfDir))

  /** Core over any (user_id, ts, event_id, props) frame.
    *
    * Two-level construction (round-9 hot-user probe: the previous
    * three bare per-user windows ran 14.6 s with one user holding 50%
    * of 10M events — the family's slowest single-task sort): the gap
    * `lag` runs within (user, day-bucket) with
    * each bucket's first event taking its predecessor from the
    * per-bucket LASTS table; the session-id running sum is a
    * two-level prefix sum ([[graft.llm.Pack]]'s discipline — in-bucket
    * running sum + the cumulative break count of the user's PRIOR
    * buckets); and the per-session entry/exit ranks are replaced by
    * associative `min_by`/`max_by` aggregation, which partial-aggs
    * map-side instead of sorting a session in one task. Per-task work
    * is bounded by a user's day at any key heat.
    */
  def entryExitOf(events: DataFrame): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val bucketUs = 86400000000L
    val inBucket = W.partitionBy(col("user_id"), col("bucket"))
      .orderBy(col("us"), col("event_id"))
    val byBucket = W.partitionBy(col("user_id")).orderBy(col("bucket"))
    val base = events
      .select(col("user_id"), Tables.epochMicros(col("ts")).as("us"),
        col("event_id"),
        get_json_object(col("props"), "$.k").cast("int").as("page"))
      .withColumn("bucket", col("us") - pmod(col("us"), lit(bucketUs)))
    val prevLast = base.groupBy(col("user_id"), col("bucket"))
      .agg(max(col("us")).as("last_us"))
      .withColumn("prev_last_us", lag(col("last_us"), 1).over(byBucket))
      .select(col("user_id"), col("bucket"), col("prev_last_us"))
    val withBrk = base
      .withColumn("prev_in", lag(col("us"), 1).over(inBucket))
      .join(prevLast, Seq("user_id", "bucket"), "left")
      .withColumn("prev_us", coalesce(col("prev_in"), col("prev_last_us")))
      .withColumn("brk",
        when(col("prev_us").isNull || col("us") - col("prev_us") > 1800000000L,
          1L).otherwise(0L))
    val offsets = withBrk.groupBy(col("user_id"), col("bucket"))
      .agg(sum(col("brk")).as("bucket_brks"))
      .withColumn("off", coalesce(
        sum(col("bucket_brks")).over(byBucket.rowsBetween(Long.MinValue, -1)),
        lit(0L)))
      .select(col("user_id"), col("bucket"), col("off"))
    withBrk
      .withColumn("run_in",
        sum(col("brk")).over(inBucket.rowsBetween(Long.MinValue, 0)))
      .join(offsets, Seq("user_id", "bucket"))
      .withColumn("sess_id", col("run_in") + col("off"))
      .groupBy(col("user_id"), col("sess_id"))
      .agg(min_by(col("page"), struct(col("us"), col("event_id")))
          .as("entry_page"),
        max_by(col("page"), struct(col("us"), col("event_id")))
          .as("exit_page"),
        count(lit(1)).as("n_events"))
      .groupBy(col("entry_page"), col("exit_page"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(when(col("n_events") === 1, 1L).otherwise(0L)).as("n_bounces"))
  }

  /** Hour-of-day profile — scalar time extraction + agg. */
  def hourOfDay(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(hour(col("ts")).as("hod"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value"))

  /** Semi-structured access: extract `$.k` from the JSON props column.
    * At scale this stays in codegen (`get_json_object` is a native
    * expression) — no UDF.
    */
  def jsonProps(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"), max(col("k")).as("max_k"))

  /** Three-step conversion funnel (view → click → purchase, strictly
    * time-ordered per user): stage timestamps are unordered-frame
    * window minima chained per user — all three share one hash
    * partitioning on user_id, so the whole funnel costs a single
    * exchange plus one final global aggregate. No per-user UDF, no
    * event-sequence collect.
    */
  def funnel(spark: SparkSession, sfDir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("user_id"))
    Tables.events(spark, sfDir)
      .withColumn("v", min(when(col("event_type") === "view", col("ts"))).over(w))
      .withColumn("c",
        min(when(col("event_type") === "click" && col("ts") > col("v"), col("ts"))).over(w))
      .withColumn("p",
        min(when(col("event_type") === "purchase" && col("ts") > col("c"), col("ts"))).over(w))
      .agg(
        countDistinct(col("user_id")).as("n_users"),
        countDistinct(when(col("v").isNotNull, col("user_id"))).as("n_view"),
        countDistinct(when(col("c").isNotNull, col("user_id"))).as("n_view_click"),
        countDistinct(when(col("p").isNotNull, col("user_id"))).as("n_full_funnel"))
  }

  /** Daily retention cohorts: users grouped by first-active day, with
    * day-1 and day-7 return counts. One distinct (user, day) pass,
    * one window for the cohort day, one aggregate — no self-join of
    * the activity table.
    */
  def retention(spark: SparkSession, sfDir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("user_id"))
    Tables.events(spark, sfDir)
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      .withColumn("cohort_day", min(col("day")).over(w))
      .groupBy(col("cohort_day"))
      .agg(
        countDistinct(col("user_id")).as("n_users"),
        countDistinct(when(col("day") === date_add(col("cohort_day"), 1),
          col("user_id"))).as("n_d1"),
        countDistinct(when(col("day") === date_add(col("cohort_day"), 7),
          col("user_id"))).as("n_d7"))
      // emit the day as midnight-UTC timestamp: every other date in
      // the suite flows as timestamp[us], and a date32 column hits
      // engine-dependent pandas representations in the compare
      .select(col("cohort_day").cast("timestamp").as("cohort_day"),
        col("n_users"), col("n_d1"), col("n_d7"))
  }

  /** Exponentially weighted moving average of the hourly event count
    * per event_type, over a trailing 8-observation window with DYADIC
    * weights 2^(7-j) (newest = 128 … oldest = 1). Powers of two keep
    * the weighted numerator an exact BIGINT — `Σ lag_j · 2^(7-j)` —
    * so the EWMA is one terminal division of exact integers instead
    * of a float recurrence (which is partition-order-dependent and
    * not expressible as a frame anyway). The denominator counts only
    * the weights of PRESENT lags, so the head of each series is a
    * proper partial average, not damped toward zero.
    *
    * Scale: one hash aggregation to hourly counts, then a per-type
    * window sort — series length is hours, not events, so the sorted
    * partitions are tiny no matter the corpus size.
    */
  def ewma(spark: SparkSession, sfDir: String): DataFrame = {
    val byType = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("hour"))
    val terms = (0 to 7).map { j =>
      val l = if (j == 0) col("cnt") else lag(col("cnt"), j).over(byType)
      (coalesce(l, lit(0L)) * lit(1L << (7 - j)),
        when(l.isNotNull, lit(1L << (7 - j))).otherwise(lit(0L)))
    }
    Tables.events(spark, sfDir)
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("hour"), col("event_type"), col("cnt"),
        terms.map(_._1).reduce(_ + _).as("wsum"),
        terms.map(_._2).reduce(_ + _).as("wtot"))
      .select(col("hour"), col("event_type"), col("cnt"), col("wsum"), col("wtot"),
        (col("wsum").cast("double") / col("wtot")).as("ewma"))
  }

  /** Trailing-window z-score anomaly detection over the GAP-FILLED
    * hourly series: each (event_type, hour) bucket is compared to its
    * previous 24 buckets. The series is densified on the corpus's
    * hour spine first (cnt = 0 where nothing happened) — a ROWS frame
    * over the sparse series would silently span gaps, and a traffic
    * drop to ZERO (the classic incident signal) could never be
    * flagged because the missing bucket never entered the series.
    * All moments are exact BIGINT sums over the frame (counts are
    * integers), so mean/variance reduce to a fixed sequence of IEEE
    * divisions — deterministic cross-engine, the same discipline as
    * [[ewma]]'s dyadic integer weights. Rows need ≥ 12 trailing
    * buckets (half a day of history) and non-degenerate variance;
    * |z| ≥ 3 flags the bucket.
    *
    * Scale: the spine is generated from a one-row bounds aggregate
    * (O(hours × types) rows, never O(events)); the window then rides
    * a single event_type-keyed exchange and each frame is ≤ 24 rows
    * of integer pairs.
    */
  def anomalies(spark: SparkSession, sfDir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("hour"))
      .rowsBetween(-24, -1)
    val nd = col("n").cast("double")
    val mean = col("s1").cast("double") / nd
    val variance = ((col("s2").cast("double")
      - col("s1").cast("double") * col("s1").cast("double") / nd)
      / (nd - lit(1.0)))
    val ev = Tables.events(spark, sfDir)
    val bounds = ev.agg(
      date_trunc("hour", min(col("ts"))).as("lo"),
      date_trunc("hour", max(col("ts"))).as("hi"))
    val spine = bounds.select(explode(
      sequence(col("lo"), col("hi"), expr("interval 1 hour"))).as("hour"))
    val types = ev.select(col("event_type")).distinct()
    val counts = ev
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
    spine.crossJoin(types)
      .join(counts, Seq("hour", "event_type"), "left")
      .select(col("hour"), col("event_type"),
        coalesce(col("cnt"), lit(0L)).as("cnt"))
      .select(col("hour"), col("event_type"), col("cnt"),
        count(col("cnt")).over(w).as("n"),
        sum(col("cnt")).over(w).as("s1"),
        sum(col("cnt") * col("cnt")).over(w).as("s2"))
      .filter(col("n") >= 12)
      .select(col("hour"), col("event_type"), col("cnt"),
        mean.as("mean"), variance.as("variance"))
      .filter(col("variance") > 0)
      .withColumn("z",
        (col("cnt").cast("double") - col("mean")) / sqrt(col("variance")))
      .withColumn("is_anomaly", abs(col("z")) >= 3.0)
  }

  /** Max / end-of-hour CONCURRENT sessions per hour — the sweep-line
    * interval aggregation (how many user sessions are open at once):
    * each gap-sessionized session [first, last event] becomes a +1
    * delta at its start and a −1 just after its end (closed
    * interval), and concurrency at t is the running sum of deltas
    * ≤ t. Naively that running sum is ONE global sort — a scale
    * killer — so it is decomposed into the two-level prefix sum (the
    * [[graft.llm.Pack]] discipline): deltas pre-aggregate per exact
    * instant, running sums run WITHIN each hour bucket (hash-
    * partitioned by hour), and only the per-hour delta totals — one
    * row per hour, O(time-range), never O(events) — cross the final
    * single-partition carry window. Max concurrency in an hour =
    * carry-in + max(0, max within-hour running sum) because the hour
    * starts at carry-in and concurrency only changes at boundaries.
    * The hour is the bucket dial: a corpus with billions of
    * boundaries per hour shrinks it to minutes, growing the spine
    * window linearly while shrinking the partitions.
    *
    * All-integer arithmetic end to end (micros, counts) — exact
    * cross-engine.
    */
  def concurrency(spark: SparkSession, sfDir: String): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val byUser = W.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val hourUs = 3600000000L
    val sess = Tables.events(spark, sfDir)
      .select(col("user_id"), col("ts"), col("event_id"))
      .withColumn("gap_us",
        Tables.epochMicros(col("ts"))
          - lag(Tables.epochMicros(col("ts")), 1).over(byUser))
      .withColumn("brk",
        when(col("gap_us").isNull || col("gap_us") > 1800000000L, 1L)
          .otherwise(0L))
      .withColumn("sess_id",
        sum(col("brk")).over(byUser.rowsBetween(Long.MinValue, 0)))
      .groupBy(col("user_id"), col("sess_id"))
      .agg(min(Tables.epochMicros(col("ts"))).as("s_us"),
        (max(Tables.epochMicros(col("ts"))) + lit(1L)).as("e_us"))
    val deltas = sess.select(col("s_us").as("us"), lit(1L).as("d"))
      .unionAll(sess.select(col("e_us").as("us"), lit(-1L).as("d")))
      .groupBy(col("us")).agg(sum(col("d")).as("d"))
      .withColumn("hour_us", col("us") - col("us") % lit(hourUs))
    val inHour = W.partitionBy(col("hour_us")).orderBy(col("us"))
      .rowsBetween(Long.MinValue, 0)
    val perHour = deltas
      .withColumn("run", sum(col("d")).over(inHour))
      .groupBy(col("hour_us"))
      .agg(sum(col("d")).as("hour_delta"), max(col("run")).as("max_run"))
    // the only single-partition window: O(hours) rows of two longs
    val spine = W.orderBy(col("hour_us")).rowsBetween(Long.MinValue, -1)
    perHour
      .withColumn("carry_in",
        coalesce(sum(col("hour_delta")).over(spine), lit(0L)))
      .select(timestamp_micros(col("hour_us")).as("hour_start"),
        (col("carry_in") + greatest(col("max_run"), lit(0L)))
          .as("max_concurrency"),
        (col("carry_in") + col("hour_delta")).as("end_concurrency"))
  }

  /** First/last-touch attribution: each purchase finds the user's
    * FIRST and LAST marketing touch (view/click, with the page from
    * `props.$k`) in a 7-day lookback window ending at the purchase,
    * and each page is credited with the purchases (and exact value)
    * it opened (first touch) and closed (last touch). Purchases with
    * no touch in the window drop out (nothing to credit), and only
    * pages that opened or closed at least one purchase appear.
    *
    * Scale — this is the query where round 9's planted hot-user probe
    * found the family's one QUADRATIC saturation: the previous
    * construction (equi-join purchases×touches on user_id, then
    * rank-1 windows per purchase) materializes every
    * (purchase, touch-in-window) pair, so one bot user holding 50% of
    * a 200k-event corpus took 128 s — |p|·|t| pair mass that no salt
    * can fix (the touch side is equally hot, so salting just
    * replicates it). Rewritten as a SINGLE-PASS AS-OF
    * ([[attributionEnrichedOf]]): each purchase probes one
    * time-sorted union of the touches twice — backward at the
    * purchase for the last touch, forward at the window start for
    * the first — so the pairing emits one row per probe, never the
    * pair set. Measured: planted-hot corpus 128 s → 5.9 s at 200k
    * events; at 10M events with a 5M-event hot user (old
    * construction: infeasible) 14 s; and on UNIFORM corpora it beats
    * the pair join at ×100 (3.5 s vs 4.8 s, sf0.1 0.8 s vs 0.5 s).
    * The registered query runs one partition per user; for heat
    * beyond what one task's sort should hold, call
    * `attributionOf(ev, attributionBucketUsFor(ev))`, whose `bucketUs`
    * dial bounds per-task work by (user, bucket). Credited values
    * are exact decimal sums ([[graft.Exact.dsum]]).
    */
  def attribution(spark: SparkSession, sfDir: String): DataFrame =
    attributionOf(Tables.events(spark, sfDir))

  /** Sizes the [[attributionOf]] `bucketUs` dial from the corpus — the operating rule the
    * factor-50 measurements back, made executable. The as-of union
    * window sorts one (user, bucket) per task, so the dial's job is
    * to bound the HOTTEST user's per-bucket row count by a task
    * budget:
    *
    *  - hottest user ≤ `maxRowsPerTask` → `Long.MaxValue` (one
    *    partition per user — no spine/carry overhead; the sandbox
    *    default, and the right call for every corpus whose per-key
    *    heat fits a task: the factor-1 planted-hot corpus sorts 100k
    *    rows in one task faster than the bucketed plan's extra
    *    aggregation + spine window).
    *  - otherwise `bucketUs ≈ span · maxRowsPerTask / hottest`
    *    (uniform-spread estimate), clamped to ≥ 1 h — at 50%-skew
    *    factor 50 (5M hot-user events) the 1-day dial measured 14 s
    *    where the unbucketed sort was task-bound; finer than ~1 h
    *    buys nothing and multiplies carry rows.
    *
    * Two planning aggregations (global span + per-user max count),
    * each one scan with a one-row result — the bounded-collect
    * discipline of the CC dispatch (`Dedup.DriverCCMaxEdges`). At
    * 100 TB both are cheap map-side-combine jobs; run once per
    * corpus, not per query.
    */
  def attributionBucketUsFor(ev: DataFrame,
      maxRowsPerTask: Long = 4000000L): Long = {
    val us = Tables.epochMicros(col("ts"))
    val span = ev.agg((max(us) - min(us)).as("span")).head
    if (span.isNullAt(0)) return Long.MaxValue
    val hottest = ev.groupBy(col("user_id")).agg(count(lit(1)).as("n"))
      .agg(max(col("n"))).head.getLong(0)
    if (hottest <= maxRowsPerTask) Long.MaxValue
    else {
      val b = span.getLong(0) / hottest * maxRowsPerTask
      math.max(b, 3600000000L)
    }
  }

  /** Core over any events frame; `bucketUs` is the as-of skew dial. */
  def attributionOf(ev: DataFrame,
      bucketUs: Long = Long.MaxValue): DataFrame = {
    // STAGED (r16): the enrichment's output is one row per attributed
    // purchase (small), but its lineage is the full three-way union +
    // carry-stitched as-of window — and the firsts/lasts aggregates
    // below each re-ran it (plan audit: 6 events scans, the whole
    // as-of subtree duplicated). One computation serves both
    // (measured at sf0.1, min-of-5: 0.82 → 0.69 s). Contrast
    // entryExitOf, where staging the event-sized break table measured
    // SLOWER than the duplicate recompute — stage only when the
    // staged frame is small relative to its lineage.
    val enriched = graft.Materialize.stage(
      attributionEnrichedOf(ev, bucketUs), eager = false)
    val firsts = enriched.groupBy(col("first_page").as("page"))
      .agg(count(lit(1)).as("n_first"), dsum(col("value")).as("first_value"))
    val lasts = enriched.groupBy(col("last_page").as("page"))
      .agg(count(lit(1)).as("n_last"), dsum(col("value")).as("last_value"))
    // null-safe re-pair: `page` can be NULL (touch props without $.k,
    // or a non-numeric k cast to null) and SQL GROUP BY keeps one
    // NULL group — an equi-join would never match the two NULL rows
    val f = firsts.withColumnRenamed("page", "f_page")
    val l = lasts.withColumnRenamed("page", "l_page")
    f.join(l, f("f_page") <=> l("l_page"), "full_outer")
      .select(coalesce(col("f_page"), col("l_page")).as("page"),
        coalesce(col("n_first"), lit(0L)).as("n_first"), col("first_value"),
        coalesce(col("n_last"), lit(0L)).as("n_last"), col("last_value"))
  }

  /** The per-purchase enrichment the attribution aggregate rides:
    * one row per purchase with ≥1 touch in its 7-day window —
    * (p_id, value, first_page, last_page). Also the batch parity
    * oracle for the streaming twin
    * [[graft.streaming.EventStreams.attributionStream]].
    *
    * SINGLE-PASS as-of: each purchase contributes two probe rows to
    * one time-sorted union with the touch instants — a BACKWARD probe
    * at the purchase time (running `last` frame picks the latest
    * touch ≤ it: the last touch) and a FORWARD probe at the window
    * start (a `first`-following frame picks the earliest touch ≥ it:
    * the first touch) — the [[graft.operators.AsOfJoin.asofNearest]]
    * one-sort/two-frames construction. Probe tags make the window-
    * boundary ties inclusive on both sides (a touch AT the probe
    * instant sorts before a backward probe and after a forward one).
    * The two picks re-pair on ONE hash aggregation by purchase id.
    *
    * The union window partitions by (user, `bucketUs` bucket) with
    * carry rows stitching bucket boundaries in both directions (a
    * running window over the (user, bucket) spine hands each bucket
    * the edge touch of its neighbours, at that touch's true instant),
    * so per-task work is bounded by a user's bucket at any key heat —
    * pass `Long.MaxValue` to degenerate to one partition per user.
    */
  def attributionEnrichedOf(ev: DataFrame,
      bucketUs: Long = Long.MaxValue): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val lb = 7L * 24 * 3600000000L
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("p_id"),
        Tables.epochMicros(col("ts")).as("p_us"), col("value"))
    // RAW touches go into the window — ordering by (at_us, tag, t_id)
    // makes the tie-break exact without a per-instant pre-collapse:
    // the running `last` at a tied instant lands on the max t_id (the
    // pair construction's last touch), the `first`-following on the
    // min t_id (its first touch)
    val touchRows = ev.filter(col("event_type").isin("view", "click"))
      .select(col("user_id"),
        Tables.epochMicros(col("ts")).as("at_us"),
        lit(0).as("tag"), col("event_id").as("t_id"), lit("t").as("kind"),
        lit(null).cast("long").as("p_id"), lit(null).cast("double").as("value"),
        struct(Tables.epochMicros(col("ts")).as("t_us"),
          col("event_id").as("t_id"),
          get_json_object(col("props"), "$.k").cast("int").as("page"))
          .as("tpay"))
    val nullPay = lit(null).cast(touchRows.schema("tpay").dataType)
    // tags order boundary ties: fwd probe (-1) < touch (0) < back
    // probe (2), so both window edges are inclusive
    val backProbes = purchases.select(col("user_id"),
      col("p_us").as("at_us"), lit(2).as("tag"), lit(0L).as("t_id"),
      lit("b").as("kind"), col("p_id"), col("value"), nullPay.as("tpay"))
    val fwdProbes = purchases.select(col("user_id"),
      (col("p_us") - lit(lb) + 1).as("at_us"), lit(-1).as("tag"),
      lit(0L).as("t_id"), lit("f").as("kind"), col("p_id"),
      lit(null).cast("double").as("value"), nullPay.as("tpay"))
    val rows = touchRows.unionAll(backProbes).unionAll(fwdProbes)
      .withColumn("b",
        if (bucketUs == Long.MaxValue) lit(0L)
        else col("at_us") - pmod(col("at_us"), lit(bucketUs)))
    // carry rows stitch bucket boundaries in both directions (only
    // when bucketing is on): each (user, bucket) gets the latest
    // touch of PRIOR buckets (for backward frames) and the earliest
    // of FOLLOWING buckets (for forward frames), at their TRUE
    // instants — they sort outside the in-bucket range, so frame
    // membership and the tolerance math are unchanged
    val all = if (bucketUs == Long.MaxValue) rows else {
      val byUserB = W.partitionBy(col("user_id")).orderBy(col("b"))
      val edges = touchRows
        .withColumn("b", col("at_us") - pmod(col("at_us"), lit(bucketUs)))
        .groupBy(col("user_id"), col("b"))
        .agg(max(col("tpay")).as("lastT"), min(col("tpay")).as("firstT"))
      val spine = rows.select(col("user_id"), col("b")).distinct()
        .join(edges, Seq("user_id", "b"), "left")
        .withColumn("prevLast", last(col("lastT"), ignoreNulls = true)
          .over(byUserB.rowsBetween(Long.MinValue, -1)))
        .withColumn("nextFirst", first(col("firstT"), ignoreNulls = true)
          .over(byUserB.rowsBetween(1, Long.MaxValue)))
      def carry(c: String): DataFrame = spine.filter(col(c).isNotNull)
        .select(col("user_id"), col(c).getField("t_us").as("at_us"),
          lit(0).as("tag"), col(c).getField("t_id").as("t_id"),
          lit("t").as("kind"), lit(null).cast("long").as("p_id"),
          lit(null).cast("double").as("value"), col(c).as("tpay"), col("b"))
      rows.unionByName(carry("prevLast")).unionByName(carry("nextFirst"))
    }
    // BOTH picks are RUNNING frames (O(n) per partition): the forward
    // pick runs over the REVERSED ordering — a `first over
    // (currentRow, unboundedFollowing)` frame looks equivalent but
    // Spark's UnboundedFollowingWindowFunctionFrame re-scans to the
    // partition end per row, O(n²) in partition size: measured 1939 s
    // on the planted 5M-event hot user vs 14 s with the reversed
    // running frame
    val wbAsc = W.partitionBy(col("user_id"), col("b"))
      .orderBy(col("at_us").asc, col("tag").asc, col("t_id").asc)
      .rowsBetween(Long.MinValue, 0)
    val wbDesc = W.partitionBy(col("user_id"), col("b"))
      .orderBy(col("at_us").desc, col("tag").desc, col("t_id").desc)
      .rowsBetween(Long.MinValue, 0)
    val back = last(col("tpay"), ignoreNulls = true).over(wbAsc)
    val fwd = last(col("tpay"), ignoreNulls = true).over(wbDesc)
    all
      .withColumn("bp", when(col("kind") === "b" && back.isNotNull
        && col("at_us") - back.getField("t_us") <= lb - 1, back))
      .withColumn("fp", when(col("kind") === "f" && fwd.isNotNull
        && fwd.getField("t_us") - col("at_us") <= lb - 1, fwd))
      .filter(col("kind") =!= "t")
      .groupBy(col("p_id"))
      .agg(max(col("bp")).as("bpick"), max(col("fp")).as("fpick"),
        max(when(col("kind") === "b", col("value"))).as("value"))
      .filter(col("bpick").isNotNull && col("fpick").isNotNull)
      .select(col("p_id"), col("value"),
        col("fpick").getField("page").as("first_page"),
        col("bpick").getField("page").as("last_page"))
  }

  /** Time-weighted average value per (event_type, hour) — each event's
    * value holds from its timestamp until the type's next event (step
    * interpolation, the kdb/QuestDB `twa` shape), and hold intervals
    * are split across the hour buckets they span, so an hour's TWAP
    * weights each value by exactly the microseconds it was live
    * within that hour.
    *
    * The step construction needs "next event of the same type" —
    * naively `lead() over (partitionBy type)`, which serializes a
    * whole type into one task. Decomposed two-level instead (the
    * [[concurrency]] / [[graft.llm.Pack]] discipline): `lead` runs
    * within (type, hour) partitions, and the last event of each hour
    * takes its successor from the per-hour firsts table — O(hours ×
    * types) rows, the only single-type window in the plan. Interval
    * splitting reuses [[graft.operators.RangeJoin]]'s bin explode:
    * a hold spanning h hours lands h+1 rows, each with an integer
    * microsecond overlap.
    *
    * Exactness: numerator terms are decimal(18,2) × integer micros —
    * exact, order-independent sums — and the TWAP is ONE terminal
    * IEEE division, the [[ewma]] discipline. Ties (same type, same
    * microsecond) hold for 0 µs and drop; the tied row with the
    * largest event_id carries the value forward, on both engines.
    */
  def twap(spark: SparkSession, sfDir: String): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val hourUs = 3600000000L
    val ev = Tables.events(spark, sfDir)
      .select(col("event_type"), Tables.epochMicros(col("ts")).as("us"),
        col("event_id"), col("value"))
      .withColumn("bucket", col("us") - col("us") % hourUs)
    val firsts = ev.groupBy(col("event_type"), col("bucket"))
      .agg(min(col("us")).as("first_us"))
    val nextFirst = firsts
      .withColumn("next_first_us", lead(col("first_us"), 1).over(
        W.partitionBy(col("event_type")).orderBy(col("bucket"))))
      .select(col("event_type"), col("bucket"), col("next_first_us"))
    ev
      .withColumn("lead_us", lead(col("us"), 1).over(
        W.partitionBy(col("event_type"), col("bucket"))
          .orderBy(col("us"), col("event_id"))))
      .join(nextFirst, Seq("event_type", "bucket"), "left")
      .withColumn("end_us", coalesce(col("lead_us"), col("next_first_us")))
      .filter(col("end_us").isNotNull && col("end_us") > col("us"))
      .withColumn("b", explode(sequence(
        col("us") - col("us") % hourUs,
        (col("end_us") - 1) - (col("end_us") - 1) % hourUs,
        lit(hourUs))))
      .withColumn("ov_us",
        least(col("end_us"), col("b") + hourUs) - greatest(col("us"), col("b")))
      .groupBy(col("b"), col("event_type"))
      .agg(sum(dec2(col("value")) * col("ov_us")).as("num"),
        sum(col("ov_us")).as("held_us"))
      .select(timestamp_micros(col("b")).as("hour_start"), col("event_type"),
        (col("num").cast("double") / col("held_us").cast("double")).as("twap"),
        col("held_us"))
  }

  /** Linear interpolation of the hourly per-type value series over
    * the corpus's hour spine: hours with no events get the straight
    * line between the neighboring OBSERVED hours (dashboards and
    * feature series want a dense, smooth series, not zeros that a
    * missing hour never earned); null edges (before the type's first
    * observation / after its last) clamp to the nearest observation.
    *
    * Scale: the series is O(hours × types) AFTER the one hash
    * aggregation over events, so the per-type window sort is over
    * spine rows, never events — the same shape as [[anomalies]].
    * Observed hours carry the exact [[graft.Exact.dsum]] value;
    * interpolated hours are `prev + (next − prev) · frac` with
    * `frac` one division of exact integer hour offsets — a fixed
    * IEEE sequence, deterministic cross-engine.
    */
  def interpolate(spark: SparkSession, sfDir: String): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val ev = Tables.events(spark, sfDir)
    val bounds = ev.agg(
      date_trunc("hour", min(col("ts"))).as("lo"),
      date_trunc("hour", max(col("ts"))).as("hi"))
    val spine = bounds.select(explode(
      sequence(col("lo"), col("hi"), expr("interval 1 hour"))).as("hour"))
    val types = ev.select(col("event_type")).distinct()
    val obs = ev.groupBy(date_trunc("hour", col("ts")).as("hour"),
        col("event_type"))
      .agg(dsum(col("value")).as("v"))
    val byType = W.partitionBy(col("event_type")).orderBy(col("hour"))
    val before = byType.rowsBetween(Long.MinValue, -1)
    val after = byType.rowsBetween(1, Long.MaxValue)
    val hus = Tables.epochMicros(col("hour"))
    val known = when(col("v").isNotNull, hus)
    val frac = (col("hus") - col("p_h")).cast("double") /
      (col("n_h") - col("p_h")).cast("double")
    spine.crossJoin(types)
      .join(obs, Seq("hour", "event_type"), "left")
      .withColumn("hus", hus)
      .withColumn("p_v", last(when(col("v").isNotNull, col("v")), ignoreNulls = true).over(before))
      .withColumn("p_h", last(known, ignoreNulls = true).over(before))
      .withColumn("n_v", first(when(col("v").isNotNull, col("v")), ignoreNulls = true).over(after))
      .withColumn("n_h", first(known, ignoreNulls = true).over(after))
      .select(col("hour"), col("event_type"),
        when(col("v").isNotNull, col("v"))
          .when(col("p_v").isNull, col("n_v"))
          .when(col("n_v").isNull, col("p_v"))
          .otherwise(col("p_v") + (col("n_v") - col("p_v")) * frac)
          .as("value"),
        col("v").isNull.as("is_interpolated"))
  }

  /** OHLC bars: open/high/low/close of `value` per (event_type,
    * hour) — the candlestick aggregation every time-series store
    * names. Open/close are the values at the FIRST/LAST instant of
    * the bucket under the total (time, event_id) order — the
    * [[entryExit]] rank-1 window construction, deterministic under
    * ties where a bare min_by/max_by is not. Both windows and the
    * aggregation ride one hash partitioning on (type, hour); a
    * partition is one type's single hour, bounded regardless of
    * corpus size.
    */
  def ohlc(spark: SparkSession, sfDir: String): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val hourUs = 3600000000L
    val asc = W.partitionBy(col("event_type"), col("hour"))
      .orderBy(col("us"), col("event_id"))
    val desc = W.partitionBy(col("event_type"), col("hour"))
      .orderBy(col("us").desc, col("event_id").desc)
    Tables.events(spark, sfDir)
      .select(col("event_type"), Tables.epochMicros(col("ts")).as("us"),
        col("event_id"), col("value"))
      .withColumn("hour", col("us") - col("us") % hourUs)
      .withColumn("rn_a", row_number().over(asc))
      .withColumn("rn_d", row_number().over(desc))
      .groupBy(col("hour"), col("event_type"))
      .agg(max(when(col("rn_a") === 1, col("value"))).as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max(when(col("rn_d") === 1, col("value"))).as("close"),
        count(lit(1)).as("n"))
      .select(timestamp_micros(col("hour")).as("hour_start"),
        col("event_type"), col("open"), col("high"), col("low"),
        col("close"), col("n"))
  }

  /** Event-type transition matrix (first-order Markov): for each user
    * stream ordered by (ts, event_id), count consecutive
    * (from_type → to_type) steps and emit the per-from transition
    * probability — the next-event model product analytics and
    * session-simulation both start from. The probability is ONE
    * division of exact counts ([[ewma]]'s determinism discipline).
    *
    * Scale: the per-user `lead` is decomposed TWO-LEVEL (the [[twap]]
    * discipline) — it runs within (user_id, day-bucket) partitions,
    * and the last event of each bucket takes its successor from the
    * per-bucket FIRSTS table (lead over O(users × active buckets)
    * rows). A bare `lead over (partition by user_id)` serializes a
    * hot user into one task's sort — the round-9 planted probe (one
    * bot user holding 50% of 10M events) measured the bare window at
    * 7.6 s single-task-bound vs 3.1 s decomposed, a gap that grows
    * with key heat; per-task work here is bounded by a user's DAY,
    * not their lifetime. The matrix is types² rows; the final
    * per-from total is a window over those — trivial.
    */
  def transitions(spark: SparkSession, sfDir: String): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val bucketUs = 86400000000L
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), Tables.epochMicros(col("ts")).as("us"),
        col("event_id"), col("event_type").as("from_type"))
      .withColumn("bucket", col("us") - pmod(col("us"), lit(bucketUs)))
    val inBucket = W.partitionBy(col("user_id"), col("bucket"))
      .orderBy(col("us"), col("event_id"))
    val firsts = ev.groupBy(col("user_id"), col("bucket"))
      .agg(min_by(col("from_type"), struct(col("us"), col("event_id")))
        .as("first_type"))
    val nextFirst = firsts
      .withColumn("next_type", lead(col("first_type"), 1).over(
        W.partitionBy(col("user_id")).orderBy(col("bucket"))))
      .select(col("user_id"), col("bucket"), col("next_type"))
    ev
      .withColumn("to_in", lead(col("from_type"), 1).over(inBucket))
      .join(nextFirst, Seq("user_id", "bucket"), "left")
      .withColumn("to_type", coalesce(col("to_in"), col("next_type")))
      .filter(col("to_type").isNotNull)
      .groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("from_total",
        sum(col("n")).over(W.partitionBy(col("from_type"))))
      .select(col("from_type"), col("to_type"), col("n"),
        col("from_total"),
        (col("n").cast("double") / col("from_total").cast("double")).as("p"))
  }

  /** Rolling 7-day active users (WAU) beside same-day actives (DAU)
    * per day — the product-analytics engagement pair. Sliding
    * DISTINCT is the trap: a window frame cannot deduplicate users
    * across days, and re-scanning 7 days per report day multiplies
    * the corpus. Instead each distinct (user, day) pair is exploded
    * to the ≤ 7 report days it contributes to (a map-side
    * `sequence`), and ONE day-keyed exact distinct aggregation
    * produces both metrics (DAU counts only the pair whose activity
    * day IS the report day). Cost: the (user, day) distinct shuffle +
    * one 7× exploded shuffle of (day, user) longs — never the events
    * themselves. Report days clip to the corpus day range via a
    * one-row bounds broadcast (the [[anomalies]] spine discipline).
    */
  def rollingActive(spark: SparkSession, sfDir: String): DataFrame = {
    val pairs = Tables.events(spark, sfDir)
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    val bounds = pairs.agg(max(col("day")).as("max_day"))
    pairs
      .select(col("user_id"), col("day"),
        explode(sequence(col("day"), date_add(col("day"), 6))).as("report_day"))
      .crossJoin(broadcast(bounds))
      .filter(col("report_day") <= col("max_day"))
      .groupBy(col("report_day"))
      .agg(countDistinct(col("user_id")).as("wau"),
        countDistinct(when(col("day") === col("report_day"),
          col("user_id"))).as("dau"))
      .select(col("report_day").cast("timestamp").as("report_day"),
        col("wau"), col("dau"))
  }

  /** Cohort lifetime value: users grouped by first-active day, purchase
    * revenue accumulated by cohort AGE (days since first activity) —
    * the cumulative-LTV curve growth teams read. The running sum
    * rides a window over the (cohort, age) AGGREGATE — O(cohorts ×
    * days) rows — never the purchases; the per-user cohort day is the
    * same one-window construction as [[retention]]. Revenue sums are
    * exact decimal ([[graft.Exact.dsum]]); the per-user average is
    * one terminal division.
    */
  def cohortLtv(spark: SparkSession, sfDir: String): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val byUser = W.partitionBy(col("user_id"))
    val byCohort = W.partitionBy(col("cohort_day")).orderBy(col("age_days"))
      .rowsBetween(Long.MinValue, 0)
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), to_date(col("ts")).as("day"),
        col("event_type"), col("value"))
      .withColumn("cohort_day", min(col("day")).over(byUser))
    val cohortSizes = ev.groupBy(col("cohort_day"))
      .agg(countDistinct(col("user_id")).as("n_users"))
    ev.filter(col("event_type") === "purchase")
      .groupBy(col("cohort_day"),
        datediff(col("day"), col("cohort_day")).as("age_days"))
      .agg(dsum(col("value")).as("day_revenue"),
        count(lit(1)).as("n_purchases"))
      .withColumn("cum_revenue",
        sum(dec2(col("day_revenue"))).over(byCohort).cast("double"))
      .join(cohortSizes, Seq("cohort_day"))
      .select(col("cohort_day").cast("timestamp").as("cohort_day"),
        col("age_days"), col("n_purchases"), col("day_revenue"),
        col("cum_revenue"),
        (col("cum_revenue") / col("n_users").cast("double"))
          .as("ltv_per_user"))
  }

  /** Seasonal-naive forecast evaluation: predict each hour's event
    * count per type as the SAME HOUR YESTERDAY (lag 24 on the
    * gap-filled hourly series — the baseline every real forecaster
    * must beat), and report per-type MAE and bias. Errors are exact
    * integer differences; MAE/bias are one terminal division each —
    * deterministic cross-engine. The lag rides the same
    * O(hours × types) spine as [[anomalies]], never the events.
    */
  def forecastEval(spark: SparkSession, sfDir: String): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val byType = W.partitionBy(col("event_type")).orderBy(col("hour"))
    val ev = Tables.events(spark, sfDir)
    val bounds = ev.agg(
      date_trunc("hour", min(col("ts"))).as("lo"),
      date_trunc("hour", max(col("ts"))).as("hi"))
    val spine = bounds.select(explode(
      sequence(col("lo"), col("hi"), expr("interval 1 hour"))).as("hour"))
    val types = ev.select(col("event_type")).distinct()
    val counts = ev.groupBy(date_trunc("hour", col("ts")).as("hour"),
        col("event_type"))
      .agg(count(lit(1)).as("cnt"))
    spine.crossJoin(types)
      .join(counts, Seq("hour", "event_type"), "left")
      .select(col("hour"), col("event_type"),
        coalesce(col("cnt"), lit(0L)).as("cnt"))
      .withColumn("pred", lag(col("cnt"), 24).over(byType))
      .filter(col("pred").isNotNull)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_hours"),
        sum(abs(col("cnt") - col("pred"))).as("abs_err"),
        sum(col("cnt") - col("pred")).as("sum_err"))
      .select(col("event_type"), col("n_hours"),
        (col("abs_err").cast("double") / col("n_hours").cast("double"))
          .as("mae"),
        (col("sum_err").cast("double") / col("n_hours").cast("double"))
          .as("bias"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_events_cohort_ltv" -> cohortLtv _,
    "q_events_forecast_eval" -> forecastEval _,
    "q_events_rolling_active" -> rollingActive _,
    "q_events_ohlc" -> ohlc _,
    "q_events_transitions" -> transitions _,
    "q_events_attribution" -> attribution _,
    "q_events_twap" -> twap _,
    "q_events_interpolate" -> interpolate _,
    "q_events_hourly" -> hourly _,
    "q_events_concurrency" -> concurrency _,
    "q_events_ewma" -> ewma _,
    "q_events_anomaly" -> anomalies _,
    "q_events_entry_exit" -> entryExit _,
    "q_events_sliding" -> sliding _,
    "q_events_sessions" -> sessions _,
    "q_events_hour_of_day" -> hourOfDay _,
    "q_events_json" -> jsonProps _,
    "q_events_funnel" -> funnel _,
    "q_events_retention" -> retention _,
  )

  /** SQL mirror of [[ewma]]'s dyadic lag terms (j = 0 is the current
    * row — `lag(cnt, 0)` is avoided for portability).
    */
  private val sqlEwmaWsum: String = (0 to 7).map { j =>
    val l = if (j == 0) "cnt" else s"lag(cnt, $j) OVER w"
    s"COALESCE($l, 0) * ${1L << (7 - j)}"
  }.mkString(" + ")

  private val sqlEwmaWtot: String = (0 to 7).map { j =>
    val l = if (j == 0) "cnt" else s"lag(cnt, $j) OVER w"
    s"CASE WHEN $l IS NULL THEN 0 ELSE ${1L << (7 - j)} END"
  }.mkString(" + ")

  val oracles: Map[String, String] = Map(
    "q_events_cohort_ltv" ->
      """WITH ev AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day, event_type, value,
        |    min(CAST(ts AS DATE)) OVER (PARTITION BY user_id) AS cohort_day
        |  FROM events),
        |sizes AS (
        |  SELECT cohort_day, count(DISTINCT user_id) AS n_users
        |  FROM ev GROUP BY cohort_day),
        |rev AS (
        |  SELECT cohort_day, day - cohort_day AS age_days,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS day_revenue,
        |    count(*) AS n_purchases,
        |    SUM(CAST(value AS DECIMAL(18,2))) AS day_rev_dec
        |  FROM ev WHERE event_type = 'purchase'
        |  GROUP BY cohort_day, day - cohort_day)
        |SELECT CAST(r.cohort_day AS TIMESTAMP) AS cohort_day,
        |  CAST(r.age_days AS INT) AS age_days, r.n_purchases, r.day_revenue,
        |  CAST(SUM(r.day_rev_dec) OVER (PARTITION BY r.cohort_day
        |    ORDER BY r.age_days ROWS UNBOUNDED PRECEDING) AS DOUBLE)
        |    AS cum_revenue,
        |  CAST(SUM(r.day_rev_dec) OVER (PARTITION BY r.cohort_day
        |    ORDER BY r.age_days ROWS UNBOUNDED PRECEDING) AS DOUBLE)
        |    / CAST(s.n_users AS DOUBLE) AS ltv_per_user
        |FROM rev r JOIN sizes s ON s.cohort_day = r.cohort_day""".stripMargin,
    "q_events_forecast_eval" ->
      """WITH bounds AS (
        |  SELECT date_trunc('hour', min(ts)) AS lo,
        |         date_trunc('hour', max(ts)) AS hi FROM events),
        |hours AS (
        |  SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour
        |  FROM bounds),
        |types AS (SELECT DISTINCT event_type FROM events),
        |counts AS (
        |  SELECT date_trunc('hour', ts) AS hour, event_type,
        |         CAST(count(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY 1, 2),
        |filled AS (
        |  SELECT h.hour, t.event_type, coalesce(c.cnt, 0) AS cnt
        |  FROM hours h CROSS JOIN types t
        |  LEFT JOIN counts c ON c.hour = h.hour AND c.event_type = t.event_type),
        |pred AS (
        |  SELECT event_type, cnt,
        |    lag(cnt, 24) OVER (PARTITION BY event_type ORDER BY hour) AS p
        |  FROM filled)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_hours,
        |  CAST(CAST(sum(abs(cnt - p)) AS BIGINT) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) AS mae,
        |  CAST(CAST(sum(cnt - p) AS BIGINT) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) AS bias
        |FROM pred WHERE p IS NOT NULL
        |GROUP BY event_type""".stripMargin,
    "q_events_rolling_active" ->
      """WITH pairs AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |b AS (SELECT max(day) AS max_day FROM pairs),
        |contrib AS (
        |  SELECT user_id, day,
        |    unnest(generate_series(day, day + 6, INTERVAL 1 DAY)) AS report_day
        |  FROM pairs)
        |SELECT CAST(report_day AS TIMESTAMP) AS report_day,
        |  count(DISTINCT user_id) AS wau,
        |  count(DISTINCT CASE WHEN day = CAST(report_day AS DATE)
        |                      THEN user_id END) AS dau
        |FROM contrib CROSS JOIN b
        |WHERE CAST(report_day AS DATE) <= max_day
        |GROUP BY report_day""".stripMargin,
    "q_events_ohlc" ->
      """WITH e AS (
        |  SELECT event_type, epoch_us(ts) AS us, event_id, value
        |  FROM events),
        |ranked AS (
        |  SELECT event_type, us - us % 3600000000 AS hour, value,
        |    row_number() OVER (PARTITION BY event_type, us - us % 3600000000
        |      ORDER BY us, event_id) AS rn_a,
        |    row_number() OVER (PARTITION BY event_type, us - us % 3600000000
        |      ORDER BY us DESC, event_id DESC) AS rn_d
        |  FROM e)
        |SELECT make_timestamp(hour) AS hour_start, event_type,
        |  max(CASE WHEN rn_a = 1 THEN value END) AS open,
        |  max(value) AS high, min(value) AS low,
        |  max(CASE WHEN rn_d = 1 THEN value END) AS close,
        |  count(*) AS n
        |FROM ranked GROUP BY hour, event_type""".stripMargin,
    "q_events_transitions" ->
      """WITH steps AS (
        |  SELECT event_type AS from_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS to_type
        |  FROM events),
        |m AS (
        |  SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
        |  FROM steps WHERE to_type IS NOT NULL
        |  GROUP BY from_type, to_type)
        |SELECT from_type, to_type, n,
        |  CAST(sum(n) OVER (PARTITION BY from_type) AS BIGINT) AS from_total,
        |  CAST(n AS DOUBLE)
        |    / CAST(CAST(sum(n) OVER (PARTITION BY from_type) AS BIGINT)
        |           AS DOUBLE) AS p
        |FROM m""".stripMargin,
    // first/last-touch attribution: purchases joined to the user's
    // view/click touches in a 7-day lookback, ranked per purchase
    "q_events_attribution" ->
      """WITH p AS (
        |  SELECT user_id, event_id AS p_id, epoch_us(ts) AS p_us, value
        |  FROM events WHERE event_type = 'purchase'),
        |t AS (
        |  SELECT user_id, epoch_us(ts) AS t_us, event_id AS t_id,
        |    CAST(json_extract_string(props, '$.k') AS INT) AS page
        |  FROM events WHERE event_type IN ('view', 'click')),
        |joined AS (
        |  SELECT p.p_id, p.value, t.page,
        |    row_number() OVER (PARTITION BY p.p_id
        |      ORDER BY t.t_us, t.t_id) AS rn_a,
        |    row_number() OVER (PARTITION BY p.p_id
        |      ORDER BY t.t_us DESC, t.t_id DESC) AS rn_d
        |  FROM p JOIN t ON p.user_id = t.user_id
        |  WHERE t.t_us <= p.p_us AND t.t_us > p.p_us - 604800000000)
        |SELECT page,
        |  CAST(sum(CASE WHEN rn_a = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_first,
        |  CAST(SUM(CASE WHEN rn_a = 1
        |                THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE)
        |    AS first_value,
        |  CAST(sum(CASE WHEN rn_d = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_last,
        |  CAST(SUM(CASE WHEN rn_d = 1
        |                THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE)
        |    AS last_value
        |FROM joined WHERE rn_a = 1 OR rn_d = 1 GROUP BY page""".stripMargin,
    // step-hold TWAP: the oracle uses the naive single-partition
    // lead-per-type; the Spark side decomposes it two-level — same
    // intervals, same integer overlaps, same exact sums
    "q_events_twap" ->
      """WITH e AS (
        |  SELECT event_type, epoch_us(ts) AS us, event_id, value FROM events),
        |stepped AS (
        |  SELECT event_type, us, value,
        |    lead(us) OVER (PARTITION BY event_type
        |      ORDER BY us, event_id) AS end_us
        |  FROM e),
        |held AS (
        |  SELECT * FROM stepped WHERE end_us IS NOT NULL AND end_us > us),
        |split AS (
        |  SELECT event_type, us, end_us, value,
        |    unnest(generate_series(us - us % 3600000000,
        |      (end_us - 1) - (end_us - 1) % 3600000000, 3600000000)) AS b
        |  FROM held)
        |SELECT make_timestamp(b) AS hour_start, event_type,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))
        |       * (least(end_us, b + 3600000000) - greatest(us, b))) AS DOUBLE)
        |    / CAST(SUM(least(end_us, b + 3600000000) - greatest(us, b))
        |           AS DOUBLE) AS twap,
        |  CAST(SUM(least(end_us, b + 3600000000) - greatest(us, b)) AS BIGINT)
        |    AS held_us
        |FROM split GROUP BY b, event_type""".stripMargin,
    "q_events_interpolate" ->
      """WITH bounds AS (
        |  SELECT date_trunc('hour', min(ts)) AS lo,
        |         date_trunc('hour', max(ts)) AS hi FROM events),
        |hours AS (
        |  SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour
        |  FROM bounds),
        |types AS (SELECT DISTINCT event_type FROM events),
        |obs AS (
        |  SELECT date_trunc('hour', ts) AS hour, event_type,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v
        |  FROM events GROUP BY 1, 2),
        |filled AS (
        |  SELECT h.hour, t.event_type, o.v, epoch_us(h.hour) AS hus
        |  FROM hours h CROSS JOIN types t
        |  LEFT JOIN obs o ON o.hour = h.hour AND o.event_type = t.event_type),
        |ctx AS (
        |  SELECT hour, event_type, v, hus,
        |    last_value(v IGNORE NULLS) OVER wb AS p_v,
        |    last_value(CASE WHEN v IS NOT NULL THEN hus END IGNORE NULLS)
        |      OVER wb AS p_h,
        |    first_value(v IGNORE NULLS) OVER wa AS n_v,
        |    first_value(CASE WHEN v IS NOT NULL THEN hus END IGNORE NULLS)
        |      OVER wa AS n_h
        |  FROM filled
        |  WINDOW wb AS (PARTITION BY event_type ORDER BY hour
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |  wa AS (PARTITION BY event_type ORDER BY hour
        |    ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING))
        |SELECT hour, event_type,
        |  CASE WHEN v IS NOT NULL THEN v
        |       WHEN p_v IS NULL THEN n_v
        |       WHEN n_v IS NULL THEN p_v
        |       ELSE p_v + (n_v - p_v)
        |              * (CAST(hus - p_h AS DOUBLE) / CAST(n_h - p_h AS DOUBLE))
        |  END AS value,
        |  v IS NULL AS is_interpolated
        |FROM ctx""".stripMargin,
    // sweep-line concurrency: same gap sessionization as entry_exit,
    // then +1/-1 deltas, per-instant pre-agg, within-hour running
    // sums, and the cross-hour carry — all integer micros
    "q_events_concurrency" ->
      """WITH gapped AS (
        |  SELECT user_id, ts, event_id,
        |    epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS gap_us
        |  FROM events),
        |sess AS (
        |  SELECT user_id, epoch_us(ts) AS us,
        |    CAST(sum(CASE WHEN gap_us IS NULL OR gap_us > 1800000000
        |                  THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sess_id
        |  FROM gapped),
        |iv AS (
        |  SELECT min(us) AS s_us, max(us) + 1 AS e_us
        |  FROM sess GROUP BY user_id, sess_id),
        |deltas AS (
        |  SELECT us, CAST(sum(d) AS BIGINT) AS d FROM (
        |    SELECT s_us AS us, 1 AS d FROM iv
        |    UNION ALL SELECT e_us AS us, -1 AS d FROM iv)
        |  GROUP BY us),
        |hourly AS (
        |  SELECT us - us % 3600000000 AS hour_us, us, d,
        |    CAST(sum(d) OVER (PARTITION BY us - us % 3600000000
        |      ORDER BY us ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run
        |  FROM deltas),
        |per_hour AS (
        |  SELECT hour_us, CAST(sum(d) AS BIGINT) AS hour_delta,
        |         max(run) AS max_run
        |  FROM hourly GROUP BY hour_us)
        |SELECT make_timestamp(hour_us) AS hour_start,
        |  CAST(COALESCE(CAST(sum(hour_delta) OVER c AS BIGINT), 0)
        |    + greatest(max_run, 0) AS BIGINT) AS max_concurrency,
        |  CAST(COALESCE(CAST(sum(hour_delta) OVER c AS BIGINT), 0)
        |    + hour_delta AS BIGINT) AS end_concurrency
        |FROM per_hour
        |WINDOW c AS (ORDER BY hour_us
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)""".stripMargin,
    "q_events_entry_exit" ->
      s"""WITH ev AS (
         |  SELECT user_id, ts, event_id,
         |         CAST(json_extract_string(props, '$$.k') AS INT) AS page
         |  FROM events),
         |gapped AS (
         |  SELECT *, epoch_us(ts)
         |      - lag(epoch_us(ts)) OVER (PARTITION BY user_id
         |          ORDER BY ts, event_id) AS gap_us
         |  FROM ev),
         |flagged AS (
         |  SELECT *, CASE WHEN gap_us IS NULL OR gap_us > 1800000000
         |                 THEN 1 ELSE 0 END AS brk
         |  FROM gapped),
         |sess AS (
         |  SELECT *, CAST(sum(brk) OVER (PARTITION BY user_id
         |      ORDER BY ts, event_id
         |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sess_id
         |  FROM flagged),
         |ranked AS (
         |  SELECT *,
         |    row_number() OVER (PARTITION BY user_id, sess_id
         |      ORDER BY ts, event_id) AS rn_a,
         |    row_number() OVER (PARTITION BY user_id, sess_id
         |      ORDER BY ts DESC, event_id DESC) AS rn_d
         |  FROM sess),
         |per_session AS (
         |  SELECT user_id, sess_id,
         |    max(CASE WHEN rn_a = 1 THEN page END) AS entry_page,
         |    max(CASE WHEN rn_d = 1 THEN page END) AS exit_page,
         |    count(*) AS n_events
         |  FROM ranked GROUP BY user_id, sess_id)
         |SELECT entry_page, exit_page,
         |  CAST(count(*) AS BIGINT) AS n_sessions,
         |  CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_bounces
         |FROM per_session GROUP BY entry_page, exit_page""".stripMargin,
    "q_events_anomaly" ->
      s"""WITH bounds AS (
         |  SELECT date_trunc('hour', min(ts)) AS lo,
         |         date_trunc('hour', max(ts)) AS hi FROM events),
         |hours AS (
         |  SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour
         |  FROM bounds),
         |types AS (SELECT DISTINCT event_type FROM events),
         |counts AS (
         |  SELECT date_trunc('hour', ts) AS hour, event_type,
         |         CAST(count(*) AS BIGINT) AS cnt
         |  FROM events GROUP BY 1, 2),
         |filled AS (
         |  SELECT h.hour, t.event_type, coalesce(c.cnt, 0) AS cnt
         |  FROM hours h CROSS JOIN types t
         |  LEFT JOIN counts c ON c.hour = h.hour AND c.event_type = t.event_type)
         |SELECT hour, event_type, cnt, mean, variance,
         |  (CAST(cnt AS DOUBLE) - mean) / sqrt(variance) AS z,
         |  abs((CAST(cnt AS DOUBLE) - mean) / sqrt(variance)) >= 3.0 AS is_anomaly
         |FROM (
         |  SELECT hour, event_type, cnt,
         |    CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
         |    (CAST(s2 AS DOUBLE)
         |      - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
         |      / (CAST(n AS DOUBLE) - 1.0) AS variance
         |  FROM (
         |    SELECT hour, event_type, cnt,
         |      CAST(count(cnt) OVER w AS BIGINT) AS n,
         |      CAST(sum(cnt) OVER w AS BIGINT) AS s1,
         |      CAST(sum(cnt * cnt) OVER w AS BIGINT) AS s2
         |    FROM filled
         |    WINDOW w AS (PARTITION BY event_type ORDER BY hour
         |      ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
         |  WHERE n >= 12)
         |WHERE variance > 0""".stripMargin,
    "q_events_ewma" ->
      s"""SELECT hour, event_type, cnt, wsum, wtot,
         |  CAST(wsum AS DOUBLE) / wtot AS ewma
         |FROM (
         |  SELECT hour, event_type, cnt,
         |    CAST($sqlEwmaWsum AS BIGINT) AS wsum,
         |    CAST($sqlEwmaWtot AS BIGINT) AS wtot
         |  FROM (
         |    SELECT date_trunc('hour', ts) AS hour, event_type,
         |           CAST(count(*) AS BIGINT) AS cnt
         |    FROM events GROUP BY 1, 2)
         |  WINDOW w AS (PARTITION BY event_type ORDER BY hour))""".stripMargin,
    "q_events_hourly" ->
      s"""SELECT date_trunc('hour', ts) AS window_start, event_type,
         |  count(*) AS n, ${sqlDsum("value")} AS total_value,
         |  count(DISTINCT user_id) AS n_users
         |FROM events GROUP BY 1, 2""".stripMargin,
    "q_events_sliding" ->
      s"""WITH b AS (
         |  SELECT event_type, value,
         |    date_trunc('hour', ts)
         |      + CASE WHEN date_part('minute', ts) >= 30
         |             THEN INTERVAL 30 MINUTE ELSE INTERVAL 0 MINUTE END AS b30
         |  FROM events)
         |SELECT ws AS window_start, event_type,
         |  count(*) AS n, ${sqlDsum("value")} AS total_value
         |FROM (SELECT event_type, value,
         |        unnest([b30, b30 - INTERVAL 30 MINUTE]) AS ws FROM b)
         |GROUP BY ws, event_type""".stripMargin,
    "q_events_sessions" ->
      s"""WITH marked AS (
         |  SELECT user_id, ts, value,
         |    CASE WHEN lag(ts) OVER w IS NULL
         |           OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
         |         THEN 1 ELSE 0 END AS new_sess
         |  FROM events
         |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
         |sess AS (
         |  SELECT *, SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
         |  FROM marked)
         |SELECT min(ts) AS session_start, user_id,
         |  count(*) AS n_events, ${sqlDsum("value")} AS session_value,
         |  max(ts) AS last_ts
         |FROM sess GROUP BY user_id, sid""".stripMargin,
    "q_events_hour_of_day" ->
      s"""SELECT CAST(date_part('hour', ts) AS INT) AS hod, event_type,
         |  count(*) AS n, ${sqlDsum("value")} AS total_value
         |FROM events GROUP BY 1, 2""".stripMargin,
    "q_events_json" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
        |  max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
        |FROM events GROUP BY event_type""".stripMargin,
    "q_events_funnel" ->
      """WITH v AS (SELECT user_id, min(ts) AS vt FROM events
        |           WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, min(e.ts) AS ct FROM events e
        |      JOIN v ON e.user_id = v.user_id
        |      WHERE e.event_type = 'click' AND e.ts > v.vt GROUP BY e.user_id),
        |p AS (SELECT e.user_id, min(e.ts) AS pt FROM events e
        |      JOIN c ON e.user_id = c.user_id
        |      WHERE e.event_type = 'purchase' AND e.ts > c.ct GROUP BY e.user_id)
        |SELECT
        |  (SELECT count(DISTINCT user_id) FROM events) AS n_users,
        |  (SELECT count(*) FROM v) AS n_view,
        |  (SELECT count(*) FROM c) AS n_view_click,
        |  (SELECT count(*) FROM p) AS n_full_funnel""".stripMargin,
    "q_events_retention" ->
      """WITH days AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |d AS (
        |  SELECT user_id, day, min(day) OVER (PARTITION BY user_id) AS cohort_day
        |  FROM days)
        |SELECT CAST(cohort_day AS TIMESTAMP) AS cohort_day,
        |  count(DISTINCT user_id) AS n_users,
        |  count(DISTINCT CASE WHEN day = cohort_day + 1 THEN user_id END) AS n_d1,
        |  count(DISTINCT CASE WHEN day = cohort_day + 7 THEN user_id END) AS n_d7
        |FROM d GROUP BY cohort_day""".stripMargin,
  )
}
