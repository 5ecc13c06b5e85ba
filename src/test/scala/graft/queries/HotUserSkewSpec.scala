package graft.queries

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Planted hot-user identity net for the round-9 skew rewires: the
  * two-level / as-of constructions that replaced bare per-user
  * windows ([[EventWindows.transitions]], [[EventWindows.entryExitOf]],
  * [[EventWindows.attributionOf]]) must be ROW-IDENTICAL to the naive
  * single-window constructions they replaced — asserted on a corpus
  * where one user holds 50% of all events (the skew shape the
  * rewrites exist for), so bucket-boundary stitching is exercised
  * hard: the hot user is active in every bucket.
  *
  * (The DuckDB oracle gate proves the same identity on the REAL
  * sf0.01 corpus — the naive SQL in `oracles` IS the old
  * construction; this spec proves it under planted heat, where the
  * old Spark code would still be correct but 100× slower.)
  */
class HotUserSkewSpec extends SparkSpec {

  private val HotUser = -777L

  /** sf0.001 events + the same rows again as user -777 (ids shifted):
    * the hot user holds exactly half the corpus, spread over the
    * whole time range. Written once per JVM; queries take an sfDir.
    */
  private lazy val hotDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("hotuser").toString
    val ev = Tables.events(spark, sf001)
    val eShift = ev.agg(max(col("event_id"))).head.getLong(0) + 1L
    ev.unionAll(
        ev.withColumn("user_id", lit(HotUser))
          .withColumn("event_id", col("event_id") + lit(eShift)))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  private def rows(df: DataFrame): Set[String] =
    df.collect().map(_.mkString("|")).toSet

  test("transitions: two-level bucket decomposition equals the bare per-user lead") {
    val naive = {
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      Tables.events(spark, hotDir)
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type").as("from_type"))
        .withColumn("to_type", lead(col("from_type"), 1).over(byUser))
        .filter(col("to_type").isNotNull)
        .groupBy(col("from_type"), col("to_type"))
        .agg(count(lit(1)).as("n"))
        .withColumn("from_total",
          sum(col("n")).over(Window.partitionBy(col("from_type"))))
        .select(col("from_type"), col("to_type"), col("n"), col("from_total"),
          (col("n").cast("double") / col("from_total").cast("double")).as("p"))
    }
    val got = EventWindows.transitions(spark, hotDir)
    assert(rows(got) == rows(naive))
    assert(got.count() > 0)
  }

  test("entryExit: two-level sessionization equals the bare three-window construction") {
    val naive = {
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val asc = Window.partitionBy(col("user_id"), col("sess_id"))
        .orderBy(col("ts"), col("event_id"))
      val desc = Window.partitionBy(col("user_id"), col("sess_id"))
        .orderBy(col("ts").desc, col("event_id").desc)
      Tables.events(spark, hotDir)
        .select(col("user_id"), col("ts"), col("event_id"),
          get_json_object(col("props"), "$.k").cast("int").as("page"))
        .withColumn("gap_us",
          Tables.epochMicros(col("ts"))
            - lag(Tables.epochMicros(col("ts")), 1).over(byUser))
        .withColumn("brk",
          when(col("gap_us").isNull || col("gap_us") > 1800000000L, 1L)
            .otherwise(0L))
        .withColumn("sess_id",
          sum(col("brk")).over(byUser.rowsBetween(Long.MinValue, 0)))
        .withColumn("rn_a", row_number().over(asc))
        .withColumn("rn_d", row_number().over(desc))
        .groupBy(col("user_id"), col("sess_id"))
        .agg(max(when(col("rn_a") === 1, col("page"))).as("entry_page"),
          max(when(col("rn_d") === 1, col("page"))).as("exit_page"),
          count(lit(1)).as("n_events"))
        .groupBy(col("entry_page"), col("exit_page"))
        .agg(count(lit(1)).as("n_sessions"),
          sum(when(col("n_events") === 1, 1L).otherwise(0L)).as("n_bounces"))
    }
    val got = EventWindows.entryExit(spark, hotDir)
    assert(rows(got) == rows(naive))
    assert(got.count() > 0)
  }

  /** The retired pair-join construction — the identity oracle for
    * every attribution rewrite (and for the null-page / bucketed
    * variants below). Its single `groupBy(page)` keeps ONE NULL-page
    * group, exactly like SQL GROUP BY.
    */
  private def naiveAttribution(ev: DataFrame): DataFrame = {
    import graft.Exact.dsum
    val lookbackUs = 7L * 24 * 3600000000L
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("p_id"),
        Tables.epochMicros(col("ts")).as("p_us"), col("value"))
    val touches = ev.filter(col("event_type").isin("view", "click"))
      .select(col("user_id"), Tables.epochMicros(col("ts")).as("t_us"),
        col("event_id").as("t_id"),
        get_json_object(col("props"), "$.k").cast("int").as("page"))
    val byPurchase = Window.partitionBy(col("p_id"))
    purchases.join(touches, Seq("user_id"))
      .filter(col("t_us") <= col("p_us")
        && col("t_us") > col("p_us") - lit(lookbackUs))
      .withColumn("rn_a", row_number().over(
        byPurchase.orderBy(col("t_us"), col("t_id"))))
      .withColumn("rn_d", row_number().over(
        byPurchase.orderBy(col("t_us").desc, col("t_id").desc)))
      .filter(col("rn_a") === 1 || col("rn_d") === 1)
      .groupBy(col("page"))
      .agg(sum(when(col("rn_a") === 1, 1L).otherwise(0L)).as("n_first"),
        dsum(when(col("rn_a") === 1, col("value"))).as("first_value"),
        sum(when(col("rn_d") === 1, 1L).otherwise(0L)).as("n_last"),
        dsum(when(col("rn_d") === 1, col("value"))).as("last_value"))
  }

  test("attribution: as-of legs equal the naive pair join, hot user included") {
    import graft.Exact.dsum
    val naive = {
      val lookbackUs = 7L * 24 * 3600000000L
      val ev = Tables.events(spark, hotDir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("p_id"),
          Tables.epochMicros(col("ts")).as("p_us"), col("value"))
      val touches = ev.filter(col("event_type").isin("view", "click"))
        .select(col("user_id"), Tables.epochMicros(col("ts")).as("t_us"),
          col("event_id").as("t_id"),
          get_json_object(col("props"), "$.k").cast("int").as("page"))
      val byPurchase = Window.partitionBy(col("p_id"))
      purchases.join(touches, Seq("user_id"))
        .filter(col("t_us") <= col("p_us")
          && col("t_us") > col("p_us") - lit(lookbackUs))
        .withColumn("rn_a", row_number().over(
          byPurchase.orderBy(col("t_us"), col("t_id"))))
        .withColumn("rn_d", row_number().over(
          byPurchase.orderBy(col("t_us").desc, col("t_id").desc)))
        .filter(col("rn_a") === 1 || col("rn_d") === 1)
        .groupBy(col("page"))
        .agg(sum(when(col("rn_a") === 1, 1L).otherwise(0L)).as("n_first"),
          dsum(when(col("rn_a") === 1, col("value"))).as("first_value"),
          sum(when(col("rn_d") === 1, 1L).otherwise(0L)).as("n_last"),
          dsum(when(col("rn_d") === 1, col("value"))).as("last_value"))
    }
    val got = EventWindows.attribution(spark, hotDir)
    assert(rows(got) == rows(naive))
    assert(got.count() > 0)
    // the hot user's purchases must actually be represented: their
    // total first-touch credits equal their purchase-with-touch count
    val hotPurchases = Tables.events(spark, hotDir)
      .filter(col("user_id") === HotUser
        && col("event_type") === "purchase").count()
    val totalFirst = got.agg(sum(col("n_first"))).head.getLong(0)
    assert(totalFirst >= hotPurchases / 2,
      "hot user's purchases are missing from the credit totals")
  }

  test("attribution: NULL pages collapse to ONE row, matching the naive single groupBy") {
    import spark.implicits._
    // touches whose props lack $.k carry a NULL page; a NULL page
    // that both OPENS and CLOSES purchases must yield one page-NULL
    // row (SQL GROUP BY semantics), not two — the equi-join
    // full_outer re-pair would split it
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    val ev = Seq(
      // user 1: lone NULL-page touch → first = last = NULL
      (1L, ts(1000), 1L, "view", 0.0, """{"x":1}"""),
      (2L, ts(2000), 1L, "purchase", 10.0, "{}"),
      // user 2: missing k (NULL) then page 5 → first NULL, last 5
      (3L, ts(1000), 2L, "click", 0.0, """{"x":2}"""),
      (4L, ts(1500), 2L, "view", 0.0, """{"k":5}"""),
      (5L, ts(2000), 2L, "purchase", 20.0, "{}"),
      // user 3: page 7 then NULL → first 7, last NULL
      (6L, ts(1000), 3L, "view", 0.0, """{"k":7}"""),
      (7L, ts(1200), 3L, "click", 0.0, "{}"),
      (8L, ts(2000), 3L, "purchase", 30.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = EventWindows.attributionOf(ev)
    assert(rows(got) == rows(naiveAttribution(ev)))
    val nullRows = got.filter(col("page").isNull).collect()
    assert(nullRows.length == 1, s"NULL-page group split: ${nullRows.length} rows")
    val r = nullRows.head
    assert(r.getAs[Long]("n_first") == 2L && r.getAs[Long]("n_last") == 2L)
    assert(r.getAs[Double]("first_value") == 30.0)
    assert(r.getAs[Double]("last_value") == 40.0)
  }

  test("attribution: the bucketed dial (1-day buckets) is row-identical to the pair join") {
    // exercises the finite-bucketUs branch of attributionEnrichedOf —
    // the prevLast/nextFirst carry spine — under planted heat: the
    // bucketed plan must equal the unbucketed pair-join oracle
    val ev = Tables.events(spark, hotDir)
    val got = EventWindows.attributionOf(ev, bucketUs = 24L * 3600000000L)
    assert(rows(got) == rows(naiveAttribution(ev)))
    assert(got.count() > 0)
  }

  test("attribution: the auto-sized dial keeps identity and picks sane buckets") {
    val ev = Tables.events(spark, hotDir)
    // default budget: even the hot user fits one task → degenerate dial
    assert(EventWindows.attributionBucketUsFor(ev) == Long.MaxValue)
    // a budget below the hot user's count must turn the dial on —
    // finite, ≥ the 1-hour floor, and still row-identical
    val b = EventWindows.attributionBucketUsFor(ev, maxRowsPerTask = 100L)
    assert(b != Long.MaxValue && b >= 3600000000L, s"dial $b")
    val got = EventWindows.attributionOf(ev, bucketUs = b)
    assert(rows(got) == rows(naiveAttribution(ev)))
  }

  test("the hot corpus genuinely has the skew shape the rewires target") {
    val ev = Tables.events(spark, hotDir)
    val hot = ev.filter(col("user_id") === HotUser).count()
    val total = ev.count()
    assert(hot * 2 == total, s"hot user holds $hot of $total")
    // and spans many day-buckets, so boundary stitching is exercised
    val days = ev.filter(col("user_id") === HotUser)
      .select(to_date(col("ts"))).distinct().count()
    assert(days >= 2, s"hot user active on only $days days")
  }
}
