package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType

/** As-of (point-in-time) joins, composed from built-in operators —
  * preference (a) of the custom-operator ladder: no custom SparkPlan
  * needed because union + window expresses the semantics exactly.
  *
  * [[asof]]: for each left row, the LATEST right row of the same key
  * with `rightTime <= leftTime` (inclusive) — DuckDB `ASOF LEFT JOIN`
  * (the test oracle), kdb `aj`. [[asofForward]]: the EARLIEST right
  * row with `rightTime >= leftTime`. Both accept a tolerance — a
  * match further than `toleranceMicros` from the left time is nulled
  * out (pandas `merge_asof(tolerance=…)`, the shape a feature-store
  * backfill needs so a stale quote or a far-future "next event" can't
  * leak in).
  *
  * Physical shape (both directions): one hash shuffle on the key +
  * one in-partition sort over (time, side-tag), then a running
  * `last(right_payload, ignoreNulls)` window — the textbook
  * distributed as-of algorithm. At 100 TB this is a single exchange
  * of each side, no n×m work, and the window never buffers more than
  * one right payload per row. The tolerance is a map-side null-out
  * after the window — no extra shuffle.
  *
  * Skew: `Window.partitionBy(key)` serializes a hot key (one user
  * with millions of events) into ONE task's sort+window. [[asofSalted]]
  * is the salted variant for that case: the left side fans out over a
  * deterministic salt, the right side is replicated per salt, and the
  * union-window runs within (key, salt) — per-task work drops to
  * ~1/nSalts of the hot key at the cost of nSalts× the (usually much
  * smaller) right side. Row-identical to [[asof]] (proven by the
  * planted hot-key spec).
  *
  * Time columns: tolerance comparison goes through
  * [[graft.Tables.epochMicros]], which casts to TimestampType first —
  * exact for TIMESTAMP and TIMESTAMP_NTZ columns alike (UTC session),
  * but a NUMERIC time column is interpreted as epoch SECONDS by that
  * cast (Spark semantics). Callers with epoch-micros LONG columns
  * must either convert to timestamps or scale the tolerance to
  * seconds.
  */
object AsOfJoin {

  /** @param left      probe side (each row appears exactly once in output)
    * @param right     reference side. If it can contain multiple rows
    *                  with the same (key, time), pre-aggregate to one
    *                  row per instant — otherwise which of the tied
    *                  rows wins is not defined (same caveat as any
    *                  ASOF implementation, incl. DuckDB's)
    * @param key       equi-join key column name (present in both)
    * @param leftTime  event-time column on `left`
    * @param rightTime event-time column on `right`
    * @param prefix    prefix for right-side columns in the output
    * @param toleranceMicros null out matches older than this (see
    *                  object scaladoc for numeric-column caveat)
    */
  def asof(left: DataFrame, right: DataFrame, key: String,
      leftTime: String, rightTime: String, prefix: String = "asof_",
      toleranceMicros: Long = Long.MaxValue): DataFrame =
    unionWindow(left, right, key, leftTime, rightTime, prefix,
      descending = false,
      if (toleranceMicros == Long.MaxValue) None else Some(toleranceMicros))

  /** Forward as-of: earliest right row at-or-after each left row; a
    * match further ahead than `toleranceMicros` is nulled out. Same
    * contract as [[asof]] otherwise (see object scaladoc).
    */
  def asofForward(left: DataFrame, right: DataFrame, key: String,
      leftTime: String, rightTime: String, prefix: String = "asof_",
      toleranceMicros: Long = Long.MaxValue): DataFrame =
    unionWindow(left, right, key, leftTime, rightTime, prefix,
      descending = true, toleranceMicros = Some(toleranceMicros))

  /** Nearest as-of: for each left row, the right row of the same key
    * CLOSEST in time in either direction (pandas `merge_asof`
    * direction='nearest'). Backward wins ties (equal gaps), and the
    * backward bound is inclusive while the forward one is strict —
    * an exact-time right row is therefore always found, with gap 0,
    * via the backward leg. A chosen match further than
    * `toleranceMicros` is nulled out; because the CLOSER direction is
    * chosen first, tolerance-after-choice equals tolerance-per-leg
    * (if the nearer gap exceeds the tolerance, so does the farther).
    *
    * Physical shape: the SAME single exchange as [[asof]]; the two
    * directions are two RUNNING `last` frames — the forward one over
    * the REVERSED (time, tag) ordering — so both are O(n) per
    * partition. (A `first over (currentRow, unboundedFollowing)`
    * frame would express the forward leg in the ascending sort, but
    * Spark's UnboundedFollowingWindowFunctionFrame re-scans to the
    * partition end per row — O(n²) in partition size, a planted-
    * hot-key killer.) Cost vs backward: one extra in-partition sort,
    * no extra exchange.
    */
  def asofNearest(left: DataFrame, right: DataFrame, key: String,
      leftTime: String, rightTime: String, prefix: String = "asof_",
      toleranceMicros: Long = Long.MaxValue): DataFrame = {
    val tu = tagUnion(left, right, key, leftTime, rightTime)

    // one exchange, two running frames (the forward one on the
    // reversed ordering — both O(n), see scaladoc). Reversing keeps
    // the strict forward bound: at equal _t, tag desc visits the left
    // row (tag 1) before the right row (tag 0), so the right row is
    // outside the left's running frame.
    val wBack = Window.partitionBy(col("_k"))
      .orderBy(col("_t").asc, col("_tag").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wFwd = Window.partitionBy(col("_k"))
      .orderBy(col("_t").desc, col("_tag").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)

    val back = last(col("_rp"), ignoreNulls = true).over(wBack)
    val fwd = last(col("_rp"), ignoreNulls = true).over(wFwd)
    val backGap = us(col("_t")) - us(back.getField(rightTime))
    val fwdGap = us(fwd.getField(rightTime)) - us(col("_t"))
    val nearer = when(back.isNotNull &&
        (fwd.isNull || backGap <= fwdGap), back)
      .otherwise(fwd)
    val joined = tu.rows
      .withColumn("_near", nearer)
      .withColumn("_gap",
        abs(us(col("_near").getField(rightTime)) - us(col("_t"))))
      .filter(col("_tag") === 1)
    val matched =
      if (toleranceMicros == Long.MaxValue) col("_near")
      else when(col("_near").isNotNull && col("_gap") <= toleranceMicros,
        col("_near")).otherwise(lit(null).cast(tu.rType))
    unpack(joined, tu, key, matched, prefix)
  }

  /** Hot-key-safe backward as-of. Row-identical to [[asof]]; the
    * difference is physical: left rows are fanned over a DETERMINISTIC
    * salt (hash of the whole row — salt choice can never change the
    * result, only placement, and determinism keeps task retries
    * exact), the right side is replicated once per salt, and the
    * union-window partitions by (key, salt). A key holding 50% of the
    * left side becomes nSalts window partitions of ~1/nSalts each
    * instead of one straggler task. Cost: the right side shuffles
    * nSalts× — the right tradeoff when the left side is the big,
    * skewed one (events vs reference data, the common as-of shape).
    */
  def asofSalted(left: DataFrame, right: DataFrame, key: String,
      leftTime: String, rightTime: String, prefix: String = "asof_",
      toleranceMicros: Long = Long.MaxValue, nSalts: Int = 16): DataFrame = {
    require(nSalts >= 1, s"nSalts must be >= 1, got $nSalts")
    val l2 = left.withColumn("_asof_salt", saltCol(left, nSalts))
    val r2 = right.withColumn("_asof_salt",
      explode(sequence(lit(0), lit(nSalts - 1))))
    def keyed(df: DataFrame): DataFrame =
      df.withColumn("_sk", struct(col(key), col("_asof_salt")))
        .drop(key, "_asof_salt")
    val out = unionWindow(keyed(l2), keyed(r2), "_sk", leftTime, rightTime,
      prefix, descending = false,
      if (toleranceMicros == Long.MaxValue) None else Some(toleranceMicros))
    val leftRest = left.columns.filter(_ != key).toSeq.map(col)
    val rightPref = right.columns.filter(_ != key).toSeq
      .map(c => col(prefix + c))
    out.select((col("_sk").getField(key).as(key) +: leftRest) ++ rightPref: _*)
  }

  /** Deterministic per-row salt in [0, nSalts): xxhash64 over every
    * column. Exposed for the planted-skew spec, which asserts the hot
    * key genuinely spreads across salts.
    */
  def saltCol(df: DataFrame, nSalts: Int): Column =
    pmod(xxhash64(df.columns.toSeq.map(col): _*), lit(nSalts.toLong)).cast("int")

  /** Shared core: tag-union both sides, run the time-ordered window
    * (ascending = backward as-of, descending = forward), keep left
    * rows, unpack. Tag 0 sorts before tag 1 at equal times in either
    * direction, so a right row at t is visible to a left row at the
    * same t — the inclusive bound. Tolerance is direction-aware:
    * backward measures `leftTime - matchTime`, forward the reverse.
    */
  private def unionWindow(left: DataFrame, right: DataFrame, key: String,
      leftTime: String, rightTime: String, prefix: String,
      descending: Boolean, toleranceMicros: Option[Long]): DataFrame = {
    val tu = tagUnion(left, right, key, leftTime, rightTime)
    val w = Window.partitionBy(col("_k"))
      .orderBy(if (descending) col("_t").desc else col("_t").asc,
        col("_tag").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)

    val matchedRaw = last(col("_rp"), ignoreNulls = true).over(w)
    val matched = toleranceMicros match {
      case None => matchedRaw
      case Some(tol) =>
        // NTZ-safe micros compare; NULL match falls through to null
        val mt = us(matchedRaw.getField(rightTime))
        val gap = if (descending) mt - us(col("_t")) else us(col("_t")) - mt
        when(matchedRaw.isNotNull && gap <= tol,
          matchedRaw).otherwise(lit(null).cast(tu.rType))
    }
    val joined = tu.rows
      .withColumn("_match_r", matched)
      .filter(col("_tag") === 1)
    unpack(joined, tu, key, col("_match_r"), prefix)
  }

  /** NTZ-safe epoch micros of a time column. */
  private def us(c: Column): Column = graft.Tables.epochMicros(c)

  /** Both sides in one row shape: `_k` key, `_t` time, `_tag` (1 =
    * left, 0 = right), `_lp` / `_rp` the side's non-key columns as a
    * struct (null on the other side). `lCols` / `rCols` name the
    * struct fields; `rType` types a nulled-out match.
    */
  private final case class TagUnion(rows: DataFrame, lCols: Seq[String],
      rCols: Seq[String], rType: DataType)

  private def tagUnion(left: DataFrame, right: DataFrame, key: String,
      leftTime: String, rightTime: String): TagUnion = {
    val lCols = left.columns.filter(_ != key).toSeq
    val rCols = right.columns.filter(_ != key).toSeq
    val lStruct = struct(lCols.map(col): _*)
    val rStruct = struct(rCols.map(col): _*)
    val lType = left.select(lStruct).schema.head.dataType
    val rType = right.select(rStruct).schema.head.dataType

    val l2 = left.select(col(key).as("_k"), col(leftTime).as("_t"),
      lit(1).as("_tag"), lStruct.as("_lp"), lit(null).cast(rType).as("_rp"))
    val r2 = right.select(col(key).as("_k"), col(rightTime).as("_t"),
      lit(0).as("_tag"), lit(null).cast(lType).as("_lp"), rStruct.as("_rp"))
    TagUnion(l2.unionByName(r2), lCols, rCols, rType)
  }

  /** Left rows of a tag-union back to the left's columns (key under
    * its own name) plus `prefix`-named fields of the `matched` struct.
    */
  private def unpack(joined: DataFrame, tu: TagUnion, key: String,
      matched: Column, prefix: String): DataFrame = {
    val outLeft: Seq[Column] =
      col("_k").as(key) +: tu.lCols.map(c => col("_lp").getField(c).as(c))
    val outRight: Seq[Column] =
      tu.rCols.map(c => matched.getField(c).as(prefix + c))
    joined.select(outLeft ++ outRight: _*)
  }
}
