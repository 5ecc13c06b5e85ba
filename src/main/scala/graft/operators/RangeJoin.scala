package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Point-in-interval range join via bin bucketing — preference (a) of
  * the custom-operator ladder: composition turns an inequality join
  * Catalyst can only run as BroadcastNestedLoopJoin into a plain
  * equi-join plus a residual filter.
  *
  * Each interval `[lo, hi]` is exploded to the fixed-width bins it
  * overlaps (`sequence(lo div w, hi div w)`); each point lands in
  * exactly ONE bin (`p div w`), so the equi-join on (key, bin) finds
  * every containing interval exactly once — no `distinct` needed, the
  * classic dedup trap of bin-bucketed joins. The residual
  * `lo <= p <= hi` filter removes same-bin near-misses.
  *
  * Scale shape: one hash shuffle of each side on (key, bin) — a
  * SortMergeJoin at 100 TB, never n×m work. Choose `binWidth` ≈ the
  * max interval length so each interval replicates into ≤ 2 bins
  * (replication factor = len/width + 1). Skew concentrates where many
  * intervals overlap one (key, bin) cell — because the join IS an
  * equi-join on (key, bin), AQE's skew-join handling splits a hot
  * cell's partition at runtime (SkewAqeSpec shows the split).
  */
object RangeJoin {

  /** @param points    side with a scalar column; each output row pairs
    *                  one point row with one containing interval row
    * @param intervals side with `[loCol, hiCol]` bounds (inclusive
    *                  both ends, mirroring SQL BETWEEN)
    * @param key       equi-join key present on both sides
    * @param pointCol  integral point column on `points`
    * @param loCol     integral lower bound on `intervals`
    * @param hiCol     integral upper bound on `intervals`
    * @param binWidth  bin size in the point column's units; all other
    *                  column names must be disjoint across the sides
    */
  def pointInInterval(points: DataFrame, intervals: DataFrame, key: String,
      pointCol: String, loCol: String, hiCol: String, binWidth: Long): DataFrame = {
    require(binWidth > 0, s"binWidth must be positive, got $binWidth")
    val binned = intervals.withColumn("_bin",
      explode(sequence(expr(s"$loCol div $binWidth"), expr(s"$hiCol div $binWidth"))))
    points.withColumn("_bin", expr(s"$pointCol div $binWidth"))
      .join(binned, Seq(key, "_bin"))
      .filter(col(pointCol) >= col(loCol) && col(pointCol) <= col(hiCol))
      .drop("_bin")
  }

  /** Interval-OVERLAP join: every (a, b) pair of the same key whose
    * closed intervals `[aLo, aHi]` and `[bLo, bHi]` intersect
    * (`aLo <= bHi && bLo <= aHi`) — the two-sided generalization of
    * [[pointInInterval]], which Catalyst would likewise only run as a
    * nested loop.
    *
    * Both sides explode to their bins; the equi-join on (key, bin)
    * meets every overlapping pair in every SHARED bin, so the pair
    * would duplicate once per shared bin — the dedup trap. The
    * canonical-bin filter keeps exactly one copy: the bin containing
    * `greatest(aLo, bLo)`, the overlap's start, which both intervals
    * cover by definition. No `distinct`, so the equi-join + two
    * map-side filters remain the whole cost: one shuffle per side on
    * (key, bin), SortMergeJoin at scale, and AQE splits a skewed
    * (key, bin) partition because it IS an equi-join. Replication =
    * len/binWidth + 1 per side — size `binWidth` ≈ the max interval
    * length.
    */
  def intervalOverlap(a: DataFrame, b: DataFrame, key: String,
      aLo: String, aHi: String, bLo: String, bHi: String,
      binWidth: Long): DataFrame = {
    require(binWidth > 0, s"binWidth must be positive, got $binWidth")
    val aB = a.withColumn("_bin",
      explode(sequence(expr(s"$aLo div $binWidth"), expr(s"$aHi div $binWidth"))))
    val bB = b.withColumn("_bin",
      explode(sequence(expr(s"$bLo div $binWidth"), expr(s"$bHi div $binWidth"))))
    aB.join(bB, Seq(key, "_bin"))
      .filter(col(aLo) <= col(bHi) && col(bLo) <= col(aHi))
      .filter(expr(s"greatest($aLo, $bLo) div $binWidth") === col("_bin"))
      .drop("_bin")
  }
}
