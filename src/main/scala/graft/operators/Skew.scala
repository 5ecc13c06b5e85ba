package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew handling: the salting pattern for a hot aggregation key.
  *
  * When one key holds a disproportionate share of rows (the
  * power-law reality of 100 TB corpora — one user, one URL, one empty
  * document), a plain `groupBy(key)` sends the whole hot key to one
  * task. Salting splits each key into `nSalts` sub-keys for the first
  * (parallel) aggregation, then combines the partials — possible
  * whenever the aggregate decomposes into partial + merge.
  *
  * Spark's AQE skew-join handling (`spark.sql.adaptive.skewJoin`)
  * covers the JOIN case at runtime (SkewSpec); this helper covers
  * aggregation and makes the pattern explicit and testable.
  */
object Skew {

  /** Two-stage salted count: groupBy(key, salt) → groupBy(key).
    * Result is identical to `groupBy(key).count()`; the first stage
    * fans the hot key over `nSalts` reducers.
    */
  def saltedCount(df: DataFrame, key: String, nSalts: Int = 16): DataFrame =
    df.withColumn("_salt", pmod(spark_partition_id() + monotonically_increasing_id(), lit(nSalts)))
      .groupBy(col(key), col("_salt"))
      .agg(count(lit(1)).as("_partial"))
      .groupBy(col(key))
      .agg(sum(col("_partial")).as("cnt"))
}
