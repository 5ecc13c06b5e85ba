package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Scale-conditional join hints.
  *
  * The round-11 ×1000 sweep showed TPC-H fact joins feeding tiny
  * aggregates sort-merge-joining the 600M-row fact — O(n log n) fact
  * sorts nothing downstream reuses — and pinning `shuffle_hash` on
  * the filtered build side repaid 20–70 s per query. The same pins
  * cost 1.45–1.64× at sf0.1, where the fact sort is trivial and
  * SMJ's lower constants win. So the hint is applied CONDITIONALLY,
  * from one bounded planning read (a filesystem listing of the
  * fact's source bytes — metadata only, no data scan): at or above
  * `spark.graft.join.shjFactMinBytes` (default 256 MiB compressed
  * source — ~15× the whole sf0.1 corpus and ~2% of the ×1000 one,
  * so both regimes sit far from the boundary) the build side
  * carries the hint; below it Catalyst's default join choice
  * stands. PlanAuditSpec pins the big-fact plan shape by setting
  * the threshold to 0.
  */
object ScaleHints {

  val ShjFactMinBytesConf = "spark.graft.join.shjFactMinBytes"
  val ShjFactMinBytesDefault: Long = 256L * 1024 * 1024

  /** Total bytes under a source dir — metadata only, no data scan.
    * RECURSIVE (`getContentSummary`), because the facts this gates are
    * exactly the ones likely to be hive-partitioned at scale: a
    * top-level-only listing of a partitioned parquet dir measures ~0
    * bytes and would silently disable the big-fact hint at precisely
    * the scale it targets.
    */
  def srcBytes(spark: SparkSession, dir: String): Long = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) 0L
    else fs.getContentSummary(p).getLength
  }

  /** `build.hint("shuffle_hash")` iff the FACT the join probes is
    * big enough that skipping its SMJ sort pays; otherwise `build`
    * unchanged. `factDir` is the fact's parquet dir (for the TPC-H
    * family, s"$sfDir/lineitem.parquet" — every such join's probe
    * mass scales with it).
    */
  def shjIfBigFact(spark: SparkSession, factDir: String,
      build: DataFrame): DataFrame =
    shjIfBigFact(spark, factDir, build, ShjFactMinBytesDefault)

  /** As above with an explicit default threshold — the conf, when
    * set, still overrides it. The text family passes
    * [[TextFactMinBytes]]: a documents byte expands to ~10× its mass
    * as an exploded token/bigram occurrence stream, so the hint pays
    * an order of magnitude earlier than on the TPC-H fact (the ×1000
    * corpus: 613 MB of documents → ~1B occurrence rows).
    */
  def shjIfBigFact(spark: SparkSession, factDir: String,
      build: DataFrame, defaultMinBytes: Long): DataFrame = {
    val threshold = spark.conf.getOption(ShjFactMinBytesConf)
      .map(_.toLong).getOrElse(defaultMinBytes)
    if (srcBytes(spark, factDir) >= threshold) build.hint("shuffle_hash")
    else build
  }

  val TextFactMinBytes: Long = 64L * 1024 * 1024
}
