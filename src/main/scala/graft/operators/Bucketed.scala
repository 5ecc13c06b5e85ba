package graft.operators

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Storage-bucketed tables for Exchange-free co-located joins.
  *
  * `bucketBy(n, key).sortBy(key)` writes each table pre-hash-
  * partitioned on its join key; a later join on that key reads both
  * sides' matching buckets directly — the scan itself satisfies the
  * join's required HashPartitioning, so Catalyst inserts NO shuffle
  * (asserted in BucketedSpec). This is the 100 TB answer for a join
  * that runs repeatedly on the same keys (fact-to-fact, daily
  * incremental against a big dimension): pay the partitioning once at
  * write time, never again at read time. Bucket counts must match
  * across the sides (or divide evenly, with
  * `spark.sql.bucketing.coalesceBucketsInJoin.enabled`).
  */
object Bucketed {

  /** Data-sized bucket count: one bucket per ~256 MB of source bytes
    * (plan-time file statistics — metadata only, no action), rounded
    * up to a power of two, clamped to [8, 256]. A FIXED bucket count
    * is a scale bug in both directions: 8 buckets cap the
    * steady-state co-located join at 8-way parallelism once the fact
    * table outgrows them (the ×1000 sweep: 600M-row lineitem in 8
    * buckets = 75M rows per task), while thousands of buckets
    * fragment a small table into empty files. Size from the LARGER
    * side and pass the same count to both writes — co-location
    * requires equal bucket counts.
    */
  def bucketCountFor(df: DataFrame): Int =
    bucketCountForBytes(df.queryExecution.optimizedPlan.stats.sizeInBytes
      .min(BigInt(Long.MaxValue)).toLong)

  /** The pure sizing rule (BucketedSpec pins it): ⌈bytes/256 MB⌉
    * rounded up to a power of two in [8, 256].
    */
  def bucketCountForBytes(bytes: Long): Int = {
    val M = 256L * 1024 * 1024
    // ceiling division written overflow-safe (bytes + M - 1 wraps at
    // Long.MaxValue stats, the "unknown size" sentinel)
    val want = (bytes / M + (if (bytes % M > 0) 1L else 0L)) max 8L min 256L
    val n = Integer.highestOneBit(want.toInt - 1) * 2
    if (n < 8) 8 else math.min(n, 256)
  }

  /** Write `df` as a managed bucketed+sorted parquet table, replacing
    * any previous version — UNLESS the catalog already holds this
    * table built from the same `fingerprint` (source dir + layout),
    * in which case the write is skipped entirely. That skip is the
    * pattern's production semantics: the partitioning is paid once at
    * write time and every later join rides the existing buckets, so
    * repeated runs in one session (bench reps, interactive reuse)
    * measure the steady-state Exchange-free join, not the setup.
    *
    * On a (re)write the location is deleted first: the in-memory
    * catalog forgets tables across JVM runs but leaves their
    * directories in the warehouse, and CTAS refuses a non-empty
    * location for a table it doesn't know about.
    */
  def write(spark: SparkSession, df: DataFrame, table: String,
      bucketCol: String, nBuckets: Int, fingerprint: String): Unit = {
    val want = s"$fingerprint|$bucketCol|$nBuckets"
    if (spark.catalog.tableExists(table)) {
      val cur = spark.sql(s"SHOW TBLPROPERTIES $table ('graft.src')")
        .collect().headOption.map(_.getString(1))
      if (cur.contains(want)) return
      spark.sql(s"DROP TABLE IF EXISTS $table")
    }
    val warehouse = new Path(spark.conf.get("spark.sql.warehouse.dir"))
    val loc = new Path(warehouse, table.toLowerCase)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // durable across JVM runs: the in-memory catalog forgets tables
    // but the render survives in the warehouse with a marker file
    // recording what built it. On a fingerprint match the files are
    // RE-REGISTERED (external table over the existing bucket layout —
    // Spark reads bucket ids from the part-file names, so the spec
    // round-trips), skipping the render entirely; bench reps and
    // repeated sweeps then measure the steady-state join from the
    // very first run of a new JVM.
    val reused = reuseOrRender(fs, loc, "_GRAFT_SRC", want) {
      fs.delete(loc, true)
      df.write.mode("overwrite")
        .bucketBy(nBuckets, bucketCol).sortBy(bucketCol)
        .saveAsTable(table)
    }
    if (reused)
      spark.sql(s"CREATE TABLE $table (${df.schema.toDDL}) USING parquet " +
        s"CLUSTERED BY ($bucketCol) SORTED BY ($bucketCol) " +
        s"INTO $nBuckets BUCKETS LOCATION '${loc.toString}'")
    spark.sql(s"ALTER TABLE $table SET TBLPROPERTIES ('graft.src' = '$want')")
  }

  /** The render-freshness rule shared by every on-disk render (this
    * object's bucketed tables, the plugin corpus): `dir/marker` holds
    * the fingerprint of what built the render. If it holds `want`, the
    * render is current and this returns true without running `render`;
    * otherwise it runs `render` (which may delete and rewrite `dir`),
    * then records `want` in the marker and returns false.
    */
  def reuseOrRender(fs: FileSystem, dir: Path, marker: String,
      want: String)(render: => Unit): Boolean = {
    val m = new Path(dir, marker)
    val fresh = fs.exists(m) && {
      val in = fs.open(m)
      try new String(in.readAllBytes(), "UTF-8") == want finally in.close()
    }
    if (!fresh) {
      render
      val out = fs.create(m, true)
      try out.write(want.getBytes("UTF-8")) finally out.close()
    }
    fresh
  }

  /** Content fingerprint of a source parquet file or dir from FILE
    * metadata only (path + file count + total bytes + max modification
    * time — one recursive filesystem listing, no data scan). Three
    * callers: [[write]]'s callers pass it as `fingerprint`, so a
    * changed source under the same path re-renders while an unchanged
    * one reuses the on-disk buckets across JVMs; `PluginDemo.corpusGlob`
    * keys its `_GRAFT_FINGERPRINT` corpus render on it; and
    * `graft.Tables.table` keys its inferred-schema memo on it. The
    * mtime term comes free from the same listing and catches the case
    * size alone misses: a source regenerated with identical total
    * bytes (same generator, new seed) would otherwise silently reuse
    * the stale render or schema. The listing recurses, so a data file
    * replaced under a partition subdirectory (`k=v/`) changes the
    * fingerprint; for a single file or a flat dir it lists exactly the
    * files a top-level listing would.
    */
  def srcFingerprint(spark: SparkSession, dir: String): String = {
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // listStatus, not listFiles: a LocatedFileStatus copies each file's
    // permissions, which the local filesystem reads by forking a shell
    // per file (46 ms instead of 0.5 ms for a 16-file local dir on a
    // 4-core host)
    def under(p: Path): Seq[FileStatus] = fs.listStatus(p).toSeq
      .flatMap(st => if (st.isDirectory) under(st.getPath) else Seq(st))
    val files = under(new Path(dir))
    val maxMtime =
      if (files.isEmpty) 0L else files.map(_.getModificationTime).max
    s"$dir|${files.length}|${files.map(_.getLen).sum}|$maxMtime"
  }

  /** Join two bucketed tables on their bucket columns. The `merge`
    * hint pins SortMergeJoin — the strategy whose distribution
    * requirement the bucketed scans satisfy shuffle-free (a broadcast
    * would defeat the demonstration and doesn't scale to fact-to-fact
    * anyway).
    */
  def colocatedJoin(spark: SparkSession, leftTable: String,
      rightTable: String, leftKey: String, rightKey: String): DataFrame = {
    val l = spark.table(leftTable)
    val r = spark.table(rightTable)
    l.hint("merge").join(r, l(leftKey) === r(rightKey))
  }
}
