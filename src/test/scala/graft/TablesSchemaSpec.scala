package graft

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
import scala.jdk.CollectionConverters._

import graft.examples.QueryCounters
import graft.operators.Bucketed

/** The inferred-schema memo behind [[Tables.table]]: only the first
  * load of a source runs Parquet schema inference (a one-task Spark
  * job); a later load of the unchanged source under the same parquet
  * confs reuses the schema and submits no job. A rewritten source, a
  * changed parquet conf, or a file replaced under a partition
  * directory must infer again.
  */
class TablesSchemaSpec extends SparkSpec {

  private val allTables = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  private lazy val counters = QueryCounters.attach(spark)

  /** Jobs `body` submits. The listener bus is asynchronous, so settle
    * before the reset and after the body (QueryCounters' own rule). */
  private def jobsOf(body: => Unit): Long = {
    counters
    Thread.sleep(2000)
    counters.reset()
    body
    Thread.sleep(2000)
    counters.jobs.get
  }

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** Run `body` with `confs` set, then restore each key's prior state. */
  private def withConfs[T](confs: (String, String)*)(body: => T): T = {
    val before = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("a second load of a table submits no Spark job; the first infers like a plain read") {
    // a fresh copy, so no earlier suite has warmed the memo for it
    val dir = tmpDir("schema_memo")
    Files.copy(Paths.get(s"$sf001/customer.parquet"), Paths.get(s"$dir/customer.parquet"))
    val plain = jobsOf(spark.read.parquet(s"$dir/customer.parquet"))
    val first = jobsOf(Tables.table(spark, dir, "customer"))
    val second = jobsOf(Tables.table(spark, dir, "customer"))
    assert(plain >= 1, "a plain parquet read no longer infers with a job")
    assert(first == plain, s"first load ran $first jobs, a plain read $plain")
    assert(second == 0, s"second load ran $second jobs")
    assert(Tables.table(spark, dir, "customer").count() ==
      spark.read.parquet(s"$dir/customer.parquet").count())
  }

  test("the memoized schema equals spark.read.parquet's for every driver table") {
    for (t <- allTables) {
      val plain = spark.read.parquet(s"$sf001/$t.parquet").schema
      // the second load is served by the memo
      Tables.table(spark, sf001, t)
      assert(Tables.table(spark, sf001, t).schema == plain, s"$t schema differs")
    }
  }

  test("a table rewritten at the same path shows its new column on the next load") {
    val dir = tmpDir("schema_rewrite")
    val src = Tables.table(spark, sf001, "nation")
    src.write.mode("overwrite").parquet(s"$dir/t.parquet")
    assert(!Tables.table(spark, dir, "t").columns.contains("extra"))
    src.withColumn("extra", lit(1)).write.mode("overwrite").parquet(s"$dir/t.parquet")
    val reloaded = Tables.table(spark, dir, "t")
    assert(reloaded.columns.contains("extra"))
    assert(reloaded.filter(col("extra") === 1).count() == src.count())
  }

  test("a changed parquet conf re-infers: nanosAsLong and inferTimestampNTZ flip the ts type") {
    // INT64 TIMESTAMP(NANOS), the encoding events.ts once shipped in;
    // Spark cannot write it, so parquet's own example writer does
    val dir = tmpDir("schema_conf")
    val schema = MessageTypeParser.parseMessageType(
      "message events { optional int64 event_id; optional int64 ts (TIMESTAMP(NANOS,false)); }")
    val out = HadoopOutputFile.fromPath(new Path(s"$dir/events.parquet"),
      spark.sparkContext.hadoopConfiguration)
    val w = ExampleParquetWriter.builder(out).withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup()
      .append("event_id", 1L).append("ts", 1700000000000000000L))
    finally w.close()

    val nanos = "spark.sql.legacy.parquet.nanosAsLong"
    withConfs(nanos -> "true") {
      assert(Tables.table(spark, dir, "events").schema("ts").dataType == LongType)
    }
    withConfs(nanos -> "false") {
      val off = scala.util.Try(Tables.table(spark, dir, "events").schema("ts").dataType)
      assert(!off.toOption.contains(LongType),
        s"nanosAsLong off still loads ts as LongType: $off")
    }

    // the real fixture's naive-micros ts under both NTZ inference modes
    val ntz = "spark.sql.parquet.inferTimestampNTZ.enabled"
    val on = withConfs(ntz -> "true")(Tables.table(spark, sf001, "events").schema("ts").dataType)
    val off = withConfs(ntz -> "false")(Tables.table(spark, sf001, "events").schema("ts").dataType)
    assert(on == TimestampNTZType && off == TimestampType, s"on=$on off=$off")
  }

  test("two loads of one table are distinct relations and self-join") {
    val a = Tables.table(spark, sf001, "nation")
    val b = Tables.table(spark, sf001, "nation")
    val ids = (d: DataFrame) => d.queryExecution.analyzed.output.map(_.exprId).toSet
    assert(ids(a).intersect(ids(b)).isEmpty)
    val got = a.join(b, a("n_regionkey") === b("n_nationkey")).count()
    val pa = spark.read.parquet(s"$sf001/nation.parquet")
    val pb = spark.read.parquet(s"$sf001/nation.parquet")
    assert(got == pa.join(pb, pa("n_regionkey") === pb("n_nationkey")).count())
    assert(got > 0)
  }

  test("the source fingerprint sees files under partitions and is unchanged for flat inputs") {
    val fs = new Path(sf001).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the rule before the listing recursed: top-level files only
    def topLevel(dir: String): String = {
      val files = fs.listStatus(new Path(dir)).filter(_.isFile)
      val maxMtime = if (files.isEmpty) 0L else files.map(_.getModificationTime).max
      s"$dir|${files.length}|${files.map(_.getLen).sum}|$maxMtime"
    }
    val flatFile = s"$sf001/events.parquet"
    assert(Bucketed.srcFingerprint(spark, flatFile) == topLevel(flatFile))
    val flatDir = s"${tmpDir("fp_flat")}/t.parquet"
    Tables.table(spark, sf001, "nation").write.parquet(flatDir)
    assert(Bucketed.srcFingerprint(spark, flatDir) == topLevel(flatDir))

    val part = s"${tmpDir("fp_part")}/t.parquet"
    Tables.table(spark, sf001, "nation").withColumn("k", lit(1))
      .coalesce(1).write.partitionBy("k").parquet(part)
    val (before, topBefore) = (Bucketed.srcFingerprint(spark, part), topLevel(part))
    // replace the one data file under k=1/ with a different one
    val other = s"${tmpDir("fp_other")}/t.parquet"
    Tables.table(spark, sf001, "region").coalesce(1).write.parquet(other)
    def dataFile(d: String) = Files.list(Paths.get(d)).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    val target = dataFile(s"$part/k=1")
    Files.copy(dataFile(other), target, StandardCopyOption.REPLACE_EXISTING)
    new File(target.toString).setLastModified(System.currentTimeMillis() + 2000)
    assert(Bucketed.srcFingerprint(spark, part) != before)
    assert(topLevel(part) == topBefore, "the top-level rule was expected to miss this")
  }
}
