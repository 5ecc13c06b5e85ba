package graft.operators

import java.util.concurrent.atomic.AtomicInteger
import graft.SparkSpec
import graft.examples.QueryCounters
import graft.sources.KVText
import org.apache.spark.{ShuffleDependency, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.catalyst.plans.logical.{AppendColumns, AppendColumnsWithObject}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** A top-level case-class key for the key-shape tests. */
case class WordAt(word: String, line: Int)

/** A case-class key with a `Double` field, which `MRJob` refuses. */
case class Scored(word: String, score: Double)

object MRJobSpec {
  /** Reduce calls the crash test failed on purpose; tasks run in this
    * JVM under the local master. */
  val reduceCrashes = new AtomicInteger()
}

/** Golden + property tests for the MRJob surface (SURVEY.md §5:
  * golden multiset compare per README.MD:43-53; ScalaCheck
  * invariants — sum(counts)==tokens, nReduce invariance).
  */
class MRJobSpec extends SparkSpec {

  /** README.MD:25-32 map semantics: tokenize on non-letters, emit (word, 1). */
  private val wcMap: (String, String) => Seq[(String, Int)] =
    (_, contents) => "[A-Za-z]+".r.findAllIn(contents).map(w => (w, 1)).toSeq
  private val wcReduce: (String, Iterator[Int]) => Int = (_, vs) => vs.sum

  private def fixtureGlob =
    getClass.getResource("/mr/split-1.txt").getPath.stripSuffix("split-1.txt") + "*.txt"

  /** The part files of a `writeTextOutput` dir, in name order, each as
    * its lines. */
  private def linesPerFile(dir: String): Seq[Seq[String]] =
    new java.io.File(dir).listFiles().filter(_.getName.startsWith("part-"))
      .sortBy(_.getName).toSeq.map { f =>
        val src = scala.io.Source.fromFile(f)
        try src.getLines().toList finally src.close()
      }

  /** The part files of a `writeTextOutput` dir, each as its key column. */
  private def keysPerFile(dir: String): Seq[Seq[String]] =
    linesPerFile(dir).map(_.map(_.split(" ")(0)))

  /** A one-file input: `run` calls `mapf` once, on this file. */
  private lazy val oneFile = {
    val f = java.nio.file.Files.createTempFile("mrone", ".txt")
    java.nio.file.Files.writeString(f, "one map call\n")
    f.toString
  }

  /** `run` over [[oneFile]], with a `mapf` that emits `pairs`. */
  private def runOn[K, V, OUT](pairs: Seq[(K, V)], reducef: (K, Iterator[V]) => OUT,
      nReduce: Int = 8)(implicit
      kEnc: Encoder[K], kvEnc: Encoder[(K, V)], outEnc: Encoder[(K, OUT)]): Dataset[(K, OUT)] =
    MRJob[K, V, OUT]((_, _) => pairs, reducef, nReduce).run(spark, oneFile)

  /** The shuffle dependencies in the RDD lineage of `ds`. */
  private def shuffles(ds: Dataset[_]): Seq[ShuffleDependency[_, _, _]] = {
    def walk(rdd: RDD[_]): Seq[ShuffleDependency[_, _, _]] = rdd.dependencies.flatMap {
      case s: ShuffleDependency[_, _, _] => s +: walk(s.rdd)
      case d => walk(d.rdd)
    }
    walk(ds.rdd).distinct
  }

  test("wordcount golden output (holistic reduce path)") {
    import spark.implicits._
    val job = MRJob(wcMap, wcReduce, nReduce = 2)
    val got = job.run(spark, fixtureGlob).collect().toMap
    val expected = Map(
      "Hello" -> 2, "my" -> 1, "name" -> 3, "is" -> 2,
      "Sue" -> 1, "your" -> 2, "Tom" -> 1)
    assert(got == expected)
  }

  test("output fidelity sink: nReduce files, keys sorted within each file") {
    import spark.implicits._
    val job = MRJob(wcMap, wcReduce, nReduce = 3)
    val out = job.run(spark, fixtureGlob)
    val dir = java.nio.file.Files.createTempDirectory("mrout").toString
    job.writeTextOutput(out, dir)
    val perFile = keysPerFile(dir)
    assert(perFile.length == 3)
    perFile.foreach(keys => assert(keys == keys.sorted))  // sorted within file
    val all = perFile.flatten.sorted
    assert(all == Seq("Hello", "Sue", "Tom", "is", "my", "name", "your"))
  }

  test("property: counts sum to token total; invariant under nReduce") {
    import spark.implicits._
    val tokens = Gen.nonEmptyListOf(Gen.oneOf("a", "b", "c", "spark", "mr"))
    (0 until 5).foreach { i =>
      val ts = tokens.apply(Gen.Parameters.default, Seed(42L + i)).get
      val results = Seq(1, 2, 5, 13).map { n =>
        val out = runOn(ts.map(t => (t, 1)), wcReduce, n)
        assert(out.rdd.getNumPartitions == n, s"reduce tasks at nReduce = $n")
        out.collect().toMap
      }
      assert(results.forall(_ == results.head))
      assert(results.head.values.sum == ts.size)
    }
  }

  test("MRJob on a single file; holistic reduce sees all values in one call") {
    import spark.implicits._
    val job = MRJob[String, Int, Int](
      (_, c) => "[A-Za-z]+".r.findAllIn(c).map(w => (w, 1)).toSeq,
      (k, vs) => vs.size,  // returns the number of values seen in THIS call
      nReduce = 2)
    val single = getClass.getResource("/mr/split-1.txt").getPath
    val out = job.run(spark, single).collect().toMap
    // every count equals the total occurrences -> reduce saw all values at once
    assert(out == Map("Hello" -> 1, "my" -> 1, "name" -> 2, "is" -> 1,
      "Sue" -> 1, "your" -> 1))
  }

  /** Holistic reduce that shows every value it was handed, in one call. */
  private def seen[K]: (K, Iterator[String]) => String = (_, vs) => vs.toSeq.sorted.mkString(",")

  /** The same reduce through `Dataset.groupByKey`: the reference. */
  private def byGroupByKey[K](kvs: Dataset[(K, String)])(implicit
      kEnc: Encoder[K], outEnc: Encoder[(K, String)]): Dataset[(K, String)] = {
    val reduce = seen[K]
    kvs.groupByKey(_._1).mapGroups((k, it) => (k, reduce(k, it.map(_._2))))
  }

  private def sameAsGroupByKey[K](pairs: Seq[(K, String)])(implicit
      kEnc: Encoder[K], kvEnc: Encoder[(K, String)]): Unit = {
    val got = runOn(pairs, seen[K]).collect()
    val want = byGroupByKey(spark.createDataset(pairs)).collect()
    assert(got.length == want.length, "one row per key")
    assert(got.toSet == want.toSet)
  }

  test("run groups Int, tuple, case-class and null String keys like groupByKey") {
    import spark.implicits._
    sameAsGroupByKey(Seq(1 -> "a", 2 -> "b", 1 -> "c", -1 -> "d", 1 -> "e"))
    sameAsGroupByKey(Seq(("x", 1) -> "a", ("x", 2) -> "b", ("x", 1) -> "c",
      ("y", 1) -> "d", ((null: String), 1) -> "e", ((null: String), 1) -> "f"))
    sameAsGroupByKey(Seq(WordAt("x", 1) -> "a", WordAt("x", 2) -> "b",
      WordAt("x", 1) -> "c", WordAt(null, 0) -> "d", WordAt(null, 0) -> "e"))
    sameAsGroupByKey(Seq("a" -> "1", (null: String) -> "2", "" -> "3",
      (null: String) -> "4", "a" -> "5"))
  }

  test("run groups Seq and Option keys like groupByKey") {
    import spark.implicits._
    sameAsGroupByKey(Seq(Seq(1, 2) -> "a", Seq(2, 1) -> "b", Seq(1, 2) -> "c",
      Seq.empty[Int] -> "d"))
    sameAsGroupByKey(Seq(Option("x") -> "a", Option.empty[String] -> "b",
      Option("x") -> "c", Option.empty[String] -> "d"))
  }

  test("a whole-null struct key fails the job instead of merging with an all-null key") {
    import spark.implicits._
    val allNull = ((null: String), (null: String))
    // fields all null: an ordinary key, grouped like groupByKey groups it
    sameAsGroupByKey(Seq(allNull -> "a", allNull -> "b", ("x", null: String) -> "c"))
    // the key itself null: groupByKey cannot encode it and fails; so
    // must run, where the grouping fields alone would read it as
    // (null, null) and merge it into that group
    val withNull = Seq(allNull -> "a", (null: (String, String)) -> "b")
    val ref = intercept[Exception](byGroupByKey(withNull.toDS()).collect())
    assert(ref.getMessage.contains("NOT_NULL_ASSERT_VIOLATION"), ref.getMessage)
    val err = intercept[Exception](runOn(withNull, seen[(String, String)]).collect())
    assert(err.getMessage.contains("struct-shaped key must not be null"), err.getMessage)
  }

  test("run over more files than cores: every core maps and no AppendColumns is planned") {
    import spark.implicits._
    val cores = spark.sparkContext.defaultParallelism
    val nFiles = 2 * cores
    val dir = java.nio.file.Files.createTempDirectory("mrwide")
    // equal-size files in a multiple of the core count pack into one
    // split per core; other globs can give fewer (see MRJob.run)
    (0 until nFiles).foreach { i =>
      java.nio.file.Files.writeString(dir.resolve(f"in-$i%02d.txt"),
        (0 until 50).map(j => ('a' + (i * 7 + j) % 13).toChar).mkString(" ") + "\n")
    }
    val out = MRJob(wcMap, wcReduce, nReduce = 2).run(spark, s"$dir/*.txt")
    val plan = out.queryExecution.optimizedPlan
    // groupByKey plans AppendColumns, which the optimizer may fold into
    // AppendColumnsWithObject
    val appends = plan.collect {
      case a: AppendColumns => a
      case a: AppendColumnsWithObject => a
    }
    assert(appends.isEmpty, plan.toString)
    // the map tasks are the partitions of the shuffle's parent RDD
    val mapTasks = shuffles(out).map(_.rdd.getNumPartitions)
    assert(mapTasks.size == 1 && mapTasks.head >= math.min(nFiles, cores),
      s"map tasks $mapTasks for $cores cores")
    val got = out.collect().toMap
    assert(got.size == 13 && got.values.sum == 50 * nFiles)
  }

  private object plans extends AdaptiveSparkPlanHelper

  private lazy val counters = QueryCounters.attach(spark)

  /** The counters of what `body` runs. The listener bus is
    * asynchronous, so settle before the reset and after the body
    * (QueryCounters' own rule). */
  private def countersOf(body: => Unit): QueryCounters.Counters = {
    counters
    Thread.sleep(2000)
    counters.reset()
    body
    Thread.sleep(2000)
    counters
  }

  private def stagesOf(body: => Unit): Long = countersOf(body).stages.get

  test("one exchange at nReduce: each reduce task writes its own file") {
    import spark.implicits._
    // the one exchange is the reduce's RDD shuffle: the SQL plan adds none
    val exchanges = (ds: Dataset[_]) => {
      ds.collect()
      val sql = plans.collect(ds.queryExecution.executedPlan) { case e: ShuffleExchangeExec => e }
      assert(sql.isEmpty, ds.queryExecution.executedPlan.toString)
      shuffles(ds).map(_.partitioner.numPartitions)
    }
    val job = MRJob(wcMap, wcReduce, nReduce = 3)
    val flat = exchanges(job.run(spark, fixtureGlob))
    assert(flat == Seq(3), "String key")
    val pairs = Seq(WordAt("x", 1) -> 1, WordAt("y", 2) -> 1, WordAt("x", 1) -> 1)
    val struct = exchanges(runOn(pairs, (_: WordAt, vs: Iterator[Int]) => vs.sum, nReduce = 3))
    assert(struct == Seq(3), "WordAt key")

    val dir = java.nio.file.Files.createTempDirectory("mrinplace").toString
    // map stage, then the reduce tasks write: no stage re-places them
    assert(stagesOf(job.writeTextOutput(job.run(spark, fixtureGlob), dir)) == 2)
    // reduced at 2, written at 3: one more exchange re-places the rows
    val other = MRJob(wcMap, wcReduce, nReduce = 2).run(spark, fixtureGlob)
    assert(stagesOf(job.writeTextOutput(other, dir)) == 3)
  }

  test("a transformed run output is re-placed: nReduce files, key-sorted, no key in two") {
    import spark.implicits._
    val n = 3
    val job = MRJob(wcMap, wcReduce, nReduce = n)
    val out = job.run(spark, fixtureGlob)
    // merge a key into one placed in another reduce partition, taking
    // it from a partition that keeps another key, so no file empties
    val byPart = out.rdd.mapPartitionsWithIndex((p, kvs) => kvs.map(kv => (kv._1, p)))
      .collect().groupBy(_._2).map { case (p, ks) => p -> ks.map(_._1).sorted.toSeq }
    assert(byPart.size == n, s"every partition holds a key: $byPart")
    val (from, fromPart) = byPart.collectFirst { case (p, ks) if ks.size > 1 => (ks.head, p) }.get
    val into = byPart.collectFirst { case (p, ks) if p != fromPart => ks.head }.get
    val merged = out.map { case (k, v) => (if (k == from) into else k, v) }
    val dir = java.nio.file.Files.createTempDirectory("mrreplaced").toString
    job.writeTextOutput(merged, dir)
    val perFile = keysPerFile(dir)
    assert(perFile.size == n)
    perFile.foreach(keys => assert(keys == keys.sorted, s"unsorted file: $keys"))
    val owners = perFile.zipWithIndex.flatMap { case (ks, i) => ks.distinct.map(_ -> i) }
      .groupBy(_._1)
    assert(owners.forall(_._2.size == 1), s"$into written by two reduce tasks: $perFile")
    assert(perFile.flatten.sorted == out.collect().map(_._1).map(k =>
      if (k == from) into else k).sorted.toSeq)
  }

  test("a reduce task that crashes on its first attempt is retried: the files match a fault-free run") {
    import spark.implicits._
    val n = 3
    val job = MRJob(wcMap, wcReduce, nReduce = n)
    val sum = wcReduce
    val crashing = MRJob[String, Int, Int](wcMap, (k, vs) => {
      val tc = TaskContext.get
      if (tc.partitionId == 0 && tc.attemptNumber == 0) {
        MRJobSpec.reduceCrashes.incrementAndGet()
        throw new IllegalStateException(s"injected reduce crash at $k")
      }
      sum(k, vs)
    }, nReduce = n)
    val want = java.nio.file.Files.createTempDirectory("mrclean").toString
    job.writeTextOutput(job.run(spark, fixtureGlob), want)
    val got = java.nio.file.Files.createTempDirectory("mrcrash").toString
    MRJobSpec.reduceCrashes.set(0)
    crashing.writeTextOutput(crashing.run(spark, fixtureGlob), got)
    assert(MRJobSpec.reduceCrashes.get > 0, "reduce partition 0 never crashed")
    assert(linesPerFile(got) == linesPerFile(want))
    val perFile = keysPerFile(got)
    assert(perFile.size == n)
    perFile.foreach(keys => assert(keys == keys.sorted, s"unsorted file: $keys"))
    assert(perFile.flatten.distinct.size == perFile.flatten.size, s"a key in two files: $perFile")
  }

  test("run refuses Double, Array[Byte], Double-field and Map keys before any job runs") {
    import spark.implicits._
    def refusal[K](pairs: Seq[(K, Int)])(implicit
        kEnc: Encoder[K], kvEnc: Encoder[(K, Int)]): String =
      intercept[IllegalArgumentException] {
        runOn(pairs, (_: K, vs: Iterator[Int]) => vs.sum)
      }.getMessage
    var msgs = Seq.empty[String]
    val jobs = countersOf {
      msgs = Seq(refusal(Seq(0.5 -> 1, -0.0 -> 1)),
        refusal(Seq(Array[Byte](1) -> 1)),
        refusal(Seq(Scored("x", 0.5) -> 1)),
        // groupByKey keeps these two apart, Map equals would merge them
        refusal(Seq(Map("a" -> 1, "b" -> 2) -> 1, Map("b" -> 2, "a" -> 1) -> 1)))
    }.jobs.get
    val Seq(double, bytes, scored, map) = msgs
    assert(double.contains("key type double holds double"), double)
    assert(bytes.contains("key type byte[] holds byte[]"), bytes)
    assert(scored.contains(s"key type ${classOf[Scored].getName} holds double"), scored)
    assert(map.contains("holds scala.collection.immutable.Map"), map)
    assert(jobs == 0, s"$jobs jobs ran before the refusal")
  }

  test("writeTextOutput refuses a regular file and leaves its bytes unchanged") {
    import spark.implicits._
    val job = MRJob(wcMap, wcReduce, nReduce = 2)
    val file = java.nio.file.Files.createTempFile("mrfile", ".txt")
    val bytes = "not an output dir\n".getBytes("UTF-8")
    java.nio.file.Files.write(file, bytes)
    val err = intercept[IllegalArgumentException] {
      job.writeTextOutput(job.run(spark, fixtureGlob), file.toString)
    }
    assert(err.getMessage.contains(file.toString))
    assert(java.nio.file.Files.isRegularFile(file))
    assert(java.nio.file.Files.readAllBytes(file).sameElements(bytes))
  }

  test("KVText.readKV: line without a tab yields empty value") {
    val dir = java.nio.file.Files.createTempDirectory("kvnotab").toString
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/data.txt"),
      "plainkey\nk2\tv2\n   \n")
    val got = KVText.readKV(spark, s"$dir/data.txt")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    // blank line skipped (worker.go:144-146); tab-less line -> ("plainkey","")
    assert(got == Set(("plainkey", ""), ("k2", "v2")))
  }

  test("KVText round trip with FNV-1a bucket placement") {
    import spark.implicits._
    val df = Seq(("k1", "v1"), ("k2", "v\twith\ttabs"), ("k3", "v3"))
      .toDF("key", "value")
    val dir = java.nio.file.Files.createTempDirectory("kvtext").toString
    KVText.writeBucketed(df, dir, nBuckets = 4)
    val back = KVText.readKV(spark, s"$dir/bucket=*")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(back == Set(("k1", "v1"), ("k2", "v\twith\ttabs"), ("k3", "v3")))
    // placement fidelity: bucket dir == fnv1a(key) % 4 (worker.go:35-41)
    def fnv(s: String): Int = {
      var h = 0x811c9dc5
      s.getBytes("UTF-8").foreach { b => h ^= (b & 0xff); h *= 0x01000193 }
      h & 0x7fffffff
    }
    val buckets = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("bucket=")).map(_.getName)
    Seq("k1", "k2", "k3").foreach { k =>
      assert(buckets.contains(s"bucket=${fnv(k) % 4}"))
    }
  }
}
