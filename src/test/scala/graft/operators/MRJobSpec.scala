package graft.operators

import graft.SparkSpec
import graft.sources.KVText
import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.catalyst.plans.logical.{AppendColumns, AppendColumnsWithObject}
import org.apache.spark.sql.execution.ExternalRDD
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** A top-level case-class key for the key-shape tests. */
case class WordAt(word: String, line: Int)

/** Golden + property tests for the MRJob surface (SURVEY.md §5:
  * golden multiset compare per README.MD:43-53; ScalaCheck
  * invariants — sum(counts)==tokens, nReduce invariance).
  */
class MRJobSpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  /** README.MD:25-32 map semantics: tokenize on non-letters, emit (word, 1). */
  private val wcMap: (String, String) => Seq[(String, Int)] =
    (_, contents) => "[A-Za-z]+".r.findAllIn(contents).map(w => (w, 1)).toSeq
  private val wcReduce: (String, Iterator[Int]) => Int = (_, vs) => vs.sum

  private def fixtureGlob =
    getClass.getResource("/mr/split-1.txt").getPath.stripSuffix("split-1.txt") + "*.txt"

  test("wordcount golden output (holistic reduce path)") {
    import spark.implicits._
    val job = MRJob(wcMap, wcReduce, nReduce = 2)
    val got = job.run(spark, fixtureGlob).collect().toMap
    val expected = Map(
      "Hello" -> 2, "my" -> 1, "name" -> 3, "is" -> 2,
      "Sue" -> 1, "your" -> 2, "Tom" -> 1)
    assert(got == expected)
  }

  test("associative fast path agrees with holistic path") {
    import spark.implicits._
    val job = MRJob(wcMap, wcReduce, nReduce = 2)
    val f = wcMap  // local copy so the closure doesn't capture the spec
    val files = spark.sparkContext.wholeTextFiles(fixtureGlob)
    val kvs = spark.createDataset(files.flatMap { case (n, c) => f(n, c) })
    val holistic = job.runOnPairs(kvs).collect().toMap
    val assoc = job.runAssociative(kvs, (a: Int, b: Int) => a + b).collect().toMap
    assert(holistic == assoc)
  }

  test("output fidelity sink: nReduce files, keys sorted within each file") {
    import spark.implicits._
    val job = MRJob(wcMap, wcReduce, nReduce = 3)
    val out = job.run(spark, fixtureGlob)
    val dir = java.nio.file.Files.createTempDirectory("mrout").toString
    job.writeTextOutput(out, dir)
    val parts = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("part-")).sortBy(_.getName)
    assert(parts.length == 3)
    val perFile = parts.map { f =>
      scala.io.Source.fromFile(f).getLines().map(_.split(" ")(0)).toSeq
    }
    perFile.foreach(keys => assert(keys == keys.sorted))  // sorted within file
    val all = perFile.flatten.sorted.toSeq
    assert(all == Seq("Hello", "Sue", "Tom", "is", "my", "name", "your"))
  }

  test("property: counts sum to token total; invariant under nReduce") {
    import spark.implicits._
    val tokens = Gen.nonEmptyListOf(Gen.oneOf("a", "b", "c", "spark", "mr"))
    (0 until 5).foreach { i =>
      val ts = tokens.apply(Gen.Parameters.default, Seed(42L + i)).get
      val kvs = spark.createDataset(ts.map(t => (t, 1)))
      val results = Seq(1, 2, 5, 13).map { n =>
        MRJob(wcMap, wcReduce, n).runOnPairs(kvs).collect().toMap
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

  /** The `groupByKey(_._1)` form `runOnPairs` replaced: the reference. */
  private def byGroupByKey[K](kvs: Dataset[(K, String)])(implicit
      kEnc: Encoder[K], outEnc: Encoder[(K, String)]): Dataset[(K, String)] = {
    val reduce = seen[K]
    kvs.groupByKey(_._1).mapGroups((k, it) => (k, reduce(k, it.map(_._2))))
  }

  private def sameAsGroupByKey[K](kvs: Dataset[(K, String)])(implicit
      kEnc: Encoder[K], outEnc: Encoder[(K, String)]): Unit = {
    val got = MRJob[K, String, String]((_, _) => Nil, seen[K]).runOnPairs(kvs).collect()
    val want = byGroupByKey(kvs).collect()
    assert(got.length == want.length, "one row per key")
    assert(got.toSet == want.toSet)
  }

  test("runOnPairs groups Int, tuple, case-class and null String keys like groupByKey") {
    import spark.implicits._
    sameAsGroupByKey(Seq(1 -> "a", 2 -> "b", 1 -> "c", -1 -> "d", 1 -> "e").toDS())
    sameAsGroupByKey(Seq(("x", 1) -> "a", ("x", 2) -> "b", ("x", 1) -> "c",
      ("y", 1) -> "d", ((null: String), 1) -> "e", ((null: String), 1) -> "f").toDS())
    sameAsGroupByKey(Seq(WordAt("x", 1) -> "a", WordAt("x", 2) -> "b",
      WordAt("x", 1) -> "c", WordAt(null, 0) -> "d", WordAt(null, 0) -> "e").toDS())
    sameAsGroupByKey(Seq("a" -> "1", (null: String) -> "2", "" -> "3",
      (null: String) -> "4", "a" -> "5").toDS())
  }

  test("a whole-null struct key fails the job instead of merging with an all-null key") {
    import spark.implicits._
    val allNull = ((null: String), (null: String))
    // fields all null: an ordinary key, grouped like groupByKey groups it
    sameAsGroupByKey(Seq(allNull -> "a", allNull -> "b", ("x", null: String) -> "c").toDS())
    // the key itself null: groupByKey cannot encode it and fails; so
    // must runOnPairs, where the grouping fields alone would read it
    // as (null, null) and merge it into that group
    val withNull = Seq(allNull -> "a", (null: (String, String)) -> "b").toDS()
    val ref = intercept[Exception](byGroupByKey(withNull).collect())
    assert(ref.getMessage.contains("NOT_NULL_ASSERT_VIOLATION"), ref.getMessage)
    val job = MRJob[(String, String), String, String]((_, _) => Nil, seen[(String, String)])
    val err = intercept[Exception](job.runOnPairs(withNull).collect())
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
    val mapTasks = plan.collectFirst { case r: ExternalRDD[_] => r.rdd.getNumPartitions }
    assert(mapTasks.exists(_ >= math.min(nFiles, cores)), s"map tasks $mapTasks for $cores cores")
    val got = out.collect().toMap
    assert(got.size == 13 && got.values.sum == 50 * nFiles)
  }

  test("KVText.readKV: line without a tab yields empty value") {
    import spark.implicits._
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
