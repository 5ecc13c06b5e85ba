package mrbench

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.{SparkEntry, Tables}
import graft.jobs.CanonicalJobs
import graft.llm.TextAnalysis
import graft.operators.MRJob

/** One operation of a pass: `build` is the call into the engine's
  * builder (eager stagings run there), `execute` forces the result.
  * `output` marks an execute that writes files rather than the noop sink.
  */
final case class Op(name: String, build: () => Dataset[_], execute: Dataset[_] => Unit,
    output: Boolean = false)

final case class Check(op: String, ok: Boolean, detail: String)

/** A workload: the ops of one pass, one-time renders, the output checks
  * (each op run once more to a real output, outside the timed passes) and
  * the layer probes (timed single calls into one module).
  */
trait Workload {
  def ops: Seq[Op]
  def prepare(): Unit = ()
  def check(): Seq[Check]
  def probes: Seq[(String, () => Unit)]
}

object Workloads {
  def noop(ds: Dataset[_]): Unit = ds.write.mode("overwrite").format("noop").save()

  def apply(name: String, spark: SparkSession, o: Main.Opts): Workload = name match {
    case "mr_combine"    => new Combine(spark, o.data)
    case "mr_holistic"   => new Holistic(spark, o.data, o.work + "/out")
    case "registry_core" => new Registry(spark, o.data, o.queries, o.work + "/check", o.record)
    case other           => throw new IllegalArgumentException(s"unknown workload $other")
  }

  private def expected(spark: SparkSession, dataDir: String): DataFrame =
    spark.read.parquet(s"$dataDir/expected.parquet")

  private def tokensProbe(spark: SparkSession, dir: String): () => Unit =
    () => noop(Tables.documents(spark, dir).select(TextAnalysis.tokensCol.as("t")))

  /** The canonical jobs over the generated `documents.parquet`: scan and
    * the `functions/` kernels carry the work, the combiner shrinks the
    * exchange.
    */
  final class Combine(spark: SparkSession, dataDir: String) extends Workload {
    val ops = Seq(
      Op("mr_wordcount", () => CanonicalJobs.wordcount(spark, dataDir), noop),
      Op("mr_inverted_index", () => CanonicalJobs.invertedIndex(spark, dataDir), noop),
      Op("mr_sql_mapf", () => CanonicalJobs.sqlWordcount(spark, dataDir), noop),
      Op("mr_sort", () => CanonicalJobs.sortDocs(spark, dataDir), noop))

    def probes = Seq(
      "scan" -> (() => noop(Tables.documents(spark, dataDir))),
      "tokens" -> tokensProbe(spark, dataDir))

    private def mismatches(got: DataFrame, exp: DataFrame, cols: String*): Long =
      got.join(exp, Seq("word"), "full_outer")
        .filter(not(cols.map(c => col(c) <=> col("e_" + c)).reduce(_ && _)))
        .count()

    def check(): Seq[Check] = {
      val exp = expected(spark, dataDir).select(col("word"), col("cnt").as("e_cnt"),
        col("n_docs").as("e_n_docs"), col("doc_sum").as("e_doc_sum"), lit(true).as("e_sorted"))
      val docs = Tables.documents(spark, dataDir).count()

      val wc = mismatches(CanonicalJobs.wordcount(spark, dataDir), exp, "cnt")

      val ids = transform(split(col("doc_ids"), ","), _.cast("long"))
      val inv = mismatches(CanonicalJobs.invertedIndex(spark, dataDir)
        .select(col("word"), col("n_docs"), aggregate(ids, lit(0L), _ + _).as("doc_sum"),
          (array_sort(ids) === ids).as("sorted")), exp, "n_docs", "doc_sum", "sorted")

      // one (doc, word) row per document holding the word: the rows per
      // word are its document count, their counts sum to its total
      val mapf = mismatches(CanonicalJobs.sqlWordcount(spark, dataDir).groupBy("word")
        .agg(sum("cnt").as("cnt"), count(lit(1)).as("n_docs")), exp, "cnt", "n_docs")

      val sorted = CanonicalJobs.sortDocs(spark, dataDir).collect()
        .map(r => (r.getString(1), r.getLong(2), r.getLong(0)))
      val inOrder = sorted.toSeq.sliding(2).forall {
        case Seq(a, b) => a._1 < b._1 || (a._1 == b._1 &&
          (a._2 > b._2 || (a._2 == b._2 && a._3 < b._3)))
        case _ => true
      }
      val allDocs = sorted.map(_._3).sorted.sameElements(0L until docs)
      Seq(
        Check("mr_wordcount", wc == 0, s"$wc words differ from the generator's counts"),
        Check("mr_inverted_index", inv == 0, s"$inv words differ or have unsorted ids"),
        Check("mr_sql_mapf", mapf == 0, s"$mapf words differ"),
        Check("mr_sort", inOrder && allDocs, s"in order: $inOrder, every doc once: $allDocs"))
    }
  }

  /** Word count for the holistic path: the map emits every token. */
  val holisticJob: MRJob[String, Int, Int] = MRJob[String, Int, Int](
    (_: String, contents: String) => contents.split("\\s+").iterator.filter(_.nonEmpty).map(w => (w, 1)),
    (_: String, vs: Iterator[Int]) => vs.sum,
    nReduce = 8)

  /** The 6.824 flow: text files in, every pair through the exchange,
    * sort-grouped, reduced holistically and written as nReduce files.
    */
  final class Holistic(spark: SparkSession, dataDir: String, outDir: String) extends Workload {
    import spark.implicits._
    private val glob = s"$dataDir/text/*.txt"

    val ops = Seq(Op("mr_holistic_wordcount", () => holisticJob.run(spark, glob),
      ds => holisticJob.writeTextOutput(ds.asInstanceOf[Dataset[(String, Int)]], outDir),
      output = true))

    def probes = Seq("scan" -> (() => { spark.sparkContext.wholeTextFiles(glob).count(); () }))

    def check(): Seq[Check] = {
      holisticJob.writeTextOutput(holisticJob.run(spark, glob), outDir)
      val exp = expected(spark, dataDir).select("word", "cnt").as[(String, Long)]
        .collect().toMap
      val files = new java.io.File(outDir).listFiles()
        .filter(f => f.getName.startsWith("part-")).sortBy(_.getName).toSeq
      val seen = scala.collection.mutable.HashSet.empty[String]
      var unsorted, overlap, wrong = 0L
      files.foreach { f =>
        var prev: String = null
        val src = scala.io.Source.fromFile(f, "UTF-8")
        try src.getLines().foreach { line =>
          val sp = line.lastIndexOf(' ')
          val (k, v) = (line.substring(0, sp), line.substring(sp + 1).toLong)
          if (prev != null && prev >= k) unsorted += 1
          if (!seen.add(k)) overlap += 1
          if (!exp.get(k).contains(v)) wrong += 1
          prev = k
        } finally src.close()
      }
      val missing = exp.size - seen.size
      Seq(Check("mr_holistic_wordcount",
        files.nonEmpty && files.size <= holisticJob.nReduce &&
          unsorted == 0 && overlap == 0 && wrong == 0 && missing == 0,
        s"${files.size} files; $unsorted out of order, $overlap keys in two files, " +
          s"$wrong wrong counts, $missing keys missing"))
    }
  }

  /** Registered queries over the read-only sf0.1 tables, through noop.
    * The check writes each result as parquet; the row counts and content
    * hashes are compared outside the JVM.
    */
  final class Registry(spark: SparkSession, sfDir: String, names: Seq[String],
      checkDir: String, record: Boolean) extends Workload {
    private val all = SparkEntry.queries
    val ops = names.map(n => Op(n, () => all(n)(spark, sfDir), noop))

    override def prepare(): Unit =
      SparkEntry.setups.toSeq.sortBy(_._1).filter(s => names.contains(s._1))
        .foreach { case (_, fn) => fn(spark, sfDir) }

    def probes = Seq(
      "scan" -> (() => noop(Tables.lineitem(spark, sfDir))),
      "tokens" -> tokensProbe(spark, sfDir))

    def check(): Seq[Check] = {
      val out = names.map { n =>
        try { all(n)(spark, sfDir).write.mode("overwrite").parquet(s"$checkDir/$n"); Check(n, true, "written") }
        catch { case e: Throwable => Check(n, false, s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)) }
      }
      if (record) {
        // inputs for tools/check.py, so a recorded hash rests on a DuckDB match
        def put(f: String, s: String): Unit =
          java.nio.file.Files.write(java.nio.file.Paths.get(s"$checkDir/$f"), s.getBytes("UTF-8"))
        put("queries.json", names.map(Json.str).mkString("[", ",", "]"))
        put("oracle_sql.json", Json.obj(SparkEntry.oracleSql.toSeq
          .filter(kv => names.contains(kv._1)).map { case (k, v) => k -> Json.str(v) }))
      }
      out
    }
  }
}
