package graft.jobs

import graft.operators.{Bucketed, JobLoader}
import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** The runtime-injection flow as a driver-gated query.
  *
  * The reference's users hand the engine a COMPILED artifact — a Go
  * plugin exporting `mapf`/`reducef` (README.MD:82, worker.go:51) —
  * never source linked into the engine. `mr_plugin_wordcount` proves
  * the JVM equivalent end to end inside the correctness gate: a
  * wordcount job written in plain Java against the
  * [[graft.operators.UserJob]] interface is compiled with the JDK
  * compiler into a jar carrying a ServiceLoader manifest (the
  * compile step stands in for "the user shipped a jar"), discovered
  * and executed by [[JobLoader]] over the corpus rendered as text
  * files — and must reproduce `mr_wordcount`'s DuckDB oracle exactly.
  *
  * Jar and corpus renders are cached per JVM / per sfDir; the query
  * is deterministic (token multiset is preserved by the newline
  * join, and wordcount is order-insensitive).
  */
object PluginDemo {

  /** What the user would write and compile — no Scala, no engine
    * internals, just the `UserJob` interface. Tokenization matches
    * `CanonicalJobs.tokens` (whitespace runs per the shared `tokens`
    * rule, no empties, case-preserving per README.MD:31).
    */
  val wordCountJava: String =
    """package graftdemo;
      |import graft.operators.KeyValue;
      |import graft.operators.UserJob;
      |import java.util.ArrayList;
      |import java.util.List;
      |public class WordCount implements UserJob {
      |  public List<KeyValue> mapf(String filename, String contents) {
      |    List<KeyValue> out = new ArrayList<>();
      |    for (String w : contents.split("\\s+"))
      |      if (!w.isEmpty()) out.add(new KeyValue(w, "1"));
      |    return out;
      |  }
      |  public String reducef(String key, List<String> values) {
      |    long n = 0;
      |    for (String v : values) n += Long.parseLong(v);
      |    return Long.toString(n);
      |  }
      |}
      |""".stripMargin

  val className = "graftdemo.WordCount"

  /** Compile a Java [[graft.operators.UserJob]] source with the JDK
    * compiler and package it into a ServiceLoader-manifested jar —
    * the "user ships a compiled artifact" step, reusable by specs
    * that need a DIFFERENT user job (e.g. the crash-injecting one).
    * Includes every class file javac emits (inner classes too).
    */
  def buildJar(javaSource: String, fqcn: String): String = {
    val work = Files.createTempDirectory("graft-plugin")
    val pkgPath = fqcn.split('.').dropRight(1).mkString("/")
    val simpleName = fqcn.split('.').last
    val srcFile = Files.createDirectories(work.resolve(pkgPath))
      .resolve(simpleName + ".java")
    Files.writeString(srcFile, javaSource)
    val classesDir = Files.createDirectories(work.resolve("classes"))
    val javac = javax.tools.ToolProvider.getSystemJavaCompiler
    require(javac != null, "JDK compiler unavailable")
    val rc = javac.run(null, null, null,
      "-classpath", System.getProperty("java.class.path"),
      "-d", classesDir.toString, srcFile.toString)
    require(rc == 0, s"javac failed for user job $fqcn")
    val jar = work.resolve(simpleName.toLowerCase + "-job.jar")
    val out = new java.util.jar.JarOutputStream(Files.newOutputStream(jar))
    try {
      val classFiles = Files.walk(classesDir)
      try classFiles.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".class"))
        .foreach { p =>
          out.putNextEntry(new java.util.jar.JarEntry(
            classesDir.relativize(p).toString.replace('\\', '/')))
          out.write(Files.readAllBytes(p))
          out.closeEntry()
        }
      finally classFiles.close()
      out.putNextEntry(
        new java.util.jar.JarEntry("META-INF/services/graft.operators.UserJob"))
      out.write((fqcn + "\n").getBytes("UTF-8"))
      out.closeEntry()
    } finally out.close()
    jar.toString
  }

  /** Compile [[wordCountJava]] and package the service-manifested jar
    * (once per JVM). */
  lazy val jarPath: String = buildJar(wordCountJava, className)

  private val corpusCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Target split size for the corpus render — the reference's own
    * split-size design point is 16–64 MB per map task (README.MD:58);
    * we take the midpoint.
    */
  val targetSplitBytes: Long = 32L * 1024 * 1024

  /** Base directory for corpus renders. Default is a STABLE
    * driver-local dir under java.io.tmpdir (correct for `local[*]`,
    * where driver and executors share a filesystem) — stable, not a
    * fresh temp dir per JVM, so renders survive across runs and the
    * fingerprint check below can skip them; on a real cluster set
    * `spark.graft.plugin.corpusDir` to SHARED storage (HDFS/S3/NFS)
    * so the distributed `write.text` lands where every executor's
    * subsequent `wholeTextFiles` read can see it. The default is
    * scoped PER USER (user.name in the path): a world-shared fixed
    * /tmp path would let concurrent JVMs from different users race
    * renders — or let another user pre-create the predictable dir and
    * plant corpus text that flows into query results.
    */
  def corpusBaseDir(spark: SparkSession): String =
    spark.conf.getOption("spark.graft.plugin.corpusDir")
      .getOrElse(System.getProperty("java.io.tmpdir").stripSuffix("/") +
        "/graft-plugin-corpus-" + System.getProperty("user.name", "anon"))

  /** The documents table rendered as the reference's map input: text
    * files, one document per line (newline is whitespace, so the
    * token multiset is exactly the table's). The render is fully
    * DISTRIBUTED — `repartition(nSplits).write.text` writes every
    * split from an executor; the driver never holds document text
    * (the only driver-side scalar is the total byte count). Split
    * count scales with corpus BYTES to the reference's 16–64 MB
    * split-size design target (README.MD:58; one file = one map task,
    * coordinator.go:185-198), so map parallelism grows with the
    * corpus instead of capping at a fixed file count.
    */
  def corpusGlob(spark: SparkSession, sfDir: String): String = {
    // cache key includes the configured base so a conf change within
    // one JVM (tests, notebook reconfiguration) re-renders rather
    // than returning a stale location
    val cfgBase = spark.conf.getOption("spark.graft.plugin.corpusDir")
      .getOrElse("")
    corpusCache.computeIfAbsent(cfgBase + "|" + sfDir, { _ =>
      // NULL text must vanish here exactly like the oracle's
      // length(word)>0 filter drops it — rendering null would mint a
      // literal "null" token
      val docs = graft.Tables.documents(spark, sfDir)
        .select(col("text")).filter(col("text").isNotNull)
      // render under a per-sfDir subdir so distinct corpora never
      // collide in a shared corpusDir; all path handling goes through
      // the Hadoop FileSystem API so hdfs://, s3a://, and plain local
      // paths behave identically
      val dirStr = corpusBaseDir(spark).stripSuffix("/") +
        "/corpus-" + Integer.toHexString(sfDir.hashCode)
      val hPath = new org.apache.hadoop.fs.Path(dirStr)
      val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      // durable across JVM runs: a marker records the SOURCE
      // fingerprint (Bucketed.srcFingerprint — a filesystem listing,
      // no data scan); on a match the existing render is reused, so
      // bench sweeps and repeated runs pay the one-time render
      // exactly once per corpus, not once per process
      val want = Bucketed.srcFingerprint(spark, s"$sfDir/documents.parquet")
      Bucketed.reuseOrRender(fs, hPath, "_GRAFT_FINGERPRINT", want) {
        val totalBytes = docs
          .agg(coalesce(sum(octet_length(col("text"))), lit(0L)))
          .head.getLong(0)
        val nSplits = math.max(4,
          ((totalBytes + targetSplitBytes - 1) / targetSplitBytes).toInt)
        docs.repartition(nSplits).write.mode("overwrite").text(dirStr)
        // zero-row corpus: the text sink may emit no part files, and
        // wholeTextFiles rejects a glob matching no files —
        // materialize one empty split (mapf of "" emits nothing — the
        // query then returns an empty frame, as required)
        val anyTxt = fs.listStatus(hPath)
          .exists(_.getPath.getName.endsWith(".txt"))
        if (!anyTxt) {
          val out = fs.create(new org.apache.hadoop.fs.Path(hPath, "split-0.txt"))
          out.close()
        }
      }
      dirStr
    }) + "/*.txt"
  }

  /** Wordcount through the runtime-loaded jar — same oracle as
    * `mr_wordcount`. */
  def pluginWordcount(spark: SparkSession, sfDir: String): DataFrame =
    JobLoader.runDiscovered(spark, jarPath, corpusGlob(spark, sfDir))
      .toDF("word", "cnt_str")
      .select(col("word"), col("cnt_str").cast("long").as("cnt"))
}
