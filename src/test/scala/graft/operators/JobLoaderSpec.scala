package graft.operators

import graft.SparkSpec
import java.nio.file.Files

/** End-to-end proof of the runtime-injection surface: a user job
  * written in plain JAVA (no Scala, no link against anything but the
  * [[UserJob]] interface), compiled at test time with the JDK
  * compiler into a jar with a ServiceLoader manifest, discovered and
  * run by [[JobLoader]] — and its word counts must equal the
  * `mr_wordcount` oracle query over the same corpus. This is the
  * reference's Go-plugin flow (README.MD:82, worker.go:51) done with
  * JVM mechanisms.
  */
class JobLoaderSpec extends SparkSpec {
  import graft.jobs.PluginDemo

  test("a Java jar compiled at run time runs wordcount equal to the mr_wordcount oracle") {
    val jar = PluginDemo.jarPath
    assert(JobLoader.discover(jar) == Seq(PluginDemo.className))
    val got = PluginDemo.pluginWordcount(spark, sf001)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val expected = graft.jobs.CanonicalJobs.wordcount(spark, sf001)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.size == expected.size,
      s"vocab ${got.size} vs oracle ${expected.size}")
    assert(got == expected)
  }

  test("discover on a jar without a service manifest is empty; run fails loudly") {
    // a jar with the class but NO manifest: discovery finds nothing
    val work = Files.createTempDirectory("nomanifest")
    val jarPath = work.resolve("bare.jar")
    val out = new java.util.jar.JarOutputStream(Files.newOutputStream(jarPath))
    out.close()
    assert(JobLoader.discover(jarPath.toString).isEmpty)
    intercept[IllegalArgumentException] {
      JobLoader.runDiscovered(spark, jarPath.toString, "/tmp/none/*.txt")
    }
  }

  test("runtime-loaded job feeds writeTextOutput: nReduce files, key-sorted 'key value' lines") {
    // closes the reference loop for the plugin path END TO END: not
    // just the result multiset but the mr-out-Y file shape
    // (README.MD:43-53, worker.go:167) from a runtime-loaded jar
    val result = JobLoader.runDiscovered(spark, PluginDemo.jarPath,
      PluginDemo.corpusGlob(spark, sf001))
    val sink = MRJob[String, String, String](
      (_, _) => Nil, (_, _) => "", nReduce = 4)
    val dir = Files.createTempDirectory("pluginout").toString
    sink.writeTextOutput(result, dir)
    val parts = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("part-")).sortBy(_.getName)
    assert(parts.length == 4, s"expected nReduce=4 files, got ${parts.length}")
    val perFile = parts.map { f =>
      scala.io.Source.fromFile(f).getLines().map { line =>
        val Array(k, v) = line.split(" ", 2) // "key value" (worker.go:167)
        (k, v.toLong)
      }.toSeq
    }
    perFile.foreach { kvs =>
      assert(kvs.map(_._1) == kvs.map(_._1).sorted,
        "keys must be sorted within each output file")
    }
    val expected = graft.jobs.CanonicalJobs.wordcount(spark, sf001)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perFile.flatten.toMap == expected,
      "the text-sink multiset must equal the wordcount oracle")
    assert(perFile.map(_.size).sum == expected.size, "no key appears twice")
  }

  test("a user job that crashes on its first mapf call retries to the exact oracle result") {
    // the 6.824 crash test carried to the runtime-injection surface:
    // a FOREIGN-classloader job dies mid-map; local[4, 2] task retry
    // must land on the exact wordcount result. The crash gate is an
    // atomic marker-file create, not static state — classloader
    // duplication (task loader vs fallback loader) can't re-arm it.
    val marker = Files.createTempDirectory("plugincrash")
      .resolve("crashed.marker").toString
    val crashyJava =
      s"""package graftdemo;
         |import graft.operators.KeyValue;
         |import graft.operators.UserJob;
         |import java.util.ArrayList;
         |import java.util.List;
         |public class CrashyWordCount implements UserJob {
         |  public List<KeyValue> mapf(String filename, String contents) {
         |    boolean first;
         |    try { first = new java.io.File("$marker").createNewFile(); }
         |    catch (Exception e) { first = false; }
         |    if (first)
         |      throw new RuntimeException("injected plugin crash (first attempt)");
         |    List<KeyValue> out = new ArrayList<>();
         |    for (String w : contents.split("\\\\s+"))
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
    val jar = PluginDemo.buildJar(crashyJava, "graftdemo.CrashyWordCount")
    val got = JobLoader.run(spark, jar, "graftdemo.CrashyWordCount",
        PluginDemo.corpusGlob(spark, sf001))
      .collect().map { case (w, n) => (w, n.toLong) }.toMap
    assert(new java.io.File(marker).exists(),
      "the injected crash must have actually fired")
    val expected = graft.jobs.CanonicalJobs.wordcount(spark, sf001)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == expected,
      "retried plugin job must reproduce the exact wordcount oracle")
  }

  test("spark.graft.plugin.corpusDir redirects the render to the configured (shared) dir") {
    // a cluster deployment points the render at shared storage; the
    // distributed write must land under it and the query stay exact
    val shared = Files.createTempDirectory("graft-shared-corpus").toString
    try {
      spark.conf.set("spark.graft.plugin.corpusDir", shared)
      val glob = PluginDemo.corpusGlob(spark, sf001)
      assert(glob.startsWith(shared),
        s"render must land under the configured dir: $glob")
      val txts = new java.io.File(glob.stripSuffix("/*.txt")).listFiles()
        .filter(_.getName.endsWith(".txt"))
      assert(txts.nonEmpty, "configured render produced no splits")
      val got = PluginDemo.pluginWordcount(spark, sf001)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val expected = graft.jobs.CanonicalJobs.wordcount(spark, sf001)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got == expected)
    } finally spark.conf.unset("spark.graft.plugin.corpusDir")
  }

  test("a jar rebuilt at the same path gets a fresh loader: the second run sees v2") {
    // iterative plugin development in one session: the user rebuilds
    // the jar in place and reruns. JarId (path, size, mtime) must key
    // a NEW loader, so v2's reducef runs, not v1's cached classes
    def versioned(tag: String) =
      s"""package graftdemo;
         |import graft.operators.KeyValue;
         |import graft.operators.UserJob;
         |import java.util.ArrayList;
         |import java.util.List;
         |public class Rebuilt implements UserJob {
         |  public List<KeyValue> mapf(String filename, String contents) {
         |    List<KeyValue> out = new ArrayList<>();
         |    for (String w : contents.split("\\\\s+"))
         |      if (!w.isEmpty()) out.add(new KeyValue(w, "1"));
         |    return out;
         |  }
         |  public String reducef(String key, List<String> values) {
         |    return "$tag:" + values.size();
         |  }
         |}
         |""".stripMargin
    val fixed = Files.createTempDirectory("plugin-rebuild").resolve("rebuilt-job.jar")
    val glob = PluginDemo.corpusGlob(spark, sf001)
    def install(tag: String): Unit = Files.copy(
      java.nio.file.Paths.get(PluginDemo.buildJar(versioned(tag), "graftdemo.Rebuilt")),
      fixed, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    def runFixed(): Map[String, String] =
      JobLoader.run(spark, fixed.toString, "graftdemo.Rebuilt", glob).collect().toMap
    install("v1")
    val t1 = Files.getLastModifiedTime(fixed).toMillis
    val v1 = runFixed()
    assert(v1.nonEmpty && v1.values.forall(_.startsWith("v1:")))
    install("version2")
    // a real rebuild lands at a later mtime; pin that here so the
    // test does not hinge on the filesystem's timestamp resolution
    Files.setLastModifiedTime(fixed,
      java.nio.file.attribute.FileTime.fromMillis(t1 + 2000))
    val v2 = runFixed()
    val expected = graft.jobs.CanonicalJobs.wordcount(spark, sf001)
      .collect().map(r => r.getString(0) -> s"version2:${r.getLong(1)}").toMap
    assert(v2 == expected, "the rebuilt jar's reducef must serve the second run")
  }

  test("explicit class name works without discovery and across repeated runs") {
    val jar = PluginDemo.jarPath
    val glob = PluginDemo.corpusGlob(spark, sf001)
    val a = JobLoader.run(spark, jar, PluginDemo.className, glob).collect().toMap
    val b = JobLoader.run(spark, jar, PluginDemo.className, glob).collect().toMap
    assert(a == b)
    assert(a.nonEmpty)
  }
}
