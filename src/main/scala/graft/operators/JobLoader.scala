package graft.operators

import org.apache.spark.sql.{Dataset, SparkSession}
import scala.jdk.CollectionConverters._

/** One emitted pair — the reference's `KeyValue` struct (worker.go:31,
  * `type KeyValue struct { Key, Value string }`). Plain strings on
  * both sides, exactly the plugin contract.
  */
case class KeyValue(key: String, value: String)

/** The reference's runtime-injectable job surface. Its workers load
  * `mapf`/`reducef` from a compiled Go plugin at startup
  * (README.MD:82; signatures worker.go:51:
  * `mapf(string, string) []KeyValue`,
  * `reducef(string, []string) string`) — the user ships a compiled
  * artifact, not source linked into the engine. This trait is the
  * JVM equivalent: Java-friendly types (`java.util.List`, no Scala
  * collections in the signatures) so an implementation can be written
  * in Java or Scala and compiled WITHOUT this library's sources, then
  * handed to [[JobLoader]] as a jar path at run time.
  */
trait UserJob extends Serializable {
  /** Called once per input file; may run concurrently with other
    * calls on OTHER instances — each task thread gets its own
    * instance (see [[JobLoader]]), so per-instance mutable state
    * (buffers, reused matchers) is safe, like the reference's
    * one-plugin-per-worker-process model (worker.go:51).
    */
  def mapf(filename: String, contents: String): java.util.List[KeyValue]

  /** Holistic: sees every value of a key in one call. Same
    * per-thread instance guarantee as [[mapf]].
    */
  def reducef(key: String, values: java.util.List[String]): String
}

/** Loads and runs [[UserJob]] implementations from a jar supplied at
  * run time — closing the one reference-surface gap compile-time
  * [[MRJob]] closures leave open.
  *
  * Loading: the task closures capture only the jar's identity (path,
  * size, mtime — stamped once on the driver) and the class name,
  * never the job instance, so nothing from the foreign classloader
  * crosses Java serialization. Every session is a `GraftSession.local`
  * one, so the tasks run in the driver JVM and read the jar at its
  * own path: one `URLClassLoader` per jar version per JVM loads the
  * class, and each task thread keeps its own instance.
  *
  * Execution IS [[MRJob]]: the jar's job runs as an
  * `MRJob[String, String, String]` whose `mapf` and `reducef` call the
  * per-thread instance, so it gets the same full-width map side and
  * hash-grouped holistic reduce (the reference's gather semantics,
  * worker.go:153-169), in `nReduce = 8` reduce tasks. For the
  * reference's text-file output format, feed the returned Dataset to
  * an `MRJob(...).writeTextOutput`: a sink with `nReduce = 8` writes
  * the reduce partitions in place, one file per reduce task; a sink
  * with any other count re-places the rows by one more shuffle.
  */
object JobLoader {

  /** Class names of [[UserJob]] implementations advertised in the
    * jar's `META-INF/services/graft.operators.UserJob` — the JVM's
    * standard plugin-discovery protocol (ServiceLoader), so callers
    * need not know class names a priori.
    */
  def discover(jarPath: String): Seq[String] = {
    val loader = freshLoader(jarPath)
    try java.util.ServiceLoader.load(classOf[UserJob], loader)
      .iterator().asScala.map(_.getClass.getName).toList
    finally loader.close()
  }

  /** Run a named job from the jar over a text-file glob: one
    * `mapf(path, contents)` per file → hash shuffle on key → holistic
    * `reducef` per key. Returns the (key, reduced) set.
    */
  def run(spark: SparkSession, jarPath: String, className: String,
      inputGlob: String): Dataset[(String, String)] = {
    import spark.implicits._
    job(jarPath, className).run(spark, inputGlob)
  }

  /** The jar's job as an [[MRJob]]. The jar is stat'ed here, once per
    * run on the driver; the closures capture that `JarId` and the
    * class name, and each call looks up the calling thread's instance.
    */
  private def job(jar: String, cn: String): MRJob[String, String, String] = {
    val id = jarId(jar)
    MRJob(
      (name: String, contents: String) =>
        instance(id, cn).mapf(name, contents).asScala.map(kv => (kv.key, kv.value)),
      // holistic: the reference buffers a key's values before the
      // single reducef call (worker.go:161-165) — same contract
      (k: String, values: Iterator[String]) => instance(id, cn).reducef(k, values.toList.asJava))
  }

  /** Run the single ServiceLoader-advertised job in the jar. */
  def runDiscovered(spark: SparkSession, jarPath: String,
      inputGlob: String): Dataset[(String, String)] =
    discover(jarPath) match {
      case Seq(one) => run(spark, jarPath, one, inputGlob)
      case Seq() => throw new IllegalArgumentException(
        s"$jarPath advertises no graft.operators.UserJob service")
      case many => throw new IllegalArgumentException(
        s"$jarPath advertises ${many.size} jobs (${many.mkString(", ")}); " +
          "name one explicitly via run()")
    }

  // ---- per-thread instance cache -------------------------------------
  // One instance per (jar, class) per TASK THREAD, not per JVM: task
  // threads run concurrently (and speculation doubles attempts), and
  // a shared instance would race any per-instance state a user job
  // keeps. The classes are still loaded once per JVM (classloaders
  // below); only the instances are thread-local — mirroring the
  // reference, where each worker process owns its plugin instance.

  private val cache = ThreadLocal.withInitial(
    () => collection.mutable.Map.empty[(JarId, String), UserJob])

  // loaders (and instances) key on the jar's identity, not just its
  // path: a jar REBUILT at the same path (iterative plugin dev in one
  // session) gets a fresh loader instead of stale classes served for
  // the JVM lifetime
  private case class JarId(path: String, size: Long, lastModified: Long)

  private def jarId(jarPath: String): JarId = {
    val f = new java.io.File(jarPath)
    JarId(jarPath, f.length(), f.lastModified())
  }

  private val loaders =
    new java.util.concurrent.ConcurrentHashMap[JarId, ClassLoader]()

  private def instance(id: JarId, className: String): UserJob =
    cache.get().getOrElseUpdate((id, className),
      Class.forName(className, true, loaders.computeIfAbsent(id, _ => freshLoader(id.path)))
        .getDeclaredConstructor().newInstance().asInstanceOf[UserJob])

  private def freshLoader(jarPath: String): java.net.URLClassLoader =
    new java.net.URLClassLoader(
      Array(new java.io.File(jarPath).toURI.toURL), classOf[UserJob].getClassLoader)
}
