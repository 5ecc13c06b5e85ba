package mrbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark; `run.py` is the entry point.
  *
  * One process runs one workload: the set-up (session, renders, one pass
  * whose outputs are checked, one warm pass), then timed passes until
  * `--seconds` have elapsed. Everything it measures goes to
  * `<work>/result.json`; with `--trace 1` the spans go to
  * `<work>/spans.jsonl`. Traced runs alternate untraced and traced passes
  * (the SparkListener is attached only around traced ones), so the run
  * measures its own tracing overhead.
  */
object Main {
  final case class Opts(workload: String = "", work: String = "", data: String = "",
      seconds: Double = 10, trace: Boolean = false, cpus: Int = 4,
      queries: Seq[String] = Nil, record: Boolean = false)

  def parse(args: List[String], o: Opts = Opts()): Opts = args match {
    case "--workload" :: v :: t => parse(t, o.copy(workload = v))
    case "--work" :: v :: t     => parse(t, o.copy(work = v))
    case "--data" :: v :: t     => parse(t, o.copy(data = v))
    case "--seconds" :: v :: t  => parse(t, o.copy(seconds = v.toDouble))
    case "--trace" :: v :: t    => parse(t, o.copy(trace = v == "1"))
    case "--cpus" :: v :: t     => parse(t, o.copy(cpus = v.toInt))
    case "--queries" :: v :: t  => parse(t, o.copy(queries = v.split(',').toSeq))
    case "--record" :: t        => parse(t, o.copy(record = true))
    case Nil                    => o
    case other                  => throw new IllegalArgumentException(s"bad arguments: $other")
  }

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def main(args: Array[String]): Unit = {
    val o = parse(args.toList)
    val heap = new HeapWatch
    val spark = SparkSession.builder()
      .master(s"local[${o.cpus}]")
      .appName(s"mrbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", o.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // every cache the engine keeps on disk lives in this run's directory
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.graft.plugin.corpusDir", s"${o.work}/corpus")
      .getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("WARN")
    val sessionMs = System.currentTimeMillis()

    val wl = Workloads(o.workload, spark, o)
    val tracer = new Tracer(sc)
    val recorder = new Recorder(tracer)
    var attempted = 0
    var failed = 0
    val errors = ArrayBuffer.empty[String]
    def fail(what: String, e: Throwable): Unit = {
      failed += 1
      errors += s"$what: ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}".take(400)
      System.err.println(s"[mrbench] $what failed: $e")
    }

    /** Run `body` with the listener attached and benchmark spans on. */
    def traced[T](on: Boolean)(body: => T): T =
      if (!on) body
      else {
        tracer.enabled = true
        sc.addSparkListener(recorder)
        try body
        finally {
          org.apache.spark.mrbench.BusDrain(sc)
          sc.removeSparkListener(recorder)
          tracer.enabled = false
        }
      }

    def runOp(op: Op): Unit = {
      attempted += 1
      try tracer.span("op", op.name) {
        val ds = tracer.span("build", op.name)(op.build())
        tracer.span("plan", op.name)(ds.queryExecution.executedPlan)
        tracer.span(if (op.output) "output" else "execute", op.name)(op.execute(ds))
      } catch { case e: Throwable => fail(op.name, e) }
    }

    final case class Pass(traced: Boolean, wallS: Double, cpuS: Double)
    def pass(index: Int, on: Boolean): Pass = traced(on) {
      val cpu0 = os.getProcessCpuTime
      val t0 = System.nanoTime()
      tracer.span("pass", s"pass-$index")(wl.ops.foreach(runOp))
      Pass(on, (System.nanoTime() - t0) / 1e9, (os.getProcessCpuTime - cpu0) / 1e9)
    }

    // set-up: renders, the checked pass, then a warm pass. The checked
    // pass runs every op once more to its real output and compares it
    // with the expected values; a wrong result counts as a failed op.
    try wl.prepare() catch { case e: Throwable => fail("prepare", e) }
    val checkT0 = System.nanoTime()
    val checks =
      try wl.check()
      catch { case e: Throwable => Seq(Check("check", ok = false, s"$e".take(400))) }
    attempted += checks.size
    checks.filterNot(_.ok).foreach { c =>
      failed += 1
      errors += s"${c.op}: wrong output: ${c.detail}"
      System.err.println(s"[mrbench] ${c.op}: wrong output: ${c.detail}")
    }
    val checkS = (System.nanoTime() - checkT0) / 1e9
    pass(0, on = false)

    val firstPassMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val passes = ArrayBuffer.empty[Pass]
    while (passes.size < (if (o.trace) 2 else 1) || (System.nanoTime() - t0) / 1e9 < o.seconds)
      passes += pass(passes.size + 1, o.trace && passes.size % 2 == 1)
    val timedS = (System.nanoTime() - t0) / 1e9

    // layer probes: single timed calls into one module, outside the passes
    if (o.trace) traced(on = true) {
      for ((name, probe) <- wl.probes; _ <- 1 to 3)
        try tracer.span("probe", name)(probe()) catch { case e: Throwable => fail(s"probe $name", e) }
    }
    if (o.trace) {
      tracer.finish(o.workload)
      tracer.write(s"${o.work}/spans.jsonl")
    }
    val result = Json.obj(Seq(
      "workload" -> Json.str(o.workload),
      "jvm_start_ms" -> ManagementFactory.getRuntimeMXBean.getStartTime.toString,
      "session_ms" -> sessionMs.toString,
      "first_pass_ms" -> firstPassMs.toString,
      "timed_s" -> Json.num(timedS),
      "check_s" -> Json.num(checkS),
      "passes" -> passes.map(p => Json.obj(Seq("traced" -> p.traced.toString,
        "wall_s" -> Json.num(p.wallS), "cpu_s" -> Json.num(p.cpuS)))).mkString("[", ",", "]"),
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "errors" -> errors.map(Json.str).mkString("[", ",", "]"),
      "heap_after_gc_peak" -> heap.maxAfterGc.toString))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"${o.work}/result.json"),
      (result + "\n").getBytes("UTF-8"))
    spark.stop()
    sys.exit(0)
  }
}
