package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main — one JSON line on stdout (driver contract).
  *
  * Every query materializes through the `noop` sink: unlike `count()`,
  * noop forces full computation of every projected column (count lets
  * Catalyst prune the whole projection away), while writing nothing.
  * One warmup action first so JVM/codegen/parquet-footer warmup isn't
  * billed to the first query.
  *
  * Each query runs SPARK_GRAFT_BENCH_REPS times (default 3) and
  * reports the MIN: single-JVM timings swing ±15-20% on JIT/GC, so a
  * tail-run sample can't distinguish a regression from noise — the
  * per-query minimum is the stable statistic. The total is the sum
  * of per-query minimums.
  */
object Bench {

  /** Liveness confs for multi-hour single-JVM sweeps — BOTH sides of
    * the heartbeat handshake widened together (r13/r14 ADVICE, closed
    * in code): the executor-side kill-switch allows interval ×
    * maxFailures of missed beats, and the driver-side
    * HeartbeatReceiver expiry (spark.network.timeout) must cover at
    * least the stall the widening was FOR (~10 min of hypervisor
    * steal — at the 600 s default the driver expired after 10 misses,
    * exactly the observed stall, killing the sweep via a different
    * path than the one the executor-side widening fixed). In local
    * mode a "lost" executor is the driver's own JVM: liveness
    * detection is pure noise, recovery is impossible, so the only
    * correct behavior on a stall is to WAIT. BenchLivenessSpec pins
    * the handshake invariants; tools/runmain.sh applies the same
    * values to other tool JVMs behind SPARK_GRAFT_LONG_SWEEP=1
    * (short-lived correctness runs keep fast failure detection).
    */
  val LivenessConfs: Map[String, String] = Map(
    "spark.executor.heartbeatInterval" -> "60s",
    "spark.executor.heartbeat.maxFailures" -> "240",
    "spark.network.timeout" -> "3600s")

  /** One query's bench outcome. `error` carries the FIRST failing
    * rep's diagnostic — "ClassName: msg @ topFrame (rep N)". This
    * exists because the r15 driver artifact reported
    * `failed:["q_dedup_cluster_stats"]` and nothing else: the
    * exception went to stderr only, the driver's log tail didn't
    * retain it, and the flake became undiagnosable after the fact
    * (VERDICT r15 item 1). A failure's evidence must live IN the
    * artifact.
    */
  final case class QueryResult(name: String, min: Double, ok: Boolean,
      rep1: Double, error: Option[String])

  /** Compact one-line diagnostic for a failed rep: exception class,
    * first line of the message (bounded — Spark messages can embed
    * whole plans), the topmost stack frame, and which rep died.
    */
  def describeFailure(e: Throwable, rep: Int): String = {
    val cls = e.getClass.getSimpleName
    val msg = Option(e.getMessage).getOrElse("")
      .linesIterator.take(1).mkString.take(300)
    val frame = e.getStackTrace.headOption
      .map(f => s"${f.getClassName}.${f.getMethodName}:${f.getLineNumber}")
      .getOrElse("<no frame>")
    s"$cls: $msg @ $frame (rep $rep)"
  }

  /** Minimal JSON string escaper (quotes, backslashes, control
    * chars) — exception messages are arbitrary text and must not be
    * able to break the artifact's one-line JSON contract.
    */
  def jsonEscape(s: String): String = s.flatMap {
    case '"'           => "\\\""
    case '\\'          => "\\\\"
    case '\n'          => "\\n"
    case '\r'          => "\\r"
    case '\t'          => "\\t"
    case c if c < ' '  => f"\\u${c.toInt}%04x"
    case c             => c.toString
  }

  /** The timed per-query loop, extracted so a spec can force a
    * failing query through it and assert the diagnostic lands in the
    * artifact (it cannot be injected via main — the query set there
    * is SparkEntry's).
    */
  def runQueries(spark: SparkSession, sfDir: String,
      selected: Seq[(String, (SparkSession, String) => DataFrame)],
      reps: Int, force: DataFrame => Unit): Seq[QueryResult] =
    selected.sortBy(_._1).map { case (name, fn) =>
      val times = (1 to reps).map { rep =>
        val t0 = System.nanoTime()
        val outcome =
          try { force(fn(spark, sfDir)); None }
          catch { case e: Throwable =>
            val desc = describeFailure(e, rep)
            System.err.println(s"[bench] $name failed: $desc")
            Some(desc)
          }
        ((System.nanoTime() - t0) / 1e9, outcome)
      }
      // a query that failed in ANY rep is reported failed, not timed;
      // the recorded diagnostic is the first failing rep's
      QueryResult(name, times.map(_._1).min, times.forall(_._2.isEmpty),
        times.head._1, times.flatMap(_._2).headOption)
    }

  /** `"failed":[...]` (the name list the driver parses — shape
    * unchanged since r4) plus `"failed_errors":{name:diagnostic}`.
    */
  def failedFields(results: Seq[QueryResult]): String = {
    val bad = results.filterNot(_.ok)
    val failed = bad.map("\"" + _.name + "\"").mkString("[", ",", "]")
    val errors = bad.map { r =>
      "\"" + r.name + "\":\"" + jsonEscape(r.error.getOrElse("unknown")) + "\""
    }.mkString("{", ",", "}")
    s""""failed":$failed,"failed_errors":$errors"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt.max(1)
    // warehouse OUTSIDE the repo, one directory per scale factor: the
    // bucketed-table renders are fingerprint-cached on disk
    // (Bucketed.write's _GRAFT_SRC marker) so bench reps measure the
    // steady-state Exchange-free join. The default $PWD/spark-warehouse
    // is git-ignored, and a cleaned checkout loses the marker (34.7 s
    // of re-render against 0.88 s steady state). Reuse is keyed on the
    // source fingerprint (path + file count + bytes + max mtime), so
    // regenerated testdata re-renders wherever the warehouse lives. The
    // bucketed table NAMES are fixed, so scale factors sharing one
    // warehouse would thrash each other's render (14.4 s of setup).
    val warehouse = sys.env.getOrElse("SPARK_GRAFT_WAREHOUSE",
      "/tmp/graft_warehouse_" +
        new java.io.File(sfDir).getName.replaceAll("[^A-Za-z0-9._-]", "_"))
    val spark = GraftSession.local(
      confs = LivenessConfs + ("spark.sql.warehouse.dir" -> warehouse))

    def force(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.mode("overwrite").format("noop").save()

    // warmup: JVM, codegen, shuffle machinery, parquet footers —
    // and BOTH control shapes driven to JIT steady state so the PRE
    // control pair below measures the box, not the fresh JVM. One
    // warmup force (the r15 fix) killed the cold-footer term but not
    // C2 tiering: the r15 AND r16 artifacts both show scan_pre ~1.0
    // (q6 executions 2-3) while q6's own timed min (executions 4-6,
    // seconds later in the same JVM) is already ~0.25 — a 5x pre/post
    // "drift" that is tiering, not degradation, and that made the
    // in-band criterion (scan_pre ~ scan_post) unsatisfiable in any
    // fresh JVM at sf0.1. Three forces of each shape put the pre pair
    // past the tiering window; the pre-vs-post drift that REMAINS is
    // box signal. Note the scan control scales with sfDir while the
    // write control is fixed-size: only the write absolute is
    // cross-scale comparable; the scan number is meaningful as
    // pre-vs-post DRIFT within one artifact and as an absolute only
    // per-scale.
    force(SparkEntry.queries("mr_grep")(spark, sfDir))
    def writeProbe(): Unit = {
      import org.apache.spark.sql.functions.{col, xxhash64}
      // xxhash64, not a multiply: ANSI mode (Spark 4 default) throws
      // on long overflow, and a mixing constant × id overflows by
      // design
      force(
        spark.range(0L, 100000000L, 1L, 32)
          .select(col("id"), xxhash64(col("id")).as("h"))
          .repartition(32, col("h")))
    }
    (1 to 3).foreach { _ =>
      force(SparkEntry.queries("q6_forecast_revenue")(spark, sfDir))
    }
    val controlsOnPre = sys.env.getOrElse("SPARK_GRAFT_BENCH_CONTROLS", "1") != "0"
    if (controlsOnPre) (1 to 2).foreach(_ => writeProbe())

    // Box-health controls (VERDICT r13 item 4): a fixed 2-query pair
    // run BEFORE and AFTER the timed set, recorded in the artifact so
    // mover triage can quote the control matching the mover's bound.
    // The r13 degraded-host round proved a scan-bound control alone
    // UNDER-states the box factor for shuffle-write-bound queries
    // (direct-I/O write measured 254 MB/s on a day scan controls read
    // 1.4-2.5×) — so the pair carries one of each:
    //  - scan-bound: q6 on sfDir (the corpus is fixed round-over-
    //    round, continuing the interleaved-q6 methodology);
    //  - write-bound: a FIXED-SIZE synthetic repartition forced
    //    through the shuffle machinery — 100M × 16 B rows ≈ 1.6 GB of
    //    shuffle write+read to local disk, independent of sfDir, so
    //    its healthy-band number is one constant across scales.
    // min-of-2 each; ~20-30 s total; disable with
    // SPARK_GRAFT_BENCH_CONTROLS=0.
    val controlsOn = controlsOnPre
    def minOf2(body: => Unit): Double =
      (1 to 2).map { _ =>
        val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
      }.min
    def controlPair(): (Double, Double) = {
      val scan = minOf2(force(SparkEntry.queries("q6_forecast_revenue")(spark, sfDir)))
      val write = minOf2(writeProbe())
      (scan, write)
    }
    // exception-guarded: a control failure (ENOSPC after a multi-hour
    // sweep, a bad sfDir) must degrade to an absent controls field,
    // never lose the sweep's results — the POST pair in particular
    // runs before the JSON line is built
    def safeControlPair(label: String): Option[(Double, Double)] =
      if (!controlsOn) None
      else
        try Some(controlPair())
        catch { case e: Throwable =>
          System.err.println(s"[bench] $label control pair failed: ${e.getMessage}")
          None
        }
    val preControls = safeControlPair("pre")

    // optional subset (comma-separated names) for targeted scale
    // smokes; the driver's full run never sets it
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(',').toSet)
    val selected = only.fold(SparkEntry.queries)(names =>
      SparkEntry.queries.filter { case (k, _) => names(k) })

    // one-time renders (corpus text files, bucketed tables) run in a
    // SEPARATE timed pass, so the queries that ride on them measure
    // their steady state from rep 1 — a setup that is already
    // rendered on disk (fingerprint match) costs only a metadata
    // check here, and the reported number says which happened
    val setupTimes = SparkEntry.setups.toSeq.sortBy(_._1)
      .filter { case (k, _) => selected.contains(k) }
      .map { case (name, fn) =>
        val t0 = System.nanoTime()
        try fn(spark, sfDir)
        catch { case e: Throwable =>
          System.err.println(s"[bench] setup for $name failed: ${e.getMessage}")
        }
        (name, (System.nanoTime() - t0) / 1e9)
      }

    val results = runQueries(spark, sfDir, selected.toSeq, reps, force)
    // a crashed query must not silently improve the total: it is
    // omitted from `queries` (so sum(queries) == value always holds)
    // and surfaced in `failed` (name list, the shape the driver
    // parses) + `failed_errors` (the per-query diagnostic)
    val qs = results.collect { case r if r.ok => "\"" + r.name + "\":" + r.min }
      .mkString("{", ",", "}")
    val total = results.collect { case r if r.ok => r.min }.sum
    // total_rep1 = sum of FIRST-rep times: directly comparable to the
    // single-rep sampling earlier rounds reported, so the min-of-n
    // switch doesn't break round-over-round continuity
    val totalRep1 = results.collect { case r if r.ok => r.rep1 }.sum
    val setup = setupTimes.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val postControls = safeControlPair("post")
    // partial controls still print (a failed post pair must not mask
    // a healthy pre pair, and vice versa)
    val controlFields =
      preControls.toSeq.flatMap { case (s, w) =>
        Seq(s""""scan_pre":$s""", s""""write_pre":$w""") } ++
      postControls.toSeq.flatMap { case (s, w) =>
        Seq(s""""scan_post":$s""", s""""write_post":$w""") }
    val controls =
      if (controlFields.isEmpty) ""
      else controlFields.mkString(""","controls":{""", ",", "}")
    val line = s"""{"metric":"total","value":$total,"unit":"sec","reps":$reps,"total_rep1":$totalRep1,"setup":$setup,"queries":$qs,${failedFields(results)}$controls,"sf":"$sfDir"}"""
    println(line)
    // durable full artifact: the driver's BENCH_r0N.json keeps only a
    // truncated log tail, so also write the complete JSON to a file
    // (default BENCH_FULL.json in the cwd) for committed per-query diffs
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_FULL.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (line + "\n").getBytes("UTF-8"))
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $out: ${e.getMessage}")
    }
    spark.stop()
  }
}
