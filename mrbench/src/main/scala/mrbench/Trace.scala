package mrbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One span: a timed interval at a layer boundary, linked to the span
  * that caused it. Times are epoch microseconds (Spark's own events
  * carry epoch milliseconds). `attrs` holds the counts recorded at the
  * same boundary (task metrics on task spans).
  */
final case class Span(id: Long, parent: Long, kind: String, name: String,
    startUs: Long, endUs: Long, attrs: Map[String, Double] = Map.empty) {
  def json: String = {
    val a = attrs.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" + Json.num(v) }.mkString("{", ",", "}")
    s"""{"id":$id,"parent":$parent,"kind":"${kind}","name":${Json.str(name)},""" +
      s""""start_us":$startUs,"end_us":$endUs,"attrs":$a}"""
  }
}

object Json {
  def str(s: String): String = s.flatMap {
    case '"'          => "\\\""
    case '\\'         => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c            => c.toString
  }.mkString("\"", "", "\"")
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}

/** In-memory span recorder. Benchmark-side spans (workload, pass, op,
  * build/plan/execute, probe) come from [[span]]; Spark job, stage and
  * task spans come from [[Recorder]], which links each job to the
  * benchmark span open on the submitting thread through the
  * `mrbench.span` local property. Nothing is written until [[write]].
  */
final class Tracer(sc: SparkContext) {
  private val ids = new AtomicLong(0)
  private val epochUs0 = System.currentTimeMillis() * 1000
  private val nano0 = System.nanoTime()
  val spans = new ConcurrentLinkedQueue[Span]()
  /** The workload span: parent of every pass, closed by [[finish]]. */
  private val rootId = ids.incrementAndGet()
  private val rootStartUs = nowUs
  private var current: Long = rootId
  /** Off outside traced intervals: [[span]] then only runs its body. */
  @volatile var enabled: Boolean = false

  def nowUs: Long = epochUs0 + (System.nanoTime() - nano0) / 1000
  def nextId(): Long = ids.incrementAndGet()

  /** Run `body` inside a span whose parent is the enclosing span. */
  def span[T](kind: String, name: String)(body: => T): T = if (!enabled) body else {
    val id = nextId()
    val parent = current
    val start = nowUs
    current = id
    sc.setLocalProperty(Tracer.Property, id.toString)
    try body
    finally {
      spans.add(Span(id, parent, kind, name, start, nowUs))
      current = parent
      sc.setLocalProperty(Tracer.Property, parent.toString)
    }
  }

  def finish(workload: String): Unit =
    spans.add(Span(rootId, -1L, "workload", workload, rootStartUs, nowUs))

  def write(path: String): Unit = {
    val out = new java.io.PrintWriter(path, "UTF-8")
    try spans.asScala.toSeq.sortBy(s => (s.startUs, s.id)).foreach(s => out.println(s.json))
    finally out.close()
  }
}

object Tracer {
  val Property = "mrbench.span"
}

/** SparkListener that turns job, stage and task events into spans. It
  * is attached only around traced passes, so untraced passes run with
  * no listener of the benchmark's at all.
  */
final class Recorder(tracer: Tracer) extends SparkListener {
  private val jobSpan = mutable.Map.empty[Int, Long]
  private val jobStart = mutable.Map.empty[Int, (Long, Long)] // start, parent span
  private val stageJob = mutable.Map.empty[Int, Long]
  private val stageSpan = mutable.Map.empty[(Int, Int), Long]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val id = tracer.nextId()
    val parent = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Property)))
      .map(_.toLong).getOrElse(-1L)
    jobSpan(e.jobId) = id
    jobStart(e.jobId) = (e.time * 1000, parent)
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = id)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (start, parent) =>
      tracer.spans.add(Span(jobSpan(e.jobId), parent, "job", s"job-${e.jobId}", start, e.time * 1000))
    }
  }

  private def stageId(stage: Int, attempt: Int): Long =
    stageSpan.getOrElseUpdate((stage, attempt), tracer.nextId())

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val start = i.submissionTime.getOrElse(0L) * 1000
    val end = i.completionTime.getOrElse(System.currentTimeMillis()) * 1000
    tracer.spans.add(Span(stageId(i.stageId, i.attemptNumber()),
      stageJob.getOrElse(i.stageId, -1L), "stage", s"stage-${i.stageId}.${i.attemptNumber()}",
      start, end,
      Map("reads_shuffle" -> (if (i.parentIds.nonEmpty) 1.0 else 0.0))))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val t = e.taskInfo
    val base = Map(
      "successful" -> (if (t.successful) 1.0 else 0.0),
      "failed" -> (if (t.failed || t.killed) 1.0 else 0.0),
      "getting_result_ms" -> t.gettingResultTime.toDouble)
    val m = Option(e.taskMetrics).map { m =>
      val r = m.shuffleReadMetrics
      val w = m.shuffleWriteMetrics
      Map(
        "cpu_ns" -> m.executorCpuTime.toDouble,
        "run_ms" -> m.executorRunTime.toDouble,
        "deser_ms" -> m.executorDeserializeTime.toDouble,
        "result_ser_ms" -> m.resultSerializationTime.toDouble,
        "gc_ms" -> m.jvmGCTime.toDouble,
        "in_records" -> m.inputMetrics.recordsRead.toDouble,
        "in_bytes" -> m.inputMetrics.bytesRead.toDouble,
        "out_records" -> m.outputMetrics.recordsWritten.toDouble,
        "out_bytes" -> m.outputMetrics.bytesWritten.toDouble,
        "sw_records" -> w.recordsWritten.toDouble,
        "sw_bytes" -> w.bytesWritten.toDouble,
        "sw_ns" -> w.writeTime.toDouble,
        "sr_records" -> r.recordsRead.toDouble,
        "sr_bytes" -> (r.localBytesRead + r.remoteBytesRead).toDouble,
        "fetch_wait_ms" -> r.fetchWaitTime.toDouble,
        "spill_disk_bytes" -> m.diskBytesSpilled.toDouble,
        "spill_mem_bytes" -> m.memoryBytesSpilled.toDouble,
        "peak_exec_mem" -> m.peakExecutionMemory.toDouble)
    }.getOrElse(Map.empty)
    tracer.spans.add(Span(tracer.nextId(), stageId(e.stageId, e.stageAttemptId), "task",
      s"task-${e.stageId}.${e.stageAttemptId}-${t.index}.${t.attemptNumber}",
      t.launchTime * 1000, t.finishTime * 1000, base ++ m))
  }
}

/** Peak heap, seen through GC notifications: the heap in use right after
  * a collection is the live set, and its largest value is the run's peak.
  * (The heap in use just before a collection mostly tracks the young
  * generation's size, which the collector picks.)
  */
final class HeapWatch {
  @volatile var maxAfterGc: Long = 0L

  import java.lang.management.ManagementFactory
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData
  import com.sun.management.GarbageCollectionNotificationInfo

  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case em: NotificationEmitter =>
      em.addNotificationListener(new NotificationListener {
        def handleNotification(n: Notification, hb: AnyRef): Unit =
          if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
            val used = info.getGcInfo.getMemoryUsageAfterGc.values.asScala.map(_.getUsed).sum
            synchronized { maxAfterGc = maxAfterGc.max(used) }
          }
      }, null, null)
    case _ =>
  }
}
