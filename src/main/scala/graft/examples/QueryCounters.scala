package graft.examples

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Per-query driver and task counters: for each registered query and
  * each rep, the Spark JOBS it submits end to end (construction
  * actions such as planning counts and eager stagings, plus the
  * noop-sink output action), the stages they run (skipped stages not
  * counted), its shuffle-write bytes, disk and memory
  * spill, and wall seconds. `explain` shows none of these (an eager
  * and a lazy localCheckpoint print the same plan); jobs and bytes
  * are exact and repeat across reps and JVMs, so they gate
  * structural changes without timing noise. One warmup query runs
  * outside the accounted reps (bench discipline).
  *
  * Usage: QueryCounters <sfDir> q_a[,q_b,...] [reps=1]
  */
object QueryCounters {

  /** Jobs, completed stages and task metrics summed since the last
    * [[reset]] — the one task-metric listener the instruments share. */
  final class Counters extends SparkListener {
    val jobs, stages, shuffleWrite, diskSpill, memSpill = new AtomicLong()

    def reset(): Unit = Seq(jobs, stages, shuffleWrite, diskSpill, memSpill).foreach(_.set(0L))

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val _ = jobs.incrementAndGet()
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val _ = stages.incrementAndGet()
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        diskSpill.addAndGet(m.diskBytesSpilled)
        memSpill.addAndGet(m.memoryBytesSpilled)
      }
    }
  }

  def attach(spark: SparkSession): Counters = {
    val c = new Counters
    spark.sparkContext.addSparkListener(c)
    c
  }

  /** Let the asynchronous listener bus deliver every event of the
    * action that just returned. */
  private def settle(): Unit = Thread.sleep(2000)

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val reps = args.lift(2).fold(1)(_.toInt)
    val spark = graft.GraftSession.local()
    val counters = attach(spark)
    def force(name: String): Unit =
      graft.SparkEntry.queries(name)(spark, sfDir)
        .write.mode("overwrite").format("noop").save()

    force("mr_grep")
    for (name <- args(1).split(','); rep <- 1 to reps) {
      settle(); counters.reset()
      val t0 = System.nanoTime()
      force(name)
      val sec = (System.nanoTime() - t0) / 1e9
      settle()
      println(f"QUERYCOUNTERS $name rep=$rep jobs=${counters.jobs.get} stages=${counters.stages.get} " +
        f"shuffle_write_bytes=${counters.shuffleWrite.get} " +
        f"disk_spill_bytes=${counters.diskSpill.get} " +
        f"mem_spill_bytes=${counters.memSpill.get} sec=$sec%.3f")
    }
    spark.stop()
  }
}
