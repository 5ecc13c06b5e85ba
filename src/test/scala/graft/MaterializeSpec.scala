package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.examples.QueryCounters

/** [[Materialize.stage]]: an eager stage runs its job at the call, a
  * lazy one at the first action, and either way the staged frame
  * holds the unstaged frame's rows behind a plan that no longer reads
  * the source files.
  */
class MaterializeSpec extends SparkSpec {

  private lazy val counters = QueryCounters.attach(spark)

  /** `body`'s result and the jobs it submits. The listener bus is
    * asynchronous, so settle before the reset and after the body
    * (QueryCounters' own rule). */
  private def withJobs[T](body: => T): (T, Long) = {
    counters
    Thread.sleep(2000)
    counters.reset()
    val out = body
    Thread.sleep(2000)
    (out, counters.jobs.get)
  }

  /** A parquet read with no exchange (under AQE, even a lazy stage
    * runs the shuffle stages beneath it at the call); built outside
    * any count, so the schema inference of a first load is not charged
    * to the stage. */
  private def source(): DataFrame =
    Tables.documents(spark, sf001)
      .select(col("doc_id"), (col("doc_id") % 7).as("bucket"))

  private def rows(df: DataFrame): Seq[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq

  /** The staged frame reads no file, and holds `df`'s rows. */
  private def assertStagedRows(staged: DataFrame, df: DataFrame): Unit = {
    assert(df.inputFiles.nonEmpty, "the unstaged frame scans parquet")
    assert(staged.inputFiles.isEmpty, staged.queryExecution.optimizedPlan.toString)
    val want = rows(df)
    assert(want.nonEmpty)
    assert(rows(staged) == want)
  }

  test("an eager stage runs its job at the call and keeps the rows") {
    val df = source()
    val (staged, jobs) = withJobs(Materialize.stage(df))
    assert(jobs >= 1, "no job ran at an eager stage")
    assertStagedRows(staged, df)
  }

  test("a lazy stage runs no job until the first action, then keeps the rows") {
    val df = source()
    val (staged, jobs) = withJobs(Materialize.stage(df, eager = false))
    assert(jobs == 0, "a lazy stage ran a job before any action")
    assert(withJobs(staged.count())._2 >= 1)
    assertStagedRows(staged, df)
  }
}
