package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Planted hot-user skew probe for the user_id-windowed event family
  * (the [[graft.operators.AsOfJoin]] planted-hot-key discipline
  * carried to whole queries): synthesizes an events corpus where ONE
  * user holds ~50% of all events, then times each query in the family
  * against it. This measures where a bare
  * `Window.partitionBy(user_id)` / user-keyed join saturates — the
  * 100-TB failure mode where one bot user serializes half the corpus
  * into a single task — and is the evidence base for which queries
  * need the salting / two-level machinery.
  *
  * Corpus construction: the sf events are scaled `factor`× exactly
  * like [[ScaleUp]] (user+event id shifts, time range preserved),
  * then the SAME rows are appended once more with user_id := -777
  * (ids shifted again to stay unique). The hot user therefore has a
  * realistic event-time distribution (not a degenerate single
  * instant), holds exactly half of a 2×factor corpus, and every
  * other user keeps their original stream — per-user results for
  * them must not change.
  *
  * Usage: SkewProbe <srcSfDir> <workDir> <factor> [queries]
  */
object SkewProbe {

  val HotUser = -777L

  /** Write the planted corpus under `$workDir/events.parquet`. */
  def plant(spark: SparkSession, src: String, workDir: String,
      factor: Int): Unit = {
    val ev = Tables.events(spark, src)
    val (uShift, eShift) = ScaleUp.eventShifts(ev)
    val scaled = ScaleUp.shiftedCopies(ev, uShift, eShift, 0 until factor)
    val hot = ScaleUp.shiftedCopies(
      ev.withColumn("user_id", lit(HotUser)), 0L, eShift,
      factor until 2 * factor)
    scaled.unionAll(hot).write.mode("overwrite")
      .parquet(s"$workDir/events.parquet")
  }

  def main(args: Array[String]): Unit = {
    val (src, work, factor) = (args(0), args(1), args(2).toInt)
    val only: Option[Set[String]] =
      if (args.length > 3) Some(args(3).split(',').toSet) else None
    val spark = GraftSession.local()

    plant(spark, src, work, factor)
    val n = spark.read.parquet(s"$work/events.parquet").count()
    val hotN = spark.read.parquet(s"$work/events.parquet")
      .filter(col("user_id") === HotUser).count()
    println(s"[skew] corpus: $n events, hot user holds $hotN")

    import graft.queries.EventWindows
    val family: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
      "q_events_sessions" -> EventWindows.sessions _,
      "q_events_entry_exit" -> EventWindows.entryExit _,
      "q_events_transitions" -> EventWindows.transitions _,
      "q_events_attribution" -> EventWindows.attribution _,
      "q_events_rolling_active" -> EventWindows.rollingActive _)

    def force(df: DataFrame): Unit =
      df.write.mode("overwrite").format("noop").save()
    // warmup
    force(spark.read.parquet(s"$work/events.parquet")
      .groupBy("event_type").count())

    val results = family
      .filter { case (name, _) => only.forall(_(name)) }
      .map { case (name, fn) =>
        val t0 = System.nanoTime()
        val ok = try { force(fn(spark, work)); true }
          catch { case e: Throwable =>
            System.err.println(s"[skew] $name failed: ${e.getMessage}"); false
          }
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"[skew] $name%-28s ${if (ok) f"$sec%.2f s" else "FAILED"}")
        (name, sec, ok)
      }
    val qs = results.collect { case (k, v, true) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    println(s"""{"metric":"skew_probe","factor":$factor,"events":$n,"queries":$qs}""")
    spark.stop()
  }
}
