package graft

import org.apache.spark.sql.SparkSession

/** Front door: a SparkSession configured the way this engine expects.
  *
  * - shuffle partitions sized to the core count (not the 200 default —
  *   wrong for local mode, and at cluster scale you'd size to
  *   cores×2-3 or rely on AQE coalescing anyway);
  * - AQE on (runtime re-plan: skew-join splitting, partition
  *   coalescing, broadcast demotion);
  * - UTC session timezone (oracle parity and sanity);
  * - graft SQL functions (fnv1a, cosine_sim, tokens, ...) registered.
  */
object GraftSession {
  def local(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    GraftExtensions.register(spark)
    spark
  }
}
