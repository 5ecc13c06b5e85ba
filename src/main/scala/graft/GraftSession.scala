package graft

import org.apache.spark.sql.SparkSession

/** Front door: a SparkSession configured the way this engine expects.
  * Every main in the engine builds its session here.
  *
  * - `cores` local slots, default `SPARK_GRAFT_CPUS`, else the host's
  *   processor count;
  * - shuffle partitions sized to the core count (not the 200 default —
  *   wrong for local mode, and at cluster scale you'd size to
  *   cores×2-3 or rely on AQE coalescing anyway);
  * - AQE on (runtime re-plan: skew-join splitting, partition
  *   coalescing, broadcast demotion);
  * - UTC session timezone (oracle parity and sanity);
  * - Spark UI off, log level WARN;
  * - graft SQL functions (fnv1a, cosine_sim, tokens, ...) registered.
  *
  * `confs` are applied last, so a caller that needs a different value
  * (Bench's warehouse and liveness settings) overrides the defaults
  * above.
  */
object GraftSession {
  def local(
      cores: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(
        Runtime.getRuntime.availableProcessors())(_.toInt),
      confs: Map[String, String] = Map.empty): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(confs)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftExtensions.register(spark)
    spark
  }
}
