package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Planted hot-HUB skew probe for the graph family — the
  * [[SkewProbe]] discipline carried from hot USERS (window
  * partitioning heat) to hot PAGES (join/aggregation-key heat in the
  * click graph): synthesizes an events corpus where ONE page is an
  * endpoint of ~half of all click-graph edges, then times
  * CC / PageRank / label-prop / triangles / BFS against it.
  *
  * Corpus construction: the sf events are scaled `factor`× exactly
  * like [[ScaleUp]]/[[SkewProbe]] (user+event id shifts, time range
  * preserved), then the SAME rows are appended once more (ids
  * shifted again) with every OTHER event's page rewritten to the hub
  * id (−1) in per-user time order. Every consecutive pair of the
  * copy's events then has a hub endpoint, so the copy's ~E
  * transitions ALL touch the hub — hub degree ≈ 50% of edge
  * endpoints — while each copied user keeps a realistic stream (no
  * self-loop degeneracy) and the original half of the corpus is
  * untouched. This is the celebrity-page shape: the scale question
  * is whether degree orientation (triangles), the src-keyed
  * contribution join (PageRank), and the nbr-keyed vote join
  * (label-prop) stay task-bounded when one key holds half the mass.
  *
  * Usage: GraphSkewProbe <srcSfDir> <workDir> <factor> [queries]
  */
object GraphSkewProbe {

  val HubPage = -1L

  /** Write the planted corpus under `$workDir/events.parquet`. */
  def plant(spark: SparkSession, src: String, workDir: String,
      factor: Int): Unit = {
    val ev = Tables.events(spark, src)
    val (uShift, eShift) = ScaleUp.eventShifts(ev)
    val scaled = ScaleUp.shiftedCopies(ev, uShift, eShift, 0 until factor)
    val byUser = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val hubbed = ScaleUp
      .shiftedCopies(ev, uShift, eShift, factor until 2 * factor)
      .withColumn("rn", row_number().over(byUser))
      .withColumn("props",
        when(pmod(col("rn"), lit(2)) === 0, lit(s"""{"k":$HubPage}"""))
          .otherwise(col("props")))
      .drop("rn")
    scaled.unionByName(hubbed).write.mode("overwrite")
      .parquet(s"$workDir/events.parquet")
  }

  def main(args: Array[String]): Unit = {
    val (src, work, factor) = (args(0), args(1), args(2).toInt)
    val only: Option[Set[String]] =
      if (args.length > 3) Some(args(3).split(',').toSet) else None
    val spark = GraftSession.local()

    plant(spark, src, work, factor)
    val edges = graft.queries.Graph.clickEdges(spark, work)
      .select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"), col("w"))
    val endpointMass = edges.select(
      sum(when(col("src") === HubPage || col("dst") === HubPage, col("w"))
        .otherwise(0L)).as("hub"),
      sum(col("w")).as("total")).head
    println(s"[graphskew] hub endpoint mass: ${endpointMass.getLong(0)} " +
      s"of ${endpointMass.getLong(1)} weighted edges")

    import graft.queries.Graph
    val family: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
      "q_graph_components" -> Graph.connectedComponents _,
      "q_graph_pagerank" -> ((s: SparkSession, d: String) => Graph.pageRank(s, d)),
      "q_graph_label_prop" -> ((s: SparkSession, d: String) => Graph.labelPropagation(s, d)),
      "q_graph_triangles" -> Graph.triangleCount _,
      "q_graph_bfs_hops" -> ((s: SparkSession, d: String) => Graph.bfsHops(s, d)))

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
            System.err.println(s"[graphskew] $name failed: ${e.getMessage}"); false
          }
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"[graphskew] $name%-24s ${if (ok) f"$sec%.2f s" else "FAILED"}")
        (name, sec, ok)
      }
    val qs = results.collect { case (k, v, true) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    println(s"""{"metric":"graph_skew_probe","factor":$factor,"queries":$qs}""")
    spark.stop()
  }
}
