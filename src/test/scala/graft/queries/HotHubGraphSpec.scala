package graft.queries

import graft.{ScaleUp, SparkSpec, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Planted hot-hub identity/mechanism net for the graph family — the
  * [[HotUserSkewSpec]] discipline at the PAGE level: one hub page is
  * an endpoint of ~half of all click-graph edges
  * ([[HotHubGraphSpec.plant]]), the celebrity-node shape that breaks
  * naive triangle counting (Σ deg² wedges from one key).
  *
  * What is asserted:
  *  - the corpus really has the hub shape (mass check);
  *  - DEGREE ORIENTATION is hub-proof BY MEASUREMENT: the hub's
  *    oriented out-degree collapses to ~0 (every neighbor has lower
  *    (degree, id), so wedge generation happens at the spokes), and
  *    the global max oriented out-degree stays O(√E) — the bound the
  *    [[Graph.triangleCountOf]] scaladoc claims;
  *  - the triangle count under the hub equals brute a<b<c
  *    enumeration (orientation changes cost, never the count);
  *  - PageRank under the hub: the hub's rank is the max (mass flows
  *    where the edges point), and ranks still sum to ≤ 2^30 (the
  *    fixed-point invariant — dangling mass only ever drops).
  */
class HotHubGraphSpec extends SparkSpec {
  import HotHubGraphSpec._

  private lazy val hubDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("hothub").toString
    plant(spark, sf001, dir, 1)
    dir
  }

  private def edges: DataFrame = Graph.clickEdges(spark, hubDir)
    .select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst"), col("w"))

  test("the planted corpus genuinely has the hub shape") {
    val m = edges.select(
      sum(when(col("src") === HubPage
        || col("dst") === HubPage, col("w")).otherwise(0L)).as("hub"),
      sum(col("w")).as("total")).head
    val (hub, total) = (m.getLong(0), m.getLong(1))
    assert(hub * 10 >= total * 4, s"hub mass $hub of $total < 40%")
  }

  test("degree orientation collapses the hub: wedge work moves to the spokes") {
    val und = edges.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
    val deg = und.select(col("a").as("id"))
      .unionAll(und.select(col("b").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("d"))
    val nEdges = und.count()
    val nNodes = deg.count()
    val hubDeg = deg.filter(col("id") === HubPage)
      .head.getLong(1)
    // the same (degree, id) lexicographic orientation as triangleCountOf
    val oriented = und
      .join(deg.select(col("id").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("id").as("b"), col("d").as("db")), "b")
      .select(when(struct(col("da"), col("a")) < struct(col("db"), col("b")),
        col("a")).otherwise(col("b")).as("u"))
    val outDeg = oriented.groupBy(col("u")).agg(count(lit(1)).as("od"))
    val hubOut = outDeg.filter(col("u") === HubPage)
      .collect().headOption.map(_.getLong(1)).getOrElse(0L)
    val maxOut = outDeg.agg(max(col("od"))).head.getLong(0)
    // the hub is the max-degree node — adjacent to ~every page (the
    // DISTINCT-edge graph is what wedge cost depends on; the page id
    // space is small, so hubness here is degree ≈ n−1, not edge
    // share) — but its ORIENTED out-degree must collapse (ties
    // broken by id can leave a handful)
    assert(hubDeg * 10 >= (nNodes - 1) * 8,
      s"hub degree $hubDeg vs ${nNodes - 1} other nodes")
    assert(hubOut <= 2, s"hub oriented out-degree $hubOut did not collapse")
    val bound = 3 * math.sqrt(nEdges.toDouble).ceil.toLong
    assert(maxOut <= bound,
      s"max oriented out-degree $maxOut exceeds O(sqrt E) bound $bound ($nEdges edges)")
  }

  test("triangle count under the hub equals brute a<b<c enumeration") {
    val und = edges.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
    val brute = und.as("e1")
      .join(und.as("e2"), col("e1.b") === col("e2.a"))
      .select(col("e1.a").as("x"), col("e1.b").as("y"), col("e2.b").as("z"))
      .join(und.select(col("a").as("x"), col("b").as("z")), Seq("x", "z"),
        "left_semi")
      .count()
    val got = Graph.triangleCount(spark, hubDir)
      .head.getAs[Long]("n_triangles")
    assert(got == brute, s"oriented count $got != brute $brute")
    assert(brute > 0, "hub fixture has no triangles — probe is vacuous")
  }

  test("pagerank under the hub: hub rank is max, fixed-point mass conserved") {
    val pr = Graph.pageRank(spark, hubDir).cache()
    val hubPr = pr.filter(col("page") === HubPage)
      .head.getAs[Long]("pr")
    val maxPr = pr.agg(max(col("pr"))).head.getLong(0)
    val totalPr = pr.agg(sum(col("pr"))).head.getLong(0)
    assert(hubPr == maxPr, s"hub pr $hubPr is not the max $maxPr")
    // integer fixed-point: teleport + damped inflow can only lose
    // mass (dangling drop + div truncation), never create it
    assert(totalPr <= graft.queries.Graph.Scale + pr.count(),
      s"rank mass $totalPr exceeds the fixed-point scale")
    pr.unpersist()
  }
}

object HotHubGraphSpec {

  val HubPage = -1L

  /** Write the planted hot-hub corpus under `$workDir/events.parquet`.
    * The sf events are scaled `factor`× like [[ScaleUp]] (user+event
    * id shifts, time range preserved), then the SAME rows are
    * appended once more (ids shifted again) with every OTHER event's
    * page rewritten to the hub id in per-user time order. Every
    * consecutive pair of the copy's events then has a hub endpoint,
    * so the copy's transitions ALL touch the hub — hub degree ≈ 50%
    * of edge endpoints — while each copied user keeps a realistic
    * stream (no self-loop degeneracy) and the original half of the
    * corpus is untouched.
    */
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
}
