package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Materialize, Tables}

/** Graph analytics over the click-transition graph derived from
  * `events`: consecutive events of one user (ordered by `ts`, ties by
  * `event_id`) form a directed edge between their `props.k` page ids,
  * weighted by transition count.
  *
  * PageRank here is FIXED-POINT integer arithmetic throughout
  * (ranks are BIGINTs scaled by 2^30; damping 17/20; every division
  * is an integer `div`), for the same reason the embedding centroids
  * are ([[graft.llm.Similarity]]): float summation order varies with
  * partitioning, so a double-typed rank would not be
  * oracle-comparable — and on a real cluster would not even be
  * reproducible run-to-run. With integers, Spark and DuckDB agree
  * bit-for-bit after any number of iterations.
  *
  * Scale shape: edges/outweights are staged once and reused by every
  * iteration; each iteration is one equi-join (ranks ⋈ edges on src,
  * a hash shuffle on the edge key) plus one aggregation on dst —
  * the textbook distributed PageRank step. Ranks never leave the
  * cluster; the only driver value is the node count (one scalar),
  * which sizes the teleport constant. Dangling mass (nodes with no
  * out-edges) is dropped, not redistributed — the deterministic
  * variant; documented, and mirrored exactly by the oracle.
  */
object Graph {
  /** 2^30 — the fixed-point scale for rank values. */
  val Scale: Long = 1L << 30

  /** Directed weighted click-transition edges (src, dst, w). */
  def clickEdges(spark: SparkSession, sfDir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    Tables.events(spark, sfDir)
      .select(col("user_id"), col("ts"), col("event_id"),
        get_json_object(col("props"), "$.k").cast("int").as("k"))
      .withColumn("nk", lead(col("k"), 1).over(byUser))
      .where(col("nk").isNotNull)
      .groupBy(col("k").as("src"), col("nk").as("dst"))
      .agg(count(lit(1)).as("w"))
  }

  /** `iters` rounds of damped PageRank; returns (page, pr, pr_frac).
    * `pr` is the scaled BIGINT rank (exact); `pr_frac` is the single
    * terminal IEEE division pr/2^30 (identical cross-engine because
    * both operands are exact).
    */
  def pageRank(spark: SparkSession, sfDir: String, iters: Int = 3): DataFrame = {
    // All stages in the fixed-round loops are LAZY (r17): eager
    // staging paid one driver job per staged frame (edges, nodes,
    // contribEdges, one per round) before the output action even
    // started. With eager=false the frames keep identical
    // persistence semantics (computed once, lineage truncated at
    // first use) but materialize inside the jobs that need them —
    // the node-count planning action plus the output action — so a
    // 3-round PageRank is 2 jobs instead of ~6. Convergence-observed
    // loops (largeSmallStarCC) are the one shape that must stay
    // eager: their Observation is consumed right after each staging
    // action.
    val edges = Materialize.stage(clickEdges(spark, sfDir), eager = false)
    val nodes = Materialize.stage(
      edges.select(col("src").as("id"))
        .union(edges.select(col("dst").as("id"))).distinct(), eager = false)
    // node count is the one driver-side scalar: it sizes the teleport
    // and init constants (dimension-cardinality sized, like the
    // k-means centroid collect)
    // max(…, 1): a zero-row corpus has no nodes, and every downstream
    // plan is empty anyway — the constants just need to be defined
    val n = math.max(nodes.count(), 1L)
    val init = Scale / n
    val tele = 3L * Scale / (20L * n)
    // NOT a window (r17 ruling): a sum(w)-over-src window was A/B'd
    // value-identical and locally flat (1.206 vs 1.211 min-of-9), but
    // outw is PAGE-domain — bounded at any corpus scale, hence
    // broadcast-joinable — so the join-back costs no edge exchange at
    // scale, while the window forces a full edge shuffle + sort. The
    // window form wins only when the agg table is corpus-domain (the
    // largeSmallStarCC min-label case, where the join had to shuffle
    // the edge stream anyway).
    val outw = edges.groupBy(col("src")).agg(sum(col("w")).as("tw"))
    val contribEdges = Materialize.stage(edges.join(outw, "src"), eager = false)

    var ranks = nodes.select(col("id"), lit(init).as("r"))
    for (_ <- 1 to iters) {
      val inflow = contribEdges
        .join(ranks, contribEdges("src") === ranks("id"))
        .select(col("dst"), expr("(r * w) div tw").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("s"))
      ranks = Materialize.stage(
        nodes.join(inflow, nodes("id") === inflow("dst"), "left")
          .select(nodes("id"),
            (lit(tele) + coalesce(expr("(17 * s) div 20"), lit(0L))).as("r")),
        eager = false)
    }
    ranks.select(col("id").as("page"), col("r").as("pr"),
      (col("r").cast("double") / Scale).as("pr_frac"))
  }

  /** Connected components of the undirected click graph — the third
    * classic MapReduce graph benchmark beside PageRank and triangles,
    * and a direct reuse of the dedup engine's large-star/small-star
    * machinery ([[graft.llm.Dedup.largeSmallStarCC]], O(log d)
    * rounds over the EDGE set) on a graph that isn't a similarity
    * graph. Per node: `component` = min node id of its component
    * (min-label, matching union-find), `component_size` alongside.
    * Self-loops don't connect anything; a node with only self-loops
    * is its own singleton component (the left join + coalesce).
    *
    * Scale: CC touches only the distinct undirected edge set; the
    * node relabel is one join; the size annotation is one
    * component-keyed window over nodes (pages, not events).
    */
  def connectedComponents(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Materialize.stage(clickEdges(spark, sfDir)
      .select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst")),
      eager = false)
    // size-dispatched CC (r16): the click graph's node space is the
    // page-id domain — bounded and far below the driver union-find
    // budget at any corpus scale — yet this query previously rode the
    // unconditional large/small-star path (log-rounds of staged jobs
    // for a 100-node graph at sf0.1; measured min-of-5: 1.27 →
    // 0.60 s). The same size-gated dispatch as dedupClusters (default
    // threshold Dedup.DriverCCMaxEdges) keeps the distributed fallback
    // for a genuinely edge-heavy graph, and q_dedup_clusters_dist
    // still pins the distributed path through the oracle gate.
    val labels = graft.llm.Dedup.sizedCC(spark,
      e.filter(col("src") =!= col("dst"))
        .select(col("src").as("doc_a"), col("dst").as("doc_b")))
    val nodes = e.select(col("src").as("page"))
      .union(e.select(col("dst").as("page"))).distinct()
    val w = Window.partitionBy(col("component"))
    nodes
      .join(labels.withColumnRenamed("doc_id", "page"), Seq("page"), "left")
      .select(col("page"), coalesce(col("cluster"), col("page")).as("component"))
      .withColumn("component_size", count(lit(1)).over(w))
  }

  /** Bounded-hop BFS on the DIRECTED click graph from a deterministic
    * source (the minimum page id): per page, the shortest hop count
    * within `maxHops`, NULL beyond — the k-hop-neighborhood primitive
    * (impact radius of a landing page, crawl frontier, feature
    * neighborhoods). The fourth iterative-graph pattern beside
    * PageRank (fixed rounds over all nodes), connected components
    * (label convergence), and triangles (joins): a FRONTIER
    * expansion, where each round touches only nodes first reached in
    * the previous round.
    *
    * Scale: each round is one frontier⋈edges equi-join + distinct
    * (cost ∝ the frontier's out-edges, not the graph) and one
    * left-join relabel of the distance frame; rounds are bounded by
    * `maxHops`, so cost is k joins regardless of diameter. Expanding
    * only newly-reached nodes preserves BFS minimality: a node first
    * reached at hop h expands exactly once, in round h+1. The one
    * driver scalar is the source id (like PageRank's node count).
    */
  def bfsHops(spark: SparkSession, sfDir: String, maxHops: Int = 4): DataFrame =
    bfsHopsOf(
      clickEdges(spark, sfDir)
        .select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
        .distinct(),
      maxHops)

  /** Core over any directed (src, dst) distinct edge frame; the
    * source is the minimum node id.
    */
  def bfsHopsOf(edges: DataFrame, maxHops: Int): DataFrame = {
    // lazy stages (see pageRank): the source-min planning action
    // materializes e + nodes; every round's dist rides the output
    // action, its blocks reused by the next round's two consumers
    val e = Materialize.stage(edges, eager = false)
    val nodes = Materialize.stage(
      e.select(col("src").as("page"))
        .union(e.select(col("dst").as("page"))).distinct(), eager = false)
    val srcRow = nodes.agg(min(col("page"))).head()
    if (srcRow.isNullAt(0))
      // empty graph: no source to start from — typed all-NULL hops
      return nodes.select(col("page"), lit(null).cast("int").as("hop"))
    val source = srcRow.getLong(0)
    var dist = Materialize.stage(nodes.select(col("page"),
      when(col("page") === source, 0).otherwise(lit(null).cast("int")).as("hop")),
      eager = false)
    for (h <- 1 to maxHops) {
      val frontier = dist.filter(col("hop") === (h - 1))
        .join(e, col("page") === col("src"))
        .select(col("dst").as("page")).distinct()
      dist = Materialize.stage(
        dist.join(frontier.withColumn("nh", lit(h)), Seq("page"), "left")
          .select(col("page"), coalesce(col("hop"), col("nh")).as("hop")),
        eager = false)
    }
    dist
  }

  /** Community detection via synchronous weighted label propagation
    * (Raghavan et al. 2007) on the undirected click graph — the fifth
    * iterative-graph pattern, and the one whose per-round semantics
    * differ from all the others: each node adopts the label carrying
    * the LARGEST total edge weight among its neighbors (majority
    * vote), not a min/sum/frontier. Communities are denser than
    * connected components (a bridge edge can't drag a whole
    * component into one label) and need no target count, unlike
    * k-means.
    *
    * Determinism: synchronous rounds (all nodes update from the
    * PREVIOUS round's labels — no update-order dependence, unlike
    * the asynchronous textbook variant) and a total-order tiebreak
    * (max weight, then MIN label). Weights are integer transition
    * counts, so vote sums are exact on both engines.
    *
    * Scale shape per round: one equi-join (symmetrized edges ⋈
    * labels on the neighbor key) + one (node, label) hash agg + a
    * per-node top-1 window — WindowGroupLimit pushes the rank-1
    * filter below the exchange. Edges and nodes are staged once;
    * labels are O(nodes) per round. Rounds are fixed (3), so the
    * oracle unrolls them as CTEs.
    */
  def labelPropagation(spark: SparkSession, sfDir: String,
      rounds: Int = 3): DataFrame =
    labelPropagationOf(
      clickEdges(spark, sfDir)
        .select(col("src").cast("long").as("src"),
          col("dst").cast("long").as("dst"), col("w")),
      rounds)

  /** Core over any directed weighted (src, dst, w) edge frame. */
  def labelPropagationOf(edges: DataFrame, rounds: Int): DataFrame = {
    // lazy stages (see pageRank): label propagation has NO planning
    // action, so the whole 3-round loop is ONE job
    val dir = Materialize.stage(edges, eager = false)
    val noSelf = dir.filter(col("src") =!= col("dst"))
    // symmetrize: each undirected neighbor pair votes with the sum of
    // both directions' transition counts
    val sym = Materialize.stage(
      noSelf.select(col("src").as("node"), col("dst").as("nbr"), col("w"))
        .unionAll(
          noSelf.select(col("dst").as("node"), col("src").as("nbr"), col("w")))
        .groupBy(col("node"), col("nbr")).agg(sum(col("w")).as("w")),
      eager = false)
    val nodes = Materialize.stage(
      dir.select(col("src").as("id"))
        .union(dir.select(col("dst").as("id"))).distinct(), eager = false)
    var labels = nodes.select(col("id"), col("id").as("label"))
    val topVote = Window.partitionBy(col("node"))
      .orderBy(col("s").desc, col("label").asc)
    for (_ <- 1 to rounds) {
      val winner = sym.join(labels, sym("nbr") === labels("id"))
        .groupBy(col("node"), col("label")).agg(sum(col("w")).as("s"))
        .withColumn("rn", row_number().over(topVote))
        .filter(col("rn") === 1)
        .select(col("node"), col("label").as("nl"))
      // self-loop-only nodes have no sym edges: they keep their own id
      labels = Materialize.stage(
        nodes.join(winner, nodes("id") === winner("node"), "left")
          .select(nodes("id"), coalesce(col("nl"), nodes("id")).as("label")),
        eager = false)
    }
    val byCommunity = Window.partitionBy(col("community"))
    labels.select(col("id").as("page"), col("label").as("community"))
      .withColumn("community_size", count(lit(1)).over(byCommunity))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_graph_pagerank" -> ((s: SparkSession, d: String) => pageRank(s, d)),
    "q_graph_triangles" -> triangleCount _,
    "q_graph_components" -> connectedComponents _,
    "q_graph_bfs_hops" -> ((s: SparkSession, d: String) => bfsHops(s, d)),
    "q_graph_label_prop" -> ((s: SparkSession, d: String) => labelPropagation(s, d)),
  )

  /** Oracle: the same three iterations unrolled as CTEs; `//` is
    * DuckDB's integer floor-division (all quantities positive, so it
    * matches Spark's truncating `div`).
    */
  private def iterSql(prev: String, out: String): String =
    s"""$out AS (
       |  SELECT n.id, c.tele + COALESCE((17 * f.s) // 20, 0) AS r
       |  FROM nodes n CROSS JOIN consts c
       |  LEFT JOIN (
       |    SELECT e.dst AS id, sum((r.r * e.w) // o.tw) AS s
       |    FROM edges e JOIN $prev r ON r.id = e.src
       |    JOIN outw o ON o.src = e.src
       |    GROUP BY e.dst) f ON f.id = n.id)""".stripMargin

  /** Triangle count on the undirected click graph — the classic
    * MapReduce graph benchmark (Suri & Vassilvitskii's MR-friendly
    * formulation, WWW 2011), expressed as two equi-joins.
    *
    * DEGREE ORIENTATION is the scale move: every undirected edge is
    * directed from its lower-(degree, id) endpoint to the higher —
    * the total order is the lexicographic `struct(degree, id)`
    * comparison itself (no arithmetic key encoding, so 64-bit node
    * ids cannot collide the order). Each triangle then has exactly
    * one node whose two out-edges
    * form the counted wedge, and out-degrees under this orientation
    * are bounded by O(√|E|) on ANY graph — so wedge generation is
    * Σ out-deg² ≤ |E|^1.5 instead of the Σ deg² a hub node causes
    * under naive low-id orientation (a celebrity node with 10⁸
    * followers would otherwise generate 10¹⁶ wedges from one key).
    * The oracle counts the same triangles by plain a<b<c
    * enumeration — orientation changes the join cost, never the
    * count.
    */
  def triangleCount(spark: SparkSession, sfDir: String): DataFrame =
    triangleCountOf(clickEdges(spark, sfDir))

  /** Core over any directed (src, dst, …) edge frame. */
  def triangleCountOf(e: DataFrame): DataFrame = {
    // lazy stages (see pageRank): no planning action here either —
    // und and oriented materialize inside the one output job
    val und = Materialize.stage(
      e.filter(col("src") =!= col("dst"))
        .select(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b"))
        .distinct(), eager = false)
    val deg = und.select(col("a").as("id"))
      .unionAll(und.select(col("b").as("id")))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("d"))
    def pi(d: Column, id: Column): Column =
      struct(d.as("d"), id.as("i"))
    val oriented = Materialize.stage(und
      .join(deg.select(col("id").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("id").as("b"), col("d").as("db")), "b")
      .select(
        when(pi(col("da"), col("a")) < pi(col("db"), col("b")),
          col("a")).otherwise(col("b")).as("u"),
        when(pi(col("da"), col("a")) < pi(col("db"), col("b")),
          col("b")).otherwise(col("a")).as("v"),
        greatest(pi(col("da"), col("a")), pi(col("db"), col("b"))).as("pv")),
      eager = false)
    val wedges = oriented.select(col("u"), col("v").as("v1"), col("pv").as("p1"))
      .join(oriented.select(col("u"), col("v").as("v2"), col("pv").as("p2")),
        Seq("u"))
      .filter(col("p1") < col("p2"))
      .select(col("v1"), col("v2"))
    val closed = wedges.join(
      oriented.select(col("u").as("v1"), col("v").as("v2")), Seq("v1", "v2"),
      "left_semi")
    val nNodes = deg.agg(count(lit(1)).as("n_nodes"))
    val nEdges = und.agg(count(lit(1)).as("n_edges"))
    val nTri = closed.agg(count(lit(1)).as("n_triangles"))
    nNodes.crossJoin(nEdges).crossJoin(nTri)
  }

  /** One synchronous label-propagation round as two CTEs: winner
    * vote per node (max weight-sum, min label), then relabel with
    * keep-own-label fallback for vote-less nodes.
    */
  private def lpIterSql(prev: String, pOut: String, lOut: String): String =
    s"""$pOut AS (
       |  SELECT node, label FROM (
       |    SELECT s.node, l.label,
       |      row_number() OVER (PARTITION BY s.node
       |                         ORDER BY sum(s.w) DESC, l.label ASC) AS rn
       |    FROM sym s JOIN $prev l ON l.id = s.nbr
       |    GROUP BY s.node, l.label)
       |  WHERE rn = 1),
       |$lOut AS (
       |  SELECT n.id, COALESCE(p.label, n.id) AS label
       |  FROM allnodes n LEFT JOIN $pOut p ON p.node = n.id)""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_graph_label_prop" ->
      s"""WITH ev AS (
         |  SELECT user_id, ts, event_id,
         |         CAST(json_extract_string(props, '$$.k') AS INT) AS k
         |  FROM events),
         |nxt AS (
         |  SELECT k AS src,
         |         lead(k) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
         |  FROM ev),
         |wedges AS (
         |  SELECT CAST(src AS BIGINT) AS src, CAST(dst AS BIGINT) AS dst,
         |         CAST(count(*) AS BIGINT) AS w
         |  FROM nxt WHERE dst IS NOT NULL GROUP BY 1, 2),
         |allnodes AS (
         |  SELECT DISTINCT id FROM (
         |    SELECT src AS id FROM wedges UNION ALL SELECT dst FROM wedges)),
         |sym AS (
         |  SELECT node, nbr, CAST(sum(w) AS BIGINT) AS w FROM (
         |    SELECT src AS node, dst AS nbr, w FROM wedges WHERE src <> dst
         |    UNION ALL
         |    SELECT dst AS node, src AS nbr, w FROM wedges WHERE src <> dst)
         |  GROUP BY node, nbr),
         |l0 AS (SELECT id, id AS label FROM allnodes),
         |${lpIterSql("l0", "p1", "l1")},
         |${lpIterSql("l1", "p2", "l2")},
         |${lpIterSql("l2", "p3", "l3")}
         |SELECT id AS page, CAST(label AS BIGINT) AS community,
         |  CAST(count(*) OVER (PARTITION BY label) AS BIGINT)
         |    AS community_size
         |FROM l3""".stripMargin,
    // Bounded recursion: the UNION dedups (page, hop) pairs, the
    // WHERE hop < 4 caps depth, and min(hop) per page is the BFS
    // distance — identical semantics to the Spark frontier loop,
    // which expands each node once when first reached.
    "q_graph_bfs_hops" ->
      s"""WITH RECURSIVE ev AS (
         |  SELECT user_id, ts, event_id,
         |         CAST(json_extract_string(props, '$$.k') AS INT) AS k
         |  FROM events),
         |nxt AS (
         |  SELECT k AS src,
         |         lead(k) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
         |  FROM ev),
         |edges AS (
         |  SELECT CAST(src AS BIGINT) AS src, CAST(dst AS BIGINT) AS dst
         |  FROM nxt WHERE dst IS NOT NULL GROUP BY 1, 2),
         |allnodes AS (
         |  SELECT DISTINCT page FROM (
         |    SELECT src AS page FROM edges UNION ALL SELECT dst FROM edges)),
         |s AS (SELECT min(page) AS sp FROM allnodes),
         |reach(page, hop) AS (
         |  SELECT sp, 0 FROM s
         |  UNION
         |  SELECT e.dst, reach.hop + 1
         |  FROM reach JOIN edges e ON e.src = reach.page
         |  WHERE reach.hop < 4),
         |d AS (SELECT page, CAST(min(hop) AS INT) AS hop
         |      FROM reach GROUP BY page)
         |SELECT n.page, d.hop
         |FROM allnodes n LEFT JOIN d ON d.page = n.page""".stripMargin,
    "q_graph_components" ->
      s"""WITH RECURSIVE ev AS (
         |  SELECT user_id, ts, event_id,
         |         CAST(json_extract_string(props, '$$.k') AS INT) AS k
         |  FROM events),
         |nxt AS (
         |  SELECT k AS src,
         |         lead(k) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
         |  FROM ev),
         |edges AS (
         |  SELECT CAST(src AS BIGINT) AS src, CAST(dst AS BIGINT) AS dst
         |  FROM nxt WHERE dst IS NOT NULL GROUP BY 1, 2),
         |allnodes AS (
         |  SELECT DISTINCT page FROM (
         |    SELECT src AS page FROM edges UNION ALL SELECT dst FROM edges)),
         |und AS (
         |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
         |  FROM edges WHERE src <> dst),
         |ed AS (SELECT a AS src, b AS dst FROM und
         |       UNION ALL SELECT b, a FROM und),
         |nodes AS (SELECT DISTINCT src AS doc FROM ed),
         |reach(doc, r) AS (
         |  SELECT doc, doc FROM nodes
         |  UNION
         |  SELECT reach.doc, e.dst FROM reach JOIN ed e ON reach.r = e.src),
         |comp AS (SELECT doc, min(r) AS component FROM reach GROUP BY doc),
         |lab AS (
         |  SELECT n.page, COALESCE(c.component, n.page) AS component
         |  FROM allnodes n LEFT JOIN comp c ON c.doc = n.page)
         |SELECT page, component,
         |  CAST(count(*) OVER (PARTITION BY component) AS BIGINT)
         |    AS component_size
         |FROM lab""".stripMargin,
    "q_graph_triangles" ->
      s"""WITH ev AS (
         |  SELECT user_id, ts, event_id,
         |         CAST(json_extract_string(props, '$$.k') AS INT) AS k
         |  FROM events),
         |nxt AS (
         |  SELECT k AS src,
         |         lead(k) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
         |  FROM ev),
         |edges AS (
         |  SELECT src, dst FROM nxt
         |  WHERE dst IS NOT NULL AND src <> dst GROUP BY src, dst),
         |und AS (
         |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
         |  FROM edges),
         |tri AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_triangles
         |  FROM und e1
         |  JOIN und e2 ON e2.a = e1.a AND e2.b > e1.b
         |  JOIN und e3 ON e3.a = e1.b AND e3.b = e2.b),
         |nn AS (
         |  SELECT CAST(count(DISTINCT id) AS BIGINT) AS n_nodes
         |  FROM (SELECT a AS id FROM und UNION ALL SELECT b FROM und)),
         |ne AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM und)
         |SELECT n_nodes, n_edges, n_triangles
         |FROM nn CROSS JOIN ne CROSS JOIN tri""".stripMargin,
    "q_graph_pagerank" ->
      s"""WITH ev AS (
         |  SELECT user_id, ts, event_id,
         |         CAST(json_extract_string(props, '$$.k') AS INT) AS k
         |  FROM events),
         |nxt AS (
         |  SELECT k AS src,
         |         lead(k) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
         |  FROM ev),
         |edges AS (
         |  SELECT src, dst, CAST(count(*) AS BIGINT) AS w
         |  FROM nxt WHERE dst IS NOT NULL GROUP BY src, dst),
         |nodes AS (SELECT src AS id FROM edges UNION SELECT dst FROM edges),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
         |consts AS (
         |  SELECT CAST(${Scale} AS BIGINT) // n AS init,
         |         CAST(${3L * Scale} AS BIGINT) // (20 * n) AS tele
         |  FROM nn),
         |outw AS (SELECT src, sum(w) AS tw FROM edges GROUP BY src),
         |r0 AS (SELECT id, init AS r FROM nodes CROSS JOIN consts),
         |${iterSql("r0", "i1")},
         |${iterSql("i1", "i2")},
         |${iterSql("i2", "i3")}
         |SELECT id AS page, CAST(r AS BIGINT) AS pr,
         |       CAST(r AS DOUBLE) / ${Scale} AS pr_frac
         |FROM i3""".stripMargin,
  )
}
