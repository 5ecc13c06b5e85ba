package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.CosineSim.cosine_sim
import graft.llm.PortableHash._

/** Similarity search over the `embeddings` table (`array<float>`).
  *
  * Two paths, per the scale doctrine:
  *   - [[bruteForceTopK]]: exact top-k — the correctness baseline.
  *     The small query set is broadcast against the corpus scan, so
  *     the corpus is read once, never shuffled; per-query top-k comes
  *     from a rank-over-window on the (tiny) candidate side.
  *   - [[lshTopK]]: random-hyperplane LSH — a [[NumPlanes]]-bit
  *     signature buckets the corpus; queries only score their own
  *     bucket, cutting scan cost 2^NumPlanes× at some recall loss
  *     (measured against the brute-force baseline in SimilaritySpec).
  *   - [[ivfTopK]]: IVF-flat cells — data-adaptive partitioning,
  *     the better recall/cost point on these corpora.
  *
  * Cosine is the codegen'd [[graft.functions.CosineSim]] expression;
  * its sequential double accumulation is bitwise-reproducible in the
  * DuckDB oracle (ordered list_reduce), so even these float-heavy
  * queries hash-match exactly.
  *
  * Hyperplanes are deterministic and engine-portable: coefficient
  * g(j,i) = (h60("hp<j>_<i>") % 2001 - 1000) / 1000.0 — no RNG, no
  * driver-side state, same value in Spark and SQL.
  */
object Similarity {

  /** 4 hyperplanes → 16 buckets. Bucket count must track corpus size:
    * 2^planes ≈ corpus/expected-candidates. 8 planes (256 buckets) over
    * these corpora left ~2 vectors per bucket and 0.03 recall; 16
    * buckets yields usable recall while still cutting the scan 16×.
    * At a 10⁹-vector corpus you would raise this (and/or multi-probe).
    */
  val NumPlanes = 4
  val Dim = 64
  val K = 5
  val NumQueries = 20

  /** Deterministic hyperplane j as an array<double> literal column. */
  private def planeCol(j: Int): Column = {
    val g = (0 until Dim).map { i =>
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"hp${j}_$i".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 15)
      val h = java.lang.Long.parseLong(hex, 16)
      (h % 2001 - 1000) / 1000.0
    }
    array(g.map(lit): _*)
  }

  /** Signed dot of an array<float> embedding with a hyperplane,
    * sequential in index order (matches the oracle's list_reduce).
    */
  private def planeDot(emb: Column, j: Int): Column =
    aggregate(
      zip_with(emb, planeCol(j), (x, g) => x.cast("double") * g),
      lit(0.0),
      (acc, v) => acc + v)

  /** [[NumPlanes]]-bit LSH bucket signature: the one-band exact
    * bucket of the native kernel ([[bandSignatureCols]] at
    * (1, [[NumPlanes]])). A null or wrong-length embedding, which the
    * kernel surfaces as NULL, lands in bucket 0 — the bucket the
    * per-plane HOF formulation gives it (every dot NULL, so no bit
    * set) and the DuckDB mirror [[sqlBuckets]] computes.
    */
  def signatureCol(emb: Column): Column =
    coalesce(element_at(bandSignatureCols(emb, 1, NumPlanes), 1), lit(0))

  /** Banded LSH signatures for PAIR GENERATION (vs [[signatureCol]]'s
    * single probe bucket): `bands` independent `r`-bit signatures,
    * band b over hyperplanes b·r … b·r+r−1 of the same deterministic
    * family. Emitted as an array<int> so a candidate join can explode
    * per band. Computed by the fused native
    * [[graft.functions.HyperplaneProbes]] with no flip probes (t = 0):
    * bands·r separate HOF plane dots interpreted per row would
    * dominate the whole near-dup query (the kernel is spec-pinned
    * equal to [[bandSignatureColsHof]]).
    */
  def bandSignatureCols(emb: Column, bands: Int, r: Int): Column =
    graft.functions.HyperplaneProbes.hyperplane_probes(emb, bands, r, Dim, 0)

  /** The per-plane HOF formulation [[bandSignatureCols]] fuses —
    * retained as the equivalence oracle the kernel's specs compare
    * against.
    */
  private[graft] def bandSignatureColsHof(emb: Column, bands: Int, r: Int): Column =
    array((0 until bands).map { b =>
      (0 until r).map { j =>
        when(planeDot(emb, b * r + j) >= 0, lit(1 << j)).otherwise(lit(0))
      }.reduce(_ + _)
    }: _*)

  /** Shared top-k tail: given (neighbor_id, embedding, …) joined with
    * broadcast (query_id, q_emb, …), score with [[CosineSim]], rank
    * per query (cos desc, neighbor_id asc — total order), keep K.
    */
  private def rankTopK(joined: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc_nulls_last, col("neighbor_id").asc)
    joined
      .withColumn("cos", cosine_sim(col("q_emb"), col("embedding")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= K)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("cos"))
  }

  /** Exact brute-force top-k neighbors for the first [[NumQueries]]
    * vectors (self excluded), rank tiebroken by neighbor id.
    */
  def bruteForceTopK(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.embeddings(spark, sfDir)
    val q = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    rankTopK(
      e.select(col("vec_id").as("neighbor_id"), col("embedding"))
        .join(broadcast(q), col("neighbor_id") =!= col("query_id")))
  }

  /** LSH-bucketed approximate top-k: queries score only vectors in
    * their own hyperplane bucket. Same output shape as the baseline.
    */
  def lshTopK(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.embeddings(spark, sfDir)
      .withColumn("bucket", signatureCol(col("embedding")))
    val q = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("bucket").as("q_bucket"))
    rankTopK(
      e.select(col("vec_id").as("neighbor_id"), col("embedding"), col("bucket"))
        .join(broadcast(q),
          col("bucket") === col("q_bucket") && col("neighbor_id") =!= col("query_id")))
  }

  val NumCells = 16

  /** IVF-flat ANN: the corpus is partitioned into [[NumCells]] cells
    * by nearest centroid (centroids = the first [[NumCells]] vectors —
    * a deterministic, engine-portable init; real systems would k-means
    * these, which no SQL oracle can reproduce). Queries probe only
    * their own cell. Complements [[lshTopK]]: IVF cells adapt to the
    * data distribution where hyperplane buckets are data-oblivious.
    *
    * Scale shape: the [[NumCells]] centroids are inlined as literals,
    * so assignment is a zero-shuffle map-only pass over one corpus
    * scan (per-row cosine array + argmax); probe joins on the cell id.
    * At 100 TB you'd write `assigned` out partitioned by cell and
    * probe with partition pruning.
    */
  /** Deterministic init: the first [[NumCells]] vectors, as plain
    * float arrays (16 rows — a bounded collect at any corpus size).
    */
  private[graft] def firstNCentroids(e: DataFrame): Array[Array[Float]] =
    e.filter(col("vec_id") < NumCells)
      .select(col("vec_id"), col("embedding"))
      .collect()
      .sortBy(_.getLong(0))
      .map(_.getSeq[Float](1).toArray)

  /** Nearest-centroid assignment against inlined centroid literals:
    * a zero-shuffle map-only projection, one codegen'd cosine per
    * centroid per row. (The previous form — crossJoin + row_number
    * over Window.partitionBy(vec_id) — exchanged NumCells× the corpus
    * just to take a per-row argmax.) argmax = first position of the
    * max (1-based), so ties resolve to the lowest cent_id, matching
    * the oracle's (cos DESC, cent_id ASC) rank.
    */
  private[graft] def assignWith(e: DataFrame, cents: Array[Array[Float]]): DataFrame = {
    // zero centroids (empty corpus): array() types as array<null> and
    // the argmax expression fails ANALYSIS — emit a null cell instead
    // (there are no rows to assign anyway)
    if (cents.isEmpty)
      return e.withColumn("cell", lit(null).cast("int"))
    val centCols = cents.toIndexedSeq.map(c => array(c.toIndexedSeq.map(lit): _*))
    val cosArr = array(centCols.map(c => cosine_sim(col("embedding"), c)): _*)
    // withColumn, not select: metadata columns (label, …) ride along
    // with the assignment, so a filtered probe or a partitioned index
    // write keeps them without a second join against the corpus
    e.withColumn("cell",
      (PortableHash.bind(cosArr)(a => array_position(a, array_max(a))) - 1)
        .cast("int"))
  }

  def ivfAssign(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.embeddings(spark, sfDir)
    assignWith(e, firstNCentroids(e))
  }

  /** Lloyd-refined centroids: `iters` k-means iterations from the
    * deterministic first-N init. Each iteration is one map-only
    * assignment pass plus one aggregation whose result is 16×[[Dim]]
    * values collected to the driver — the classic big-data k-means
    * shape (the corpus is never shuffled by more than a groupBy on
    * (cell, dim), and per-iteration driver state is ~4 KB).
    *
    * Determinism: per-dimension means accumulate FIXED-POINT
    * (`floor(v·2³⁰ + 0.5)` BIGINT partials, the [[centroidsOf]]
    * scheme — associative, so partition order can't change the
    * result), then one double division rounds to float. Every step
    * is engine-portable arithmetic, which is what lets the full
    * 3-iteration Lloyd loop carry a DuckDB oracle (unrolled CTEs) —
    * DECIMAL means would diverge cross-engine on the float→decimal
    * cast itself.
    */
  def kmeansCentroids(spark: SparkSession, sfDir: String, iters: Int = 3): Array[Array[Float]] =
    kmeansCentroidsOf(Tables.embeddings(spark, sfDir), iters)

  private[llm] def kmeansCentroidsOf(e: DataFrame, iters: Int): Array[Array[Float]] = {
    val scale = 1L << 30
    var cents = firstNCentroids(e)
    for (_ <- 1 to iters) {
      val means = assignWith(e, cents)
        .select(col("cell"), posexplode(col("embedding")).as(Seq("dim", "v")))
        .groupBy(col("cell"), col("dim"))
        .agg(sum(floor(col("v").cast("double") * scale + lit(0.5))
          .cast("long")).as("s"), count(lit(1)).as("n"))
        .select(col("cell"), col("dim"),
          (col("s").cast("double") / (col("n").cast("double") * scale.toDouble))
            .cast("float").as("m"))
        .collect()
        .groupBy(_.getInt(0))
        .map { case (cell, rows) =>
          cell -> rows.sortBy(_.getInt(1)).map(_.getFloat(2))
        }
      // a cell that lost every member keeps its previous centroid
      cents = Array.tabulate(cents.length)(c => means.getOrElse(c, cents(c)))
    }
    cents
  }

  /** Shared IVF probe: queries score only their own cell. */
  private[llm] def probeTopK(assigned: DataFrame,
      queryPred: Column = col("vec_id") < NumQueries): DataFrame = {
    val q = assigned.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("cell").as("q_cell"))
    rankTopK(
      assigned
        .select(col("vec_id").as("neighbor_id"), col("embedding"), col("cell"))
        .join(broadcast(q),
          col("cell") === col("q_cell") && col("neighbor_id") =!= col("query_id")))
  }

  /** IVF-probed approximate top-k, same output shape as the exact
    * baseline.
    */
  def ivfTopK(spark: SparkSession, sfDir: String): DataFrame =
    probeTopK(ivfAssign(spark, sfDir))

  val NumProbes = 4

  /** Multi-probe IVF: each query scans its [[NumProbes]] nearest
    * cells instead of one — the standard recall/cost knob (recall is
    * provably monotone in the probe count: a true top-k neighbor in
    * the candidate pool always survives the final rank). Query-side
    * cell selection is a per-row sort of the [[NumCells]] centroid
    * cosines (map-only, centroid literals); the corpus side is the
    * same single assignment pass as [[ivfTopK]], and the probe join
    * fans each query out to NumProbes equi-join keys.
    */
  def ivfMultiProbeTopK(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.embeddings(spark, sfDir)
    val cents = firstNCentroids(e)
    multiProbeTopKOf(e, cents, assignWith(e, cents))
  }

  /** Core of [[ivfMultiProbeTopK]] over an existing centroid set and
    * assignment frame — lets [[annRecall]] share ONE centroid collect
    * and ONE assignment pass between its ivf and multiprobe branches.
    */
  private[llm] def multiProbeTopKOf(e: DataFrame, cents: Array[Array[Float]],
      assigned: DataFrame): DataFrame = {
    if (cents.isEmpty)
      // empty corpus: no cells to rank; the single-probe path already
      // yields the correct empty result
      return probeTopK(assigned)
    val centCols = cents.map(c => array(c.toIndexedSeq.map(lit): _*))
    // struct sort key (-cos, cent_id): ascending lexicographic order
    // = (cos desc, cent_id asc), matching the single-probe tiebreak
    val ranked = array_sort(array(cents.indices.map(i =>
      struct((-cosine_sim(col("embedding"), centCols(i))).as("negcos"),
        lit(i).as("cent"))): _*))
    val q = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        explode(transform(slice(ranked, 1, NumProbes), s => s("cent")))
          .as("q_cell"))
    rankTopK(
      assigned
        .select(col("vec_id").as("neighbor_id"), col("embedding"), col("cell"))
        .join(broadcast(q),
          col("cell") === col("q_cell") && col("neighbor_id") =!= col("query_id")))
  }

  /** IVF top-k over k-means-refined cells: same probe cost as
    * [[ivfTopK]] (one cell per query), data-adapted cells → higher
    * recall where the corpus actually clusters (SimilaritySpec
    * asserts the lift on clustered ground-truth data with a
    * degenerate cluster-sorted init; the isotropic synthetic corpus
    * can only show parity). Not SQL-oracle-checked: 3 unrolled float
    * k-means iterations are not portably expressible — the driver
    * records a rows-only check, and the recall/determinism guarantees
    * live in the spec.
    */
  def ivfKmeansTopK(spark: SparkSession, sfDir: String): DataFrame =
    probeTopK(assignWith(Tables.embeddings(spark, sfDir),
      kmeansCentroids(spark, sfDir)))

  /** On-disk IVF index: the [[ivfAssign]] output written as parquet
    * PARTITIONED BY cell — the materialization the [[ivfTopK]]
    * scaladoc promises for corpus scale: assign once, write once,
    * then every probe batch reads ONLY its cells' partitions.
    */
  def writeIvfIndex(spark: SparkSession, sfDir: String, path: String): Unit =
    ivfAssign(spark, sfDir).write.mode("overwrite").partitionBy("cell").parquet(path)

  /** Probe the on-disk index: top-k for the first [[NumQueries]]
    * vectors, scanning only their cells via PARTITION PRUNING — the
    * query set is bounded, so collecting its distinct cells is O(k),
    * and the resulting static IN-filter reaches the scan as a
    * PartitionFilter (asserted in SimilaritySpec): at [[NumCells]]
    * cells a single-cell probe reads 1/NumCells of the index, no
    * matter how large the corpus. Output is identical to [[ivfTopK]].
    */
  def probeIvfIndex(spark: SparkSession, path: String): DataFrame = {
    // explicit schema: no footer-sampling inference pass over the
    // index, and a zero-row index (no files, only the dir) still
    // reads as a typed empty relation
    val idx = spark.read
      .schema("vec_id BIGINT, embedding ARRAY<FLOAT>, label INT, cell INT")
      .parquet(path)
    val q = idx.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("cell").as("q_cell"))
    val cells = q.select(col("q_cell")).distinct().collect()
      .filterNot(_.isNullAt(0)).map(_.getInt(0))
    val corpus =
      if (cells.isEmpty) idx.filter(lit(false))
      else idx.filter(col("cell").isin(cells.toIndexedSeq: _*))
    rankTopK(
      corpus
        .select(col("vec_id").as("neighbor_id"), col("embedding"), col("cell"))
        .join(broadcast(q),
          col("cell") === col("q_cell") && col("neighbor_id") =!= col("query_id")))
  }

  /** Registered end-to-end form: materialize the partitioned index
    * (to a deterministic per-corpus temp path), then probe it.
    * Output — and oracle — identical to [[ivfTopK]]: the index is a
    * physical layout change, never a semantic one.
    */
  def ivfIndexProbeTopK(spark: SparkSession, sfDir: String): DataFrame = {
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_ivf_index_" +
      java.lang.Integer.toHexString(sfDir.hashCode)
    writeIvfIndex(spark, sfDir, path)
    probeIvfIndex(spark, path)
  }

  /** Per-label embedding centroids via FIXED-POINT pooling: each
    * component quantizes to `floor(v·2³⁰ + 0.5)` on the double
    * widening of the float (floor-half-up — the [[sq8Col]] trick,
    * exact in both engines), accumulates as BIGINT (associative, so
    * partition order can't change the result), and divides back as
    * one double division at the end. Exact DECIMAL would be the
    * natural choice, but the float→decimal CAST itself rounds
    * differently in Spark (binary value) and DuckDB (shortest
    * string), so decimal sums diverge in the last digits; fixed
    * point sidesteps the cast at a documented 2⁻³⁰ per-component
    * quantization — far below the float's own resolution here.
    *
    * Scale: associative BIGINT partials ARE the 100 TB shape —
    * map-side combine, 24-byte shuffle rows, no per-group
    * materialization (an ordered-fold over collect_list would be
    * bit-exact too but holds whole groups in memory). Headroom:
    * |q| < 2³⁵ per component, so ~2²⁸ rows per (label, dim) group
    * fit in a signed 64-bit sum even at |v| ≈ 16; beyond that,
    * pre-aggregate per partition range or widen to decimal partials.
    */
  def labelCentroids(spark: SparkSession, sfDir: String): DataFrame =
    centroidsOf(Tables.embeddings(spark, sfDir))

  /** Core over any (label, embedding) frame — batch or streaming:
    * the BIGINT partials are associative, so the same plan is a valid
    * incremental streaming aggregate (24-byte state per (label, dim))
    * whose drained result is bit-identical to the batch pooling
    * (asserted in StreamBatchParitySpec).
    */
  def centroidsOf(emb: DataFrame): DataFrame = {
    val scale = 1L << 30
    emb
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .groupBy(col("label"), col("dim"))
      .agg(sum(floor(col("v").cast("double") * scale + lit(0.5))
          .cast("long")).as("s"),
        count(lit(1)).as("n"))
      .select(col("label").cast("long").as("label"),
        col("dim").cast("long").as("dim"),
        (col("s").cast("double") / (col("n").cast("double") * scale.toDouble))
          .as("centroid"),
        col("n"))
  }

  /** Filtered vector search: top-k neighbors subject to a metadata
    * predicate — here same-`label` as the query, standing in for any
    * category/tenant/language constraint. The predicate rides the
    * CANDIDATE join (`cell = q.cell AND label = q.label`), not a
    * post-rank filter: post-filtering a plain top-k silently returns
    * fewer than k survivors and loses the allowed-set neighbors the
    * unfiltered rank crowded out, while pre-filtering ranks over
    * exactly the allowed set. Same single map-only assignment pass as
    * [[ivfTopK]]; at 100 TB the label becomes a second partition
    * column of the on-disk index ([[writeIvfIndex]] already carries
    * it) so the probe prunes on (cell, label) files directly.
    */
  def filteredTopK(spark: SparkSession, sfDir: String): DataFrame = {
    val assigned = ivfAssign(spark, sfDir)
    val q = assigned.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("cell").as("q_cell"), col("label").as("q_label"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc_nulls_last, col("neighbor_id").asc)
    assigned
      .select(col("vec_id").as("neighbor_id"), col("embedding"),
        col("cell"), col("label"))
      .join(broadcast(q),
        col("cell") === col("q_cell") && col("label") === col("q_label")
          && col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", cosine_sim(col("q_emb"), col("embedding")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= K)
      .select(col("query_id"), col("neighbor_id"),
        col("label").cast("long").as("label"), col("rank"), col("cos"))
  }

  /** Hard-negative mining for contrastive training: for each anchor
    * (the [[NumQueries]] query vectors), the top-[[K]] most-similar
    * vectors of a DIFFERENT label — the highest-loss negatives a
    * triplet/InfoNCE trainer wants, where random negatives are
    * trivially easy and same-label neighbors are false negatives.
    * The label inequality rides the broadcast candidate join (it
    * also implies neighbor ≠ anchor), so the corpus is scanned once
    * and never shuffled — the [[bruteForceTopK]] shape; at 100 TB
    * the IVF-cell pruning of [[filteredTopK]] composes the same way
    * with `=!=` instead of `===`.
    */
  def hardNegatives(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.embeddings(spark, sfDir)
    val q = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("label").as("q_label"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc_nulls_last, col("neighbor_id").asc)
    e.select(col("vec_id").as("neighbor_id"), col("embedding"),
        col("label").as("n_label"))
      .join(broadcast(q), col("n_label") =!= col("q_label"))
      .withColumn("cos", cosine_sim(col("q_emb"), col("embedding")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= K)
      .select(col("query_id"), col("q_label").cast("long").as("q_label"),
        col("neighbor_id"), col("n_label").cast("long").as("n_label"),
        col("rank"), col("cos"))
  }

  /** MMR (maximal marginal relevance) re-ranking dials: pool size of
    * the relevance shortlist, number of selections, and the λ / (1−λ)
    * relevance-vs-diversity weights — kept as two separate double
    * LITERALS (0.7, 0.3) because `1 − 0.7` computed in binary is
    * 0.30000000000000004, which would diverge from the oracle's
    * parsed `0.3`.
    */
  val MmrPool = 20
  val MmrK = 5

  /** MMR-diversified top-k: greedy re-ranking of each query's
    * relevance shortlist where step i picks
    * `argmax_d 0.7·cos(q,d) − 0.3·max_{s∈S} cos(d,s)` — the classic
    * Carbonell–Goldstein selection that stops the top of a dense
    * cluster from crowding out every other neighborhood. The
    * shortlist (top-[[MmrPool]] by cosine) is built by the same
    * broadcast-queries corpus scan as [[bruteForceTopK]]; the K
    * greedy steps then run as ONE GROUPED PASS (`flatMapGroups` per
    * query) over that shortlist. A closure is the right tool here by
    * measurement, not convenience: each group is ≤ [[MmrPool]] rows
    * BY CONSTRUCTION (the rank filter), so the greedy loop is O(K ·
    * pool² · dim) on a few KB of data per query — while the previous
    * iteration-as-plan-stages construction (each of K steps a
    * pen-join + rank-1 window, every pick and the pool
    * localCheckpoint-staged against the 2^K plan re-expansion) paid
    * 11 checkpoint materializations + 5 join/window stage chains per
    * run: measured 1.39 → 0.47 s at sf0.1 min-of-3. At corpus scale
    * the grouped form also shuffles the pool exactly once (it is
    * already NumQueries·pool-bounded), instead of K anti-join passes.
    *
    * Ties break (score desc NULLS LAST, neighbor_id asc). The oracle
    * unrolls the K steps as CTEs, the [[ivfKmeansTopK]] discipline;
    * scores stay bit-identical because the closure replays the exact
    * IEEE sequences of the previous plan: [[graft.functions.CosineSim.score]]
    * for the penalty cosines (NaN ≡ SQL null, skipped like SQL `max`
    * skips nulls — a candidate whose penalties are ALL null scores
    * null, and a null cos scores null, exactly as `0.7·cos − 0.3·pen`
    * null-propagates), primitive double comparison for the argmax
    * (−0.0 == 0.0, ties to the lower id, matching the window sort),
    * and the same two-literal 0.7/0.3 blend. SimilaritySpec's
    * driver-side greedy reference asserts exact map equality
    * including scores; the DuckDB oracle hash-checks the same rows
    * at every gate SF.
    */
  def mmrTopK(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.embeddings(spark, sfDir)
    val q = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc_nulls_last, col("neighbor_id").asc)
    val pool = e.select(col("vec_id").as("neighbor_id"), col("embedding"))
      .join(broadcast(q), col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", cosine_sim(col("q_emb"), col("embedding")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= MmrPool)
      .select(col("query_id"), col("neighbor_id"), col("embedding"),
        col("cos"))
    import spark.implicits._
    // (score desc NULLS LAST, id asc) — the pick window's order. The
    // double compare is primitive (<, >), so −0.0 ties 0.0 and the id
    // decides, matching Spark's SQL ordering on the previous plan.
    def beats(s1: Option[Double], id1: Long,
        s2: Option[Double], id2: Long): Boolean = (s1, s2) match {
      case (Some(x), Some(y)) =>
        if (x > y) true else if (x < y) false else id1 < id2
      case (Some(_), None) => true
      case (None, Some(_)) => false
      case (None, None) => id1 < id2
    }
    pool.as[(Long, Long, Array[Float], Option[Double])]
      .groupByKey(_._1)
      .flatMapGroups { (qid: Long,
          it: Iterator[(Long, Long, Array[Float], Option[Double])]) =>
        val remaining = scala.collection.mutable.ArrayBuffer.empty[
          (Long, Array[Float], Option[Double])]
        it.foreach { case (_, nid, emb, cos) => remaining += ((nid, emb, cos)) }
        val selEmbs = scala.collection.mutable.ArrayBuffer.empty[Array[Float]]
        val out = scala.collection.mutable.ArrayBuffer.empty[
          (Long, Long, Int, Option[Double])]
        var i = 1
        while (i <= MmrK && remaining.nonEmpty) {
          var bestJ = -1
          var bestScore: Option[Double] = None
          var bestId = Long.MaxValue
          var j = 0
          while (j < remaining.length) {
            val (nid, emb, cosOpt) = remaining(j)
            val score: Option[Double] =
              if (selEmbs.isEmpty) cosOpt.map(0.7 * _)
              else {
                // pen = max over selected of cosine(emb, sel_emb);
                // NaN (the score() spelling of SQL null) is skipped
                // like SQL max skips nulls
                var pen = 0.0
                var any = false
                selEmbs.foreach { se =>
                  // null embeddings score NaN ≡ SQL null (the replaced
                  // plan's cosine_sim null-propagated and SQL max
                  // skipped the row; a null emb can reach here when a
                  // query has fewer than MmrPool non-null-cos
                  // candidates — ADVICE r16)
                  val s =
                    if (emb == null || se == null) Double.NaN
                    else graft.functions.CosineSim.score(emb, se)
                  if (!s.isNaN && (!any || s > pen)) { pen = s; any = true }
                }
                if (any) cosOpt.map(c => 0.7 * c - 0.3 * pen) else None
              }
            if (bestJ < 0 || beats(score, nid, bestScore, bestId)) {
              bestJ = j; bestScore = score; bestId = nid
            }
            j += 1
          }
          out += ((qid, bestId, i, bestScore))
          selEmbs += remaining(bestJ)._2
          remaining.remove(bestJ)
          i += 1
        }
        out.iterator
      }
      .toDF("query_id", "neighbor_id", "sel_rank", "score")
  }

  /** Band count of the registered near-dup dial below 2^18 reps — the
    * B in (B, r, t). Candidate cost is bands · Σ bucket² ≈ B·n²/2^r
    * for the non-dup mass, so `r` is the LOG-N DIAL that keeps
    * per-bucket occupancy O(1) ([[nearDupRepPlanesFor]]) and `B` buys
    * recall back: a pair is a candidate if ANY band collides. Any
    * FIXED (B, r) is quadratic with a constant (the round-8 ×100
    * ScaleUp probe measured a single 4-bit band at 112× time for 100×
    * data), which is why r is sized from the data, the way IVF sizes
    * its cell count. 64 bands with [[NearDupProbes]] margin flips per
    * band is the measured recall/cost point over the registered
    * corpora's range (grids in BASELINE.md).
    */
  val NearDupBands = 64

  /** Lowest-margin one-bit-flip probes per band below 2^18 reps — the
    * t in (B, r, t). Probing each band's `t` lowest-|margin| flip
    * buckets ([[nearDupPairsMultiProbe]],
    * [[graft.functions.HyperplaneProbes]]) recovers most
    * Hamming-distance-1 collisions at probe factor t+1; probing ALL r
    * bits reached recall 0.939 but ~1.4 B probe rows at the ×1000
    * corpus (spill death), so the margins are the whole trick. With
    * the rep-sized width, (64, bitLen(reps)−2, 2) measured 0.976
    * recall at sf0.1 against brute-force truth and 0.855 planted at
    * n = 200k (PlantedRecallProbe; BASELINE.md).
    */
  val NearDupProbes = 2

  /** Per-band signature width of the registered near-dup dial:
    * r = bitLen(reps) − 2, clamped to [5, 31], where `reps` is the
    * DISTINCT-embedding count. That holds λ = reps/2^r ∈ [2, 4)
    * expected reps per band-bucket at every scale; it is integer-exact
    * (bit length, no float log) and mirrored in SQL over
    * `SELECT DISTINCT embedding`.
    *
    *  - Reps, not rows: the LSH hashes one rep per distinct embedding
    *    ([[nearDupWithDupCollapse]]), so sizing from the raw count
    *    would over-deepen by log₂(dup factor) bits (the ×1000 ScaleUp
    *    corpus: 2M rows, ~62k reps).
    *  - λ ∈ [2, 4), not λ ≈ 1: per-band collision probability
    *    (1−θ/π)^r decays exponentially in r, while rescore cost grows
    *    only linearly in occupancy. At n = 200k the λ ≈ 1 width
    *    measured 0.619 planted recall; two bits shallower measures
    *    0.855, cheaper (BASELINE.md).
    *  - Uncapped in n: a width cap freezes recall but makes candidate
    *    mass quadratic (15.3 B pre-distinct rows at 1M reps under an
    *    r ≤ 16 cap, BASELINE.md round 14). Deepening r keeps per-bucket
    *    junk O(1); [[nearDupRepDialFor]] buys the recall back with
    *    bands and [[nearDupGateFor]] drops the residual junk map-side.
    *  - Ceiling 31: a band bucket is a non-negative Int in the
    *    hyperplane kernels, which reject r > 31. It binds only past
    *    2^33 distinct reps, where λ grows with n again and
    *    [[nearDupMassGuard]] prices that growth and refuses past
    *    budget.
    */
  def nearDupRepPlanesFor(reps: Long): Int =
    math.max(5, math.min(31, bitLen(reps) - 2))

  /** Bit length of a count (0 for n ≤ 0): ⌊log₂ n⌋ + 1 without floats. */
  private def bitLen(n: Long): Int =
    if (n <= 0) 0 else 64 - java.lang.Long.numberOfLeadingZeros(n)

  /** The registered (bands, r, probes) rule, from the DISTINCT-rep
    * count; r is always [[nearDupRepPlanesFor]]:
    *
    *  - bitLen(reps) ≤ 18 (reps < 2^18): ([[NearDupBands]], r,
    *    [[NearDupProbes]]). Every registered corpus lives here and the
    *    DuckDB oracle mirrors this branch.
    *  - beyond: B = round(256·2^((bitLen−19)/2)) — 256, 362, 512, 724,
    *    1024, 1448 for bitLen 19–24 — t = 3, plus the SQ8 candidate
    *    pre-gate ([[nearDupGateFor]]). Each bit of r halves the junk
    *    mass while a planted pair's per-band collision falls only
    *    ~0.7×, so doubling bands per 2 bits of r holds recall and total
    *    work lands at the classic n^(1+ρ) ≈ n^1.5 instead of n². Bands
    *    need not be powers of two (a band is just an r-plane group of
    *    the deterministic family); the √2 half-steps keep recall flat
    *    to ~0.007 per bit, where power-of-two bands sawtooth ~0.05
    *    between even and odd bit lengths. Candidate mass is
    *    n·B·(t+1)·λ·2 pre-gate ([[nearDupProjectedCandidates]]).
    *    Measured at 1M reps (round-15 planted and mass grids,
    *    BASELINE.md): 0.886 planted recall, 1.5 B rows into the
    *    dedup exchange; 10M reps is not yet measured under this rule.
    *
    * An all-pairs oracle is not runnable past 2^18 reps, so
    * [[graft.PlantedRecallProbe]] is the measurement instrument there.
    */
  def nearDupRepDialFor(reps: Long): (Int, Int, Int) = {
    val r = nearDupRepPlanesFor(reps)
    if (bitLen(reps) <= 18) (NearDupBands, r, NearDupProbes)
    else {
      val b = math.round(4 * NearDupBands *
        math.pow(2.0, (bitLen(reps) - 19) / 2.0)).toInt
      (b, r, 3)
    }
  }

  /** Worst-case SQ8 cosine error bound at dimension d (ADVICE r15):
    * per-component quantization error is ≤ max|v|/254 (floor-half-up
    * at scale 127/max|v|), so the quantized vector sits within an
    * L2 ball of radius √d·max|v|/254 around the true one — an angle
    * perturbation of at most √d·max|v|/(254·‖v‖) ≤ √d/254 per
    * vector, with equality approached by SPIKE-DOMINATED vectors
    * (‖v‖ → max|v|, the sub-LSB tail mass all rounds away). Cosine
    * moves by at most the sum of the two angle perturbations:
    * 2√d/254 — 0.063 at dim 64. The EMPIRICAL error on dense
    * embedding-like corpora is an order smaller (< 0.02, Sq8GateSpec
    * random vectors), but a gate margin sized to the empirical
    * figure silently loses true pairs on adversarial or highly
    * skewed corpora — so the margin is derived from THIS bound.
    */
  def sq8ErrBound(dim: Int): Double = 2.0 * math.sqrt(dim.toDouble) / 254.0

  /** SQ8 pre-gate threshold: candidates whose int8-quantized cosine
    * ([[graft.functions.Sq8Gate]]) falls below this are dropped
    * BEFORE the pair-dedup exchange. DERIVED: the 0.35 scoring gate
    * minus the worst-case quantizer bound [[sq8ErrBound]] (0.063 at
    * dim 64 → tau ≈ 0.287), so "the pre-gate cannot drop a pair the
    * final gate keeps" is STRUCTURAL for any input — including
    * spike-dominated vectors whose error exceeds the empirical
    * < 0.02 (ADVICE r15; the r15 shipped 0.30 was safe empirically
    * but not adversarially). The price is a slightly higher junk
    * keep-rate at the boundary (~0.01 of gate-band mass vs 0.30 on
    * the isotropic probe corpus); [[nearDupMassGuard]] prices the
    * exchange at worst-case keep, independently of it.
    */
  val NearDupGateTau = 0.35 - sq8ErrBound(Dim)

  /** The pre-gate is enabled exactly where the band-doubling branch
    * is: past 2^18 reps. Registered corpora (≤ 2k reps) never see
    * it, so oracle hashes are untouched; past the cap it is what
    * makes the n^1.5 dial's residual λ-junk affordable (the r14
    * 1M-rep DNF ran ungated).
    */
  def nearDupGateFor(reps: Long): Option[Double] =
    if (bitLen(reps) <= 18) None else Some(NearDupGateTau)

  /** Projected PRE-DISTINCT candidate rows of the registered
    * multiprobe shape at (reps, bands, r, t) — the n·B·(t+1)·λ·2
    * model the r14 CandidateMassProbe validated to 2% at 1M reps.
    */
  def nearDupProjectedCandidates(reps: Long, bands: Int, r: Int,
      t: Int): Double =
    reps.toDouble * bands * (t + 1) * (reps.toDouble / (1L << r)) * 2.0

  /** Mass guard on the registered near-dup entry point: before any
    * heavy work, project the candidate rows the dial pushes into the
    * pair-dedup exchange ([[nearDupProjectedCandidates]], at the
    * worst-case gate keep of 1.0: the [[NearDupGateTau]] pre-gate's
    * measured junk keep-rate, 0.117 on the ISOTROPIC 1M-rep probe
    * corpus (BASELINE.md round 15), is a best case that clustered
    * corpora exceed, so projecting with it would under-project by up
    * to ~1/keep) and REFUSE when they exceed `maxCandidateRows`
    * ([[embeddingNearDup]]'s default 1e11 ≈ 1.6 TB of 16 B pair rows,
    * far past any single box). The refusal names the remedies in
    * preference order: collapse duplicate mass first
    * ([[nearDupWithDupCollapse]] — the rep discipline is why the
    * ×1000 corpus's 2M rows hash only 62k reps) or pre-bucket the
    * corpus. A corpus that would not complete on its disk (the
    * round-14 DNF, BASELINE.md) fails at plan time instead of with an
    * ENOSPC hours in.
    */
  def nearDupMassGuard(reps: Long, bands: Int, r: Int, t: Int,
      maxCandidateRows: Double): Unit = {
    val projected = nearDupProjectedCandidates(reps, bands, r, t)
    if (projected > maxCandidateRows)
      throw new IllegalStateException(
        f"near-dup dial (B=$bands, r=$r, t=$t) over $reps%,d reps " +
          f"projects $projected%,.0f candidate rows into the pair-dedup " +
          f"exchange, over maxCandidateRows=$maxCandidateRows%,.0f. " +
          "Collapse duplicate reps first (nearDupWithDupCollapse) or " +
          "pre-bucket the corpus.")
  }

  /** Embedding-cosine near-duplicate pairs (cos >= 0.35, a < b) — the
    * registered `q_embed_near_dup`. Exact duplicates collapse to one
    * rep per distinct embedding ([[nearDupWithDupCollapse]]); the reps
    * get their candidates from banded hyperplane LSH with margin-aware
    * multiprobe ([[nearDupPairsMultiProbe]]), so cost is Σ per-band
    * bucket² × (t+1) instead of n² — the shape that survives a 100 TB
    * corpus. The (B, r, t) point is [[nearDupRepDialFor]] of the rep
    * count, behind the SQ8 pre-gate past 2^18 reps
    * ([[nearDupGateFor]]) and the [[nearDupMassGuard]] refusal past
    * `maxCandidateRows`. Recall vs the exhaustive pair set
    * ([[embeddingNearDupBrute]]) is measured in SimilaritySpec.
    */
  def embeddingNearDup(spark: SparkSession, sfDir: String,
      maxCandidateRows: Double = 1e11): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    val members = nearDupMemberTable(emb)
    val reps = nearDupRepsOf(members)
    // one bounded planning action (a count over the staged member
    // table, which the pair construction reuses): the dial is sized
    // from the rep population the LSH actually hashes
    val n = reps.count()
    val (bands, r, t) = nearDupRepDialFor(n)
    val gate = nearDupGateFor(n)
    nearDupMassGuard(n, bands, r, t, maxCandidateRows)
    nearDupCollapsedPairs(members, reps, bands, r, t, gate)
  }

  /** [[nearDupPairsMultiProbe]] behind an EXACT-DUPLICATE collapse —
    * the [[graft.llm.Dedup]] sigTable rep discipline carried to
    * embeddings, and the fix the ×1000 probe demanded: a corpus with
    * heavy identical-vector mass (web-scale reality, and literally
    * the ScaleUp corpus, whose rotations repeat mod 16) makes every
    * duplicate pair collide in EVERY band, so the candidate multiset
    * entering the pair-dedup grows as dup-pairs × bands (measured:
    * spill death at 2M vectors / ~60M dup pairs where the collapsed
    * run completes). Identical vectors have identical signatures,
    * probes, and cosines, so LSH over one representative per
    * distinct embedding plus an exact expansion afterward returns
    * EXACTLY the same pair set — no approximation, no oracle change:
    *
    *  - cross-group: every member combination of a colliding rep
    *    pair is a pair in the direct construction too (same sigs →
    *    same collision; same embeddings → same cos);
    *  - within-group: identical vectors always collide (band 0) and
    *    pass the cos gate at ≈1.0, on both constructions.
    *
    * `EmbedDupCollapseSpec` asserts the row-set identity on a
    * planted duplicated corpus.
    */
  def nearDupWithDupCollapse(emb: DataFrame, bands: Int, r: Int,
      t: Int = NearDupProbes, gate: Option[Double] = None): DataFrame = {
    val members = nearDupMemberTable(emb)
    nearDupCollapsedPairs(members, nearDupRepsOf(members), bands, r, t, gate)
  }

  /** (vec_id, embedding, rep) with rep = min member id per distinct
    * embedding — one hash shuffle keyed by the embedding itself,
    * staged because both the rep-count planning action and the pair
    * construction read it.
    */
  private def nearDupMemberTable(emb: DataFrame): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    graft.Materialize.stage(
      emb.select(col("vec_id"), col("embedding"))
        .withColumn("rep",
          min(col("vec_id")).over(W.partitionBy(col("embedding")))),
      eager = false)
  }

  private def nearDupRepsOf(members: DataFrame): DataFrame =
    members.filter(col("vec_id") === col("rep"))
      .select(col("vec_id"), col("embedding"))

  private def nearDupCollapsedPairs(members: DataFrame, reps: DataFrame,
      bands: Int, r: Int, t: Int, gate: Option[Double]): DataFrame = {
    val repPairs = nearDupPairsMultiProbe(reps, bands, r, t, gate)
    val m = members.select(col("rep"), col("vec_id").as("member"))
    val cross = repPairs
      .join(m.select(col("rep").as("vec_a"), col("member").as("ma")), "vec_a")
      .join(m.select(col("rep").as("vec_b"), col("member").as("mb")), "vec_b")
      .select(least(col("ma"), col("mb")).as("vec_a"),
        greatest(col("ma"), col("mb")).as("vec_b"), col("cos"))
    val within = members
      .join(members.select(col("rep"), col("vec_id").as("mb")), "rep")
      .filter(col("vec_id") < col("mb"))
      .select(col("vec_id").as("vec_a"), col("mb").as("vec_b"),
        cosine_sim(col("embedding"), col("embedding")).as("cos"))
      .filter(col("cos") >= 0.35)
    cross.unionByName(within)
  }

  /** Banded-LSH near-dup pairs (cos ≥ 0.35) with MULTI-PROBE — the
    * IVF-multiprobe discipline applied to LSH: besides its exact
    * bucket, each vector PROBES the `t` one-bit-flip neighbor buckets
    * at its SMALLEST sign margins per band
    * ([[graft.functions.HyperplaneProbes]], the Panigrahy/Lv probe
    * sequence): a near-dup's differing bit
    * has a near-zero margin on both sides, so the few lowest-margin
    * flips capture most Hamming-distance-1 collisions (collision
    * prob per band ≈ q^r + r·q^(r−1)(1−q) at t = r) at probe factor
    * t+1 instead of r+1 — all-bit probing measured 1.4B probe rows
    * (spill death) at the ×1000 corpus where t = 1 is 2× the index.
    *
    * BOTH exploded sides are SLIM (vec_id, band, bucket — no
    * embedding, no signature arrays): carrying the 64-float
    * embedding through the probe explode would multiply the dominant
    * shuffle by t+1. Candidates are normalized (least, greatest) —
    * margin probing is per-vector, so the pair is found whichever
    * side's probe lands — then `distinct`-deduped, and the
    * embeddings come back in one rescore join per side: the
    * [[graft.llm.Dedup.containmentPairs]] slim-index / rescore
    * discipline.
    *
    * `t = 0` is the exact-bucket pair set: a pair survives iff it
    * shares a bucket in some band (SimilaritySpec measures recall
    * per (bands, r) config through it).
    *
    * `gate = Some(τ)` (the past-2^18 branch, [[nearDupGateFor]])
    * inserts the SQ8 pre-gate between the candidate stream and the
    * dedup exchange: the per-rep 64-byte codes broadcast onto both
    * endpoints map-side and junk is dropped BEFORE it is ever
    * shuffled — the pre-gate stream exists only inside the bucket
    * join's pipeline, never on disk. Gate-then-distinct equals
    * distinct-then-gate (the gate is a deterministic pair
    * predicate), so the operator's semantics are "LSH candidates
    * whose SQ8 cosine ≥ τ, rescored exactly" — recall measured
    * against planted truth in the round-15 BASELINE.md grid.
    */
  def nearDupPairsMultiProbe(emb: DataFrame, bands: Int, r: Int,
      t: Int = 1, gate: Option[Double] = None): DataFrame = {
    val e = sigTableOf(emb, bands, r)
    val cand = gatedStream(e,
      candidateStreamOf(e, bands, r, t), gate).distinct()
    // in the gated (past-2^18) branch the embedding table already
    // broadcasts for the gate (SQ8 codes), and the candidate side is
    // the big one (~10^9 rows at 1M reps) — broadcasting the float
    // embeddings too (~300 MB at 1M) deletes BOTH rescore exchanges
    // of the candidate stream, the second-largest disk cost of the
    // full shape after the pair-dedup. Below the branch the rescore
    // stays a plain equi-join (registered plans untouched; tiny
    // corpora auto-broadcast under AQE anyway).
    val side = (name: String) => {
      val p = e.select(col("vec_id").as(name),
        col("embedding").as(name.replace("vec", "emb")))
      if (gate.isDefined) broadcast(p) else p
    }
    cand
      .join(side("vec_a"), "vec_a")
      .join(side("vec_b"), "vec_b")
      .withColumn("cos", cosine_sim(col("emb_a"), col("emb_b")))
      .filter(col("cos") >= 0.35)
      .select(col("vec_a"), col("vec_b"), col("cos"))
  }


  /** [[nearDupPairsMultiProbe]]'s DISTINCT candidates restricted to
    * pairs with AT LEAST ONE endpoint in `probeIds`, rescored but
    * UNFILTERED — (vec_a, vec_b, cos, gcos) with gcos the SQ8 pre-gate
    * score. For such a pair, collision requires one member's probe to
    * land in the other's index bucket, and BOTH members' probes exist
    * iff both are in the probe set, so restricting the PROBES side to
    * `probeIds` (and keeping the index side full) finds exactly the
    * full operator's pairs among `probeIds` × corpus where the probing
    * endpoint is in `probeIds`. For pairs with BOTH endpoints in
    * `probeIds` (the planted-recall ground truth: copy + base are both
    * in the set), filtering at `cos >= 0.35` is row-identical to the
    * full operator (SimilaritySpec asserts it).
    *
    * Why it exists: this is what makes [[graft.PlantedRecallProbe]]
    * runnable at n = 10M on sandbox disk, and lets it measure the
    * gate's keep-rate on a representative sample of the full
    * operator's candidate distribution (the probe side is a uniform
    * id slice, independent of geometry). A full probes ⋈ index join
    * at 10M reps × 128 bands SHUFFLES ~1.3B index rows plus ~5B probe
    * rows (estimated 60+ GB). Here the ≤ ~4k probe-side vectors (~2M
    * exploded probe rows at B=128, t=3) are BROADCAST against the
    * full index explode, which then streams map-side — no shuffle of
    * the corpus at all; the only exchange left is the candidate
    * distinct, bounded by the probe set's bucket occupancy
    * (O(|probeIds|·B·(t+1)·λ)).
    */
  private[graft] def probeSetCandidatesScored(emb: DataFrame,
      bands: Int, r: Int, t: Int, probeIds: Seq[Long]): DataFrame = {
    // stage the EMBEDDINGS only and compute signatures INLINE in the
    // index explode: at the r15 dials the sig array is `bands` ints
    // per row (4 KB at B = 1024), and staging it for a 10M-rep
    // corpus is ~40 GB of DESERIALIZED storage (the localCheckpoint
    // unroll convoy, NgramLM lesson); recomputing costs one fused
    // pass in the only consumer that needs it.
    val e = graft.Materialize.stage(
      emb.select(col("vec_id"), col("embedding")), eager = false)
    val small = e.filter(col("vec_id").isin(probeIds: _*))
    val idx = e.select(col("vec_id").as("i_vec"),
      posexplode(bandSignatureCols(col("embedding"), bands, r))
        .as(Seq("band", "bucket")))
    val probes = small.select(col("vec_id").as("p_vec"),
        posexplode(graft.functions.HyperplaneProbes.hyperplane_probes(
          col("embedding"), bands, r, Dim, t)).as(Seq("pos", "bucket")))
      .select(col("p_vec"), (col("pos") / (t + 1)).cast("int").as("band"),
        col("bucket"))
    val touched = idx.join(broadcast(probes), Seq("band", "bucket"))
      .filter(col("p_vec") =!= col("i_vec"))
    val cand = touched
      .select(least(col("p_vec"), col("i_vec")).as("vec_a"),
        greatest(col("p_vec"), col("i_vec")).as("vec_b"))
      .distinct()
    // rescore joins stay small on the cand side; the full-corpus
    // embedding lookups are plain equi-joins (no arrays carried
    // through the probe explode — the slim-index discipline)
    cand
      .join(e.select(col("vec_id").as("vec_a"),
        col("embedding").as("emb_a")), "vec_a")
      .join(e.select(col("vec_id").as("vec_b"),
        col("embedding").as("emb_b")), "vec_b")
      .withColumn("cos", cosine_sim(col("emb_a"), col("emb_b")))
      .withColumn("gcos", graft.functions.Sq8Gate.sq8_cos(
        graft.functions.Sq8Gate.sq8_pack(col("emb_a"), Dim),
        graft.functions.Sq8Gate.sq8_pack(col("emb_b"), Dim)))
      .select(col("vec_a"), col("vec_b"), col("cos"), col("gcos"))
  }

  /** The staged signature table every multiprobe pass reads — split
    * out of [[nearDupPairsMultiProbe]] so [[graft.CandidateMassProbe]] can
    * instrument the exact table the registered shape uses.
    */
  private[graft] def sigTableOf(emb: DataFrame, bands: Int,
      r: Int): DataFrame =
    graft.Materialize.stage(
      emb.withColumn("sigs",
        bandSignatureCols(col("embedding"), bands, r)),
      eager = false)

  /** The normalized PRE-DISTINCT candidate stream of the registered
    * multiprobe shape — (vec_a, vec_b), one row per (probe, index)
    * bucket collision. Split out of [[nearDupPairsMultiProbe]] (which feeds
    * it to `.distinct()` + rescore, byte-identical plan) so the mass
    * that the candidate dedup exchange and the rescore joins carry
    * can be MEASURED without materializing it to disk
    * ([[graft.CandidateMassProbe]], VERDICT r13 item 3).
    *
    * `probeSlice = Some((k, kk))` restricts the PROBE side to vectors
    * with `vec_id % kk == k` — measurement-only: the slices partition
    * the probe explode, so summing per-slice stream counts reproduces
    * the full stream count EXACTLY while bounding any one run's join
    * shuffle to ~1/kk of the probe side (the full stream at 10M reps
    * is disk-infeasible on the sandbox). The registered path always
    * passes None.
    */
  private[graft] def candidateStreamOf(e: DataFrame, bands: Int, r: Int,
      t: Int, probeSlice: Option[(Int, Int)] = None): DataFrame = {
    val idx = e.select(col("vec_id").as("i_vec"),
      posexplode(col("sigs")).as(Seq("band", "bucket")))
    val probeSrc = probeSlice.fold(e) { case (k, kk) =>
      e.filter(pmod(col("vec_id"), lit(kk)) === lit(k)) }
    val probes = probeSrc.select(col("vec_id").as("p_vec"),
        posexplode(graft.functions.HyperplaneProbes.hyperplane_probes(
          col("embedding"), bands, r, Dim, t)).as(Seq("pos", "bucket")))
      .select(col("p_vec"), (col("pos") / (t + 1)).cast("int").as("band"),
        col("bucket"))
    probes.join(idx, Seq("band", "bucket"))
      .filter(col("p_vec") =!= col("i_vec"))
      .select(least(col("p_vec"), col("i_vec")).as("vec_a"),
        greatest(col("p_vec"), col("i_vec")).as("vec_b"))
  }

  /** SQ8 pre-gate over a candidate stream: the per-rep 64-byte codes
    * ([[graft.functions.Sq8Gate.sq8_pack]]) BROADCAST onto both
    * endpoints (72 MB at 1M reps, ~720 MB at 10M — map-side joinable
    * at every single-box scale; past ~100M reps the codes would ride
    * the index rows instead) and sub-τ candidates drop inside the
    * bucket join's pipeline — the pre-gate stream never reaches the
    * dedup exchange or disk. Shared with [[graft.CandidateMassProbe]]
    * so measured post-gate mass is the registered relation's.
    */
  private[graft] def gatedStream(e: DataFrame, stream: DataFrame,
      gate: Option[Double]): DataFrame =
    gate.fold(stream) { g =>
      val gt = e.select(col("vec_id"),
        graft.functions.Sq8Gate.sq8_pack(col("embedding"), Dim).as("q8"))
      stream
        .join(broadcast(gt.select(col("vec_id").as("vec_a"),
          col("q8").as("q8_a"))), "vec_a")
        .join(broadcast(gt.select(col("vec_id").as("vec_b"),
          col("q8").as("q8_b"))), "vec_b")
        .filter(graft.functions.Sq8Gate.sq8_cos(
          col("q8_a"), col("q8_b")) >= g)
        .select(col("vec_a"), col("vec_b"))
    }

  /** Exhaustive O(n²) pair scoring — recall baseline ONLY (used by
    * SimilaritySpec to measure [[embeddingNearDup]]'s bucket recall);
    * deliberately not a registered query: the non-equi self-join is a
    * BroadcastNestedLoopJoin that cannot survive corpus scale.
    */
  def embeddingNearDupBrute(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.embeddings(spark, sfDir)
    val a = e.select(col("vec_id").as("vec_a"), col("embedding").as("emb_a"))
    val b = e.select(col("vec_id").as("vec_b"), col("embedding").as("emb_b"))
    a.join(b, col("vec_a") < col("vec_b"))
      .withColumn("cos", cosine_sim(col("emb_a"), col("emb_b")))
      .filter(col("cos") >= 0.35)
      .select(col("vec_a"), col("vec_b"), col("cos"))
  }

  /** Cosine threshold shared by the embedding near-dup and semantic
    * dedup operators (recall-sized for this corpus in SimilaritySpec).
    */
  val SemTau = 0.35

  /** Cluster-balanced ("diversity") subsampling: keep at most
    * `perCluster` vectors per semantic cluster, picked in
    * deterministic hash order of the vec id — reproducible, and
    * uniform-ish within the cluster instead of biased toward low
    * ids. The balanced subset is the standard counter to
    * cluster-size skew when drawing eval probes or seed sets from a
    * skewed corpus. Plan shape: one window rank per cluster — the
    * rank<=k filter compiles to WindowGroupLimit, so each partition
    * keeps a k-heap instead of fully sorting (asserted for the ANN
    * top-k in PlanAuditSpec; same operator here).
    */
  def diverseSample(spark: SparkSession, sfDir: String,
      perCluster: Int = 20): DataFrame = {
    val w = Window.partitionBy(col("label"))
      .orderBy(col("hk").asc, col("vec_id").asc)
    Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("label").cast("long").as("label"))
      .withColumn("hk", h60(col("vec_id").cast("string")))
      .withColumn("pick", row_number().over(w))
      .filter(col("pick") <= perCluster)
      .select(col("vec_id"), col("label"), col("pick"))
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): within each semantic cluster, a vector is
    * REMOVED when an earlier-id member of the same cluster is
    * cosine-similar above [[SemTau]]. The `label` column stands in
    * for the k-means cluster id a production run would assign
    * ([[ivfAssign]] produces exactly that shape); a precomputed
    * cluster keeps the DuckDB oracle exact while the plan shape is
    * identical. Keep policy is keep-first (min vec_id) — the same
    * deterministic representative rule as [[Dedup]]'s exact-dup
    * collapse. Output: one row per removed vector with its strongest
    * earlier leader (max cos, tie → min leader id).
    *
    * Scale: pairwise scoring is an equi-join on the cluster id, so
    * candidate cost is Σ cluster² — the published SemDeDup bound
    * (cluster count is chosen ∝ corpus size so clusters stay
    * bounded; because scoring is an equi-join, AQE's skew-join
    * handling splits a skewed cluster's partition at runtime). No
    * all-pairs join exists anywhere.
    */
  def semanticDedup(spark: SparkSession, sfDir: String): DataFrame =
    semanticDedupOf(Tables.embeddings(spark, sfDir))

  /** Core over any (vec_id, label, embedding) frame.
    *
    * Exact-content PRE-COLLAPSE (the [[Dedup.sigTable]] doctrine,
    * applied to vectors): byte-identical embeddings — exact-duplicate
    * documents embed identically — share every pairwise cosine, so a
    * m-member identical group inside one cluster would emit
    * m(m-1)/2 ≈ 5·10⁷ pairs at m = 10⁴ from the cluster self-join.
    * Identical (label, embedding) contents therefore collapse to
    * their min-id representative FIRST; the cosine join runs over
    * representatives only, and members expand back afterwards, each
    * removed under its own representative (identical content ⟹ the
    * rep is the strongest earliest leader; the self-cosine is
    * computed, not assumed 1.0, so the emitted value is bit-identical
    * to what the uncollapsed join would produce). ScaleSmokeSpec
    * plants a 10⁴-member identical cluster and asserts O(distinct)
    * rep pairs. Equivalence caveat (documented, not guarded): a
    * DISTINCT-content earlier vector achieving the exact same IEEE
    * cosine as the identical-content leader would win the min-id
    * tie-break in the uncollapsed form — only exact scaled copies
    * can manufacture that tie.
    */
  def semanticDedupOf(emb: DataFrame): DataFrame = {
    val e = emb.select(col("vec_id"), col("label").as("lbl"), col("embedding"))
    // lazy (r17): both join sides read reps inside the one output
    // job — eager staging paid a standalone driver job first
    val reps = graft.Materialize.stage(
      e.groupBy(col("lbl"), col("embedding"))
        .agg(min(col("vec_id")).as("rep_id")), eager = false)
    val a = reps.select(col("lbl"), col("rep_id").as("leader_id"),
      col("embedding").as("emb_a"))
    val b = reps.select(col("lbl"), col("rep_id").as("vec_id"),
      col("embedding").as("emb_b"))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("cos").desc_nulls_last, col("leader_id").asc)
    val repRemoved = a.join(b, Seq("lbl"))
      .filter(col("leader_id") < col("vec_id"))
      .withColumn("cos", cosine_sim(col("emb_a"), col("emb_b")))
      .filter(col("cos") >= SemTau)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("lbl"), col("leader_id"), col("cos"))
    val memberRemoved = e.join(reps, Seq("lbl", "embedding"))
      .filter(col("vec_id") =!= col("rep_id"))
      .select(col("vec_id"), col("lbl"), col("rep_id").as("leader_id"),
        cosine_sim(col("embedding"), col("embedding")).as("cos"))
      // zero-norm duplicates have NULL self-cosine: the uncollapsed
      // join would not remove them, so neither does the expansion
      .filter(col("cos") >= SemTau)
    repRemoved.unionByName(memberRemoved)
      .select(col("vec_id"), col("lbl").cast("long").as("label"),
        col("leader_id"), col("cos"))
  }

  /** Per-cluster SemDeDup effect — corpus size, removed, kept — the
    * sizing report a pipeline runs before committing to a threshold
    * (the semantic twin of [[Dedup.clusterStats]]). One tiny agg over
    * the corpus left-marked by the (small) removal set.
    */
  def semanticDedupStats(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.embeddings(spark, sfDir)
    val removed = semanticDedup(spark, sfDir)
      .select(col("vec_id"), lit(1).as("rm"))
    e.join(removed, Seq("vec_id"), "left")
      .groupBy(col("label").cast("long").as("label"))
      .agg(count(lit(1)).as("n_total"),
        count(col("rm")).as("n_removed"),
        (count(lit(1)) - count(col("rm"))).as("n_kept"))
  }

  /** IVF cell-size histogram — the operational sizing probe for the
    * index: probe cost is proportional to the probed cell's size, so
    * a skewed cell distribution means skewed probe latency (and a
    * candidate for more centroids or multi-probe). Run it BEFORE
    * building a giant index, the way [[Dedup.bandBucketStats]] sizes
    * the band join. One map-only assignment pass + one tiny agg.
    */
  def ivfCellStats(spark: SparkSession, sfDir: String): DataFrame =
    ivfAssign(spark, sfDir)
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_vecs"))

  /** Per-vector symmetric int8 scalar quantization:
    * `scale = 127 / max|v_i|`, `q_i = floor(v_i * scale + 0.5)` —
    * `floor(x + 0.5)` rather than `round()` because half-up-vs-half-
    * even at exact .5 is engine-specific while floor is IEEE-exact
    * everywhere. The scale is bound once per row (HOF binding rule).
    */
  private def sq8Col(emb: Column): Column =
    bind(emb) { e =>
      bind(lit(127.0) / array_max(transform(e, v => abs(v.cast("double"))))) { scale =>
        transform(e, v => floor(v.cast("double") * scale + lit(0.5)))
      }
    }

  /** Exact integer dot product of two int8-quantized arrays — a
    * BIGINT fold, order-free and engine-exact (≤ 64·127² ≈ 10⁶,
    * nowhere near overflow).
    */
  private def idot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, v) => acc + v)

  /** SQ8 (int8 scalar-quantized) brute-force top-k: the storage-scale
    * ANN path — 4 bytes/dim float32 becomes 1 byte/dim, the distance
    * kernel becomes an exact integer dot, and only the final
    * normalization touches floats (sqrt and division are correctly
    * rounded per IEEE 754, so even this approximate score is
    * bit-reproducible cross-engine — unlike a float32 accumulation).
    * Quantized arrays and norms are computed once per vector in a
    * projection, not per candidate pair. Recall vs the exact baseline
    * is asserted in SimilaritySpec.
    */
  def sq8TopK(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), sq8Col(col("embedding")).as("q8"))
      .withColumn("sn", sqrt(idot(col("q8"), col("q8")).cast("double")))
    val q = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("q8").as("qq8"), col("sn").as("qsn"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("qcos").desc_nulls_last, col("neighbor_id").asc)
    e.select(col("vec_id").as("neighbor_id"), col("q8"), col("sn"))
      .join(broadcast(q), col("neighbor_id") =!= col("query_id"))
      .withColumn("qcos",
        idot(col("qq8"), col("q8")).cast("double") / (col("qsn") * col("sn")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= K)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("qcos"))
  }

  val NumSub = 8
  val SubDim: Int = Dim / NumSub
  val NumCodes: Int = NumCells // codewords per subspace, same first-N init

  /** PQ codebooks: the first [[NumCodes]] vectors, split into
    * [[NumSub]] subvectors each — the same deterministic,
    * engine-portable init as the IVF centroids ([[firstNCentroids]]).
    * cb(m)(c) is codeword c of subspace m.
    */
  private[llm] def pqCodebooks(e: DataFrame): Array[Array[Array[Float]]] = {
    val base = firstNCentroids(e)
    Array.tabulate(NumSub)(m => base.map(_.slice(m * SubDim, (m + 1) * SubDim)))
  }

  /** Per-row PQ encoding: for each subspace, the index of the nearest
    * codeword (squared L2, ties to the lowest code — `array_position`
    * returns the FIRST minimum). Map-only, literal codebooks — the
    * same zero-shuffle shape as [[assignWith]]. 64 floats (256 B)
    * compress to 8 byte-sized codes.
    */
  private[llm] def pqEncode(e: DataFrame, cb: Array[Array[Array[Float]]]): DataFrame = {
    // zero codewords (empty corpus): nothing to encode — same guard
    // shape as [[assignWith]]
    if (cb(0).isEmpty)
      return e.withColumn("codes", lit(null).cast("array<int>"))
    // one fused native loop per row (graft.functions.PqCodes) — the
    // HOF formulation (slice+zip_with+aggregate per codeword) is
    // retained as the reference in PqCodesSpec and as the DuckDB
    // oracle; arithmetic parity (sequential double fold, first-min
    // argmin) is pinned there
    e.withColumn("codes",
      graft.functions.PqCodes.pqCodes(col("embedding"), cb))
  }

  /** PQ-ADC approximate top-k: the canonical billion-scale memory
    * trick. The corpus holds only the 8 codes per vector; each query
    * precomputes ONE lookup table per subspace (its subvector's dot
    * with all 16 codewords, on the broadcast side — real ADC, not a
    * per-pair recompute), and a pair's score is 8 table lookups.
    *
    * Determinism: each LUT entry is fixed-point
    * (`floor(dot·2³⁰+0.5)` BIGINT), so the 8-term pair sum is exact
    * integer arithmetic — associative, order-free — and the rank
    * compares BIGINTs. The emitted score is the one double division
    * at the end. Scale shape: encoding is map-only over one corpus
    * scan; scoring is a broadcast join carrying codes only (the
    * embedding column never reaches the pair stream).
    */
  def pqTopK(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.embeddings(spark, sfDir)
    val cb = pqCodebooks(e)
    if (cb(0).isEmpty)
      // empty corpus: no codebooks to build LUTs from — a correctly
      // typed empty result (same schema as the populated path)
      return e.filter(lit(false))
        .select(col("vec_id").as("query_id"), col("vec_id").as("neighbor_id"),
          lit(1).as("rank"), lit(0.0).as("score"))
    val q30 = 1L << 30
    // LUT construction is the fused native kernel
    // (graft.functions.PqLuts) — the HOF formulation (per codeword:
    // slice + zip_with + aggregate, 128 interpreted folds per query
    // row in a 128-subtree projection) is retained as the reference
    // in PqCodesSpec and as the DuckDB oracle; arithmetic parity
    // (sequential double dot, floor(dot·2³⁰+0.5)) is pinned there.
    // Measured r16 at sf0.1, min-of-3: q_ann_pq_topk 1.03 → 0.71 s.
    val q = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"),
        graft.functions.PqLuts.pqLuts(col("embedding"), cb).as("luts"))
      .select(col("query_id") +:
        (0 until NumSub).map(m =>
          element_at(col("luts"), m + 1).as(s"lut$m")): _*)
    val enc = pqEncode(e, cb).select(col("vec_id").as("neighbor_id"), col("codes"))
    val scoreFp = (0 until NumSub).map(m =>
      element_at(col(s"lut$m"), element_at(col("codes"), m + 1) + 1)).reduce(_ + _)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score_fp").desc, col("neighbor_id").asc)
    enc.join(broadcast(q), col("neighbor_id") =!= col("query_id"))
      .withColumn("score_fp", scoreFp)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= K)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        (col("score_fp").cast("double") / q30.toDouble).as("score"))
  }

  /** Recall probe: scores each approximate index (LSH buckets,
    * single-probe IVF, multi-probe IVF, PQ-ADC) against the exact brute-force
    * top-k — the eval harness that makes the ANN quality/cost
    * trade-off MEASURABLE instead of asserted. One row per method:
    * micro recall (Σ hits / Σ exact results, one division of two
    * exact BIGINTs — engine-identical), the worst single query's
    * recall, and the raw counts.
    *
    * Scale: the exact baseline is O(corpus × queries) — that is the
    * cost of ground truth, which is why real evals (and this one) run
    * it over a SAMPLED query set ([[NumQueries]] probes), not the full
    * corpus; it is staged once and reused by all three branches. Each
    * per-method intersection joins two ≤ K·[[NumQueries]]-row frames.
    */
  def annRecall(spark: SparkSession, sfDir: String): DataFrame = {
    // NOT staged (r17): since the method-tagged unification this
    // frame has exactly ONE consumer (the exploded fan-out below) —
    // the checkpoint bought nothing but its own job. The "reused by
    // all branches" rationale died with the per-branch joins.
    val exact =
      bruteForceTopK(spark, sfDir).select(col("query_id"), col("neighbor_id"))
    // ivf and multiprobe share ONE centroid collect and ONE
    // assignment subtree (r16: two identical firstNCentroids jobs and
    // two assignWith map passes showed up in the plan as separate
    // scans); outputs are identical to calling the public entries
    val e = Tables.embeddings(spark, sfDir)
    val cents = firstNCentroids(e)
    val assigned = assignWith(e, cents)
    // ONE method-tagged union + ONE join + ONE two-level aggregation
    // (r17) instead of four per-method join/agg chains: every branch
    // intersected the SAME staged exact table with its own broadcast
    // join, per-query agg and single-partition rollup — 4 joins + 8
    // aggregation exchanges for frames that are ≤ K·NumQueries rows
    // each. Fanning exact out by method map-side (explode of a
    // 4-literal array) and tagging the approx union keeps every
    // (method, query) pair's inputs identical, so the per-method rows
    // are value-identical to the old per-branch computation; the
    // approx side stays broadcast (≤ 4·K·NumQueries rows by the
    // rank ≤ K construction — invisible to the planner through the
    // window, hence the explicit hint, r16 plan audit).
    def tag(method: String, approx: DataFrame): DataFrame =
      approx.select(lit(method).as("a_m"), col("query_id").as("a_q"),
        col("neighbor_id").as("a_n"))
    val approxAll =
      tag("lsh", lshTopK(spark, sfDir))
        .unionAll(tag("ivf", probeTopK(assigned)))
        .unionAll(tag("multiprobe", multiProbeTopKOf(e, cents, assigned)))
        .unionAll(tag("pq", pqTopK(spark, sfDir)))
    val methods = Seq("lsh", "ivf", "multiprobe", "pq")
    exact
      .select(explode(array(methods.map(lit): _*)).as("method"),
        col("query_id"), col("neighbor_id"))
      .join(broadcast(approxAll),
        col("method") === col("a_m") && col("query_id") === col("a_q")
          && col("neighbor_id") === col("a_n"),
        "left")
      .groupBy(col("method"), col("query_id"))
      .agg(count(col("a_n")).as("n_hit"), count(lit(1)).as("n_exact"))
      .groupBy(col("method"))
      .agg(count(lit(1)).as("n_queries"),
        sum(col("n_hit")).as("total_hits"),
        sum(col("n_exact")).as("total_exact"),
        min(col("n_hit").cast("double") / col("n_exact").cast("double"))
          .as("min_recall"))
      .select(col("method"), col("n_queries"),
        col("total_hits"), col("total_exact"),
        (col("total_hits").cast("double") / col("total_exact").cast("double"))
          .as("micro_recall"),
        col("min_recall"))
  }

  // ---- oracle SQL ----------------------------------------------------

  /** Ordered-reduce cosine between two FLOAT[] SQL expressions —
    * bitwise-identical to [[graft.functions.CosineSim]].
    */
  private[llm] def sqlCos(a: String, b: String): String =
    s"""(list_reduce(list_transform(list_zip($a, $b),
       |    p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (x, y) -> x + y)
       | / (sqrt(list_reduce(list_transform($a,
       |      v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)), (x, y) -> x + y))
       |  * sqrt(list_reduce(list_transform($b,
       |      v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)), (x, y) -> x + y))))""".stripMargin

  /** Unrolled-CTE mirror of [[mmrTopK]]'s greedy selection — one
    * (pen_i, sel_i, selall_i) block per step, the same K-step plan
    * the Spark side builds.
    */
  private[llm] val sqlMmrTopK: String = {
    val steps = (2 to MmrK).map { i =>
      s"""pen_$i AS (
         |  SELECT p.query_id, p.neighbor_id,
         |    max(${sqlCos("p.embedding", "s.embedding")}) AS pen
         |  FROM pool p JOIN selall_${i - 1} s USING (query_id)
         |  WHERE NOT EXISTS (SELECT 1 FROM selall_${i - 1} x
         |    WHERE x.query_id = p.query_id AND x.neighbor_id = p.neighbor_id)
         |  GROUP BY p.query_id, p.neighbor_id),
         |sel_$i AS (
         |  SELECT query_id, neighbor_id, $i AS sel_rank, score, embedding FROM (
         |    SELECT p.query_id, p.neighbor_id, p.embedding,
         |      0.7 * p.cos - 0.3 * n.pen AS score
         |    FROM pool p JOIN pen_$i n USING (query_id, neighbor_id))
         |  QUALIFY row_number() OVER (PARTITION BY query_id
         |    ORDER BY score DESC NULLS LAST, neighbor_id) = 1),
         |selall_$i AS (SELECT * FROM selall_${i - 1}
         |  UNION ALL SELECT * FROM sel_$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH pool AS (
       |  SELECT query_id, neighbor_id, embedding, cos FROM (
       |    SELECT query_id, neighbor_id, embedding, cos,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY cos DESC NULLS LAST, neighbor_id) AS rank
       |    FROM (
       |      SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
       |        e.embedding, ${sqlCos("q.embedding", "e.embedding")} AS cos
       |      FROM embeddings q JOIN embeddings e ON e.vec_id <> q.vec_id
       |      WHERE q.vec_id < $NumQueries))
       |  WHERE rank <= $MmrPool),
       |sel_1 AS (
       |  SELECT query_id, neighbor_id, 1 AS sel_rank, score, embedding FROM (
       |    SELECT query_id, neighbor_id, embedding, 0.7 * cos AS score
       |    FROM pool)
       |  QUALIFY row_number() OVER (PARTITION BY query_id
       |    ORDER BY score DESC NULLS LAST, neighbor_id) = 1),
       |selall_1 AS (SELECT * FROM sel_1),
       |$steps
       |SELECT query_id, neighbor_id, sel_rank, score FROM selall_$MmrK""".stripMargin
  }

  /** Banded hyperplane CTEs mirroring [[bandSignatureCols]] /
    * [[graft.functions.HyperplaneProbes]]: per-plane dots (`pdots`,
    * which the multiprobe oracle's margin ranking reads) and per-band
    * buckets (`bandbuckets`).
    */
  private[llm] val sqlBandSigs = {
    // r mirrors nearDupRepPlanesFor: bit length of the DISTINCT-
    // embedding count minus 2, clamped to [5, 16] (the r12 cap —
    // past it the Scala rule doubles BANDS instead; the oracle
    // corpora hold ≤ 2k reps, far below that branch, so the SQL
    // mirrors the ≤ 2^18 regime the gate can actually run); the
    // plane range is bounded by the clamp (bands·16) and filtered
    // down to the data-sized bands·r
    val maxPlanes = NearDupBands * 16
    s"""rr AS (
       |  SELECT greatest(5, least(16,
       |    length(bin(CAST(count(*) AS BIGINT))) - 2)) AS r
       |  FROM (SELECT DISTINCT embedding FROM embeddings)),
       |bplanes AS (
       |  SELECT j, j // r AS band, r, list(g ORDER BY i) AS gs
       |  FROM (
       |    SELECT j, r, i,
       |      (${sqlH60("'hp' || j || '_' || i")} % 2001 - 1000) / 1000.0 AS g
       |    FROM range($maxPlanes) t(j) CROSS JOIN rr CROSS JOIN range($Dim) u(i)
       |    WHERE j < $NearDupBands * r)
       |  GROUP BY j, j // r, r),
       |pdots AS (
       |  SELECT vec_id, embedding, band, j % r AS bit,
       |    list_reduce(list_transform(
       |      list_zip(embedding, gs),
       |      p -> CAST(p[1] AS DOUBLE) * p[2]), (x, y) -> x + y) AS dot
       |  FROM embeddings CROSS JOIN bplanes),
       |bandbuckets AS (
       |  SELECT vec_id, embedding, band,
       |    CAST(SUM(CASE WHEN dot >= 0
       |      THEN (1 << bit) ELSE 0 END) AS INT) AS bucket
       |  FROM pdots
       |  GROUP BY vec_id, embedding, band)""".stripMargin
  }

  /** Hyperplane CTE + per-vector bucket CTE, mirroring
    * [[signatureCol]] exactly.
    */
  private[llm] val sqlBuckets =
    s"""planes AS (
       |  SELECT j, list(g ORDER BY i) AS gs FROM (
       |    SELECT j, i,
       |      (${sqlH60("'hp' || j || '_' || i")} % 2001 - 1000) / 1000.0 AS g
       |    FROM range($NumPlanes) t(j) CROSS JOIN range($Dim) u(i))
       |  GROUP BY j),
       |buckets AS (
       |  SELECT vec_id, embedding,
       |    CAST(SUM(CASE WHEN list_reduce(list_transform(
       |        list_zip(embedding, gs),
       |        p -> CAST(p[1] AS DOUBLE) * p[2]), (x, y) -> x + y) >= 0
       |      THEN (1 << j) ELSE 0 END) AS INT) AS bucket
       |  FROM embeddings CROSS JOIN planes
       |  GROUP BY vec_id, embedding)""".stripMargin

  private lazy val sqlIvfAssigned =
    s"""cents AS (
       |  SELECT vec_id AS cent_id, embedding AS cent_emb
       |  FROM embeddings WHERE vec_id < $NumCells),
       |scored AS (
       |  SELECT e.vec_id, e.embedding, e.label, c.cent_id,
       |    ${sqlCos("e.embedding", "c.cent_emb")} AS cos_c
       |  FROM embeddings e CROSS JOIN cents c),
       |assigned AS (
       |  SELECT vec_id, embedding, label, cent_id AS cell FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY cos_c DESC NULLS LAST, cent_id ASC) AS rn
       |    FROM scored)
       |  WHERE rn = 1)""".stripMargin

  /** PQ-ADC mirror: codewords and codes via list_slice subvectors,
    * the same first-min argmin (dist ASC, code ASC), fixed-point
    * BIGINT LUT entries, and an exact integer pair sum.
    */
  private lazy val sqlPqTopK = {
    def sub(emb: String) = s"list_slice($emb, c.m * $SubDim + 1, (c.m + 1) * $SubDim)"
    s"""WITH cw AS (
       |  SELECT c.m, e.vec_id AS code,
       |    list_slice(e.embedding, c.m * $SubDim + 1, (c.m + 1) * $SubDim) AS sub
       |  FROM embeddings e CROSS JOIN range($NumSub) c(m)
       |  WHERE e.vec_id < $NumCodes),
       |enc AS (
       |  SELECT vec_id, m, code FROM (
       |    SELECT e.vec_id, c.m, c.code,
       |      row_number() OVER (PARTITION BY e.vec_id, c.m
       |        ORDER BY list_reduce(list_transform(
       |            list_zip(${sub("e.embedding")}, c.sub),
       |            p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))
       |               * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))),
       |          (x, y) -> x + y) ASC, c.code ASC) AS rn
       |    FROM embeddings e CROSS JOIN cw c)
       |  WHERE rn = 1),
       |qlut AS (
       |  SELECT q.vec_id AS query_id, c.m, c.code,
       |    CAST(floor(list_reduce(list_transform(
       |        list_zip(${sub("q.embedding")}, c.sub),
       |        p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)),
       |      (x, y) -> x + y) * 1073741824 + 0.5) AS BIGINT) AS fix
       |  FROM embeddings q CROSS JOIN cw c
       |  WHERE q.vec_id < $NumQueries),
       |sc AS (
       |  SELECT l.query_id, n.vec_id AS neighbor_id,
       |    CAST(SUM(l.fix) AS BIGINT) AS score_fp
       |  FROM enc n JOIN qlut l ON l.m = n.m AND l.code = n.code
       |  WHERE n.vec_id <> l.query_id
       |  GROUP BY 1, 2)
       |SELECT query_id, neighbor_id, rank,
       |  CAST(score_fp AS DOUBLE) / 1073741824.0 AS score
       |FROM (SELECT query_id, neighbor_id, score_fp,
       |        row_number() OVER (PARTITION BY query_id
       |          ORDER BY score_fp DESC, neighbor_id ASC) AS rank
       |      FROM sc)
       |WHERE rank <= $K""".stripMargin
  }

  private lazy val sqlBruteTopK =
    s"""SELECT query_id, neighbor_id, rank, cos FROM (
       |  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
       |    row_number() OVER (PARTITION BY q.vec_id
       |      ORDER BY ${sqlCos("q.embedding", "e.embedding")} DESC NULLS LAST, e.vec_id ASC) AS rank,
       |    ${sqlCos("q.embedding", "e.embedding")} AS cos
       |  FROM embeddings q JOIN embeddings e ON e.vec_id <> q.vec_id
       |  WHERE q.vec_id < $NumQueries)
       |WHERE rank <= $K""".stripMargin

  private lazy val sqlLshTopK =
    s"""WITH $sqlBuckets
       |SELECT query_id, neighbor_id, rank, cos FROM (
       |  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
       |    row_number() OVER (PARTITION BY q.vec_id
       |      ORDER BY ${sqlCos("q.embedding", "e.embedding")} DESC NULLS LAST, e.vec_id ASC) AS rank,
       |    ${sqlCos("q.embedding", "e.embedding")} AS cos
       |  FROM buckets q JOIN buckets e
       |    ON e.bucket = q.bucket AND e.vec_id <> q.vec_id
       |  WHERE q.vec_id < $NumQueries)
       |WHERE rank <= $K""".stripMargin

  private lazy val sqlMultiprobeTopK =
    s"""WITH cents AS (
       |  SELECT vec_id AS cent_id, embedding AS cent_emb
       |  FROM embeddings WHERE vec_id < $NumCells),
       |scored AS (
       |  SELECT e.vec_id, e.embedding, c.cent_id,
       |    ${sqlCos("e.embedding", "c.cent_emb")} AS cos_c
       |  FROM embeddings e CROSS JOIN cents c),
       |assigned AS (
       |  SELECT vec_id, embedding, cent_id AS cell FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY cos_c DESC NULLS LAST, cent_id ASC) AS rn
       |    FROM scored)
       |  WHERE rn = 1),
       |qcells AS (
       |  SELECT vec_id, embedding, cent_id AS cell FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY cos_c DESC NULLS LAST, cent_id ASC) AS rn
       |    FROM scored WHERE vec_id < $NumQueries)
       |  WHERE rn <= $NumProbes)
       |SELECT query_id, neighbor_id, rank, cos FROM (
       |  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
       |    row_number() OVER (PARTITION BY q.vec_id
       |      ORDER BY ${sqlCos("q.embedding", "e.embedding")} DESC NULLS LAST, e.vec_id ASC) AS rank,
       |    ${sqlCos("q.embedding", "e.embedding")} AS cos
       |  FROM qcells q JOIN assigned e
       |    ON e.cell = q.cell AND e.vec_id <> q.vec_id)
       |WHERE rank <= $K""".stripMargin

  private lazy val sqlIvfTopK =
    s"""WITH $sqlIvfAssigned
       |SELECT query_id, neighbor_id, rank, cos FROM (
       |  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
       |    row_number() OVER (PARTITION BY q.vec_id
       |      ORDER BY ${sqlCos("q.embedding", "e.embedding")} DESC NULLS LAST, e.vec_id ASC) AS rank,
       |    ${sqlCos("q.embedding", "e.embedding")} AS cos
       |  FROM assigned q JOIN assigned e
       |    ON e.cell = q.cell AND e.vec_id <> q.vec_id
       |  WHERE q.vec_id < $NumQueries)
       |WHERE rank <= $K""".stripMargin

  /** The k-means-refined IVF top-k, fully mirrored: the three Lloyd
    * iterations unroll into CTE pairs (assign aᵢ → means centsᵢ₊₁),
    * each arithmetically identical to the Spark side — fixed-point
    * BIGINT mean partials, one double division, CAST to REAL, and the
    * (cos DESC, cent_id ASC) argmax. A cell that loses every member
    * keeps its previous centroid via the `range(NumCells)` LEFT JOIN
    * + COALESCE, mirroring `means.getOrElse(c, cents(c))`.
    */
  private lazy val sqlKmeansTopK: String = {
    val q30 = "1073741824" // 2^30, the fixed-point scale
    def assigned(i: Int) =
      s"""a$i AS (
         |  SELECT vec_id, embedding, cent_id AS cell FROM (
         |    SELECT e.vec_id, e.embedding, c.cent_id,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${sqlCos("e.embedding", "c.cent_emb")} DESC NULLS LAST, c.cent_id ASC) AS rn
         |    FROM embeddings e CROSS JOIN cents$i c)
         |  WHERE rn = 1)""".stripMargin
    def cents(i: Int) =
      s"""cents$i AS (
         |  SELECT r.c AS cent_id, COALESCE(m.emb, p.cent_emb) AS cent_emb
         |  FROM range($NumCells) r(c)
         |  LEFT JOIN (
         |    SELECT cell, list(CAST(mval AS REAL) ORDER BY dim) AS emb FROM (
         |      SELECT cell, dim,
         |        CAST(s AS DOUBLE) / (CAST(n AS DOUBLE) * $q30.0) AS mval
         |      FROM (
         |        SELECT cell, dim,
         |          CAST(sum(CAST(floor(CAST(v AS DOUBLE) * $q30 + 0.5) AS BIGINT)) AS BIGINT) AS s,
         |          CAST(count(*) AS BIGINT) AS n
         |        FROM (SELECT cell, unnest(embedding) AS v,
         |                     generate_subscripts(embedding, 1) - 1 AS dim
         |              FROM a${i - 1})
         |        GROUP BY cell, dim))
         |    GROUP BY cell) m ON m.cell = r.c
         |  LEFT JOIN cents${i - 1} p ON p.cent_id = r.c)""".stripMargin
    s"""WITH cents0 AS (
       |  SELECT vec_id AS cent_id, embedding AS cent_emb
       |  FROM embeddings WHERE vec_id < $NumCells),
       |${assigned(0)},
       |${cents(1)},
       |${assigned(1)},
       |${cents(2)},
       |${assigned(2)},
       |${cents(3)},
       |${assigned(3)}
       |SELECT query_id, neighbor_id, rank, cos FROM (
       |  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
       |    row_number() OVER (PARTITION BY q.vec_id
       |      ORDER BY ${sqlCos("q.embedding", "e.embedding")} DESC NULLS LAST, e.vec_id ASC) AS rank,
       |    ${sqlCos("q.embedding", "e.embedding")} AS cos
       |  FROM a3 q JOIN a3 e
       |    ON e.cell = q.cell AND e.vec_id <> q.vec_id
       |  WHERE q.vec_id < $NumQueries)
       |WHERE rank <= $K""".stripMargin
  }

  /** The recall oracle composes the EXISTING per-method oracles as
    * CTEs (DuckDB allows a nested WITH inside a CTE body), so the
    * ground truth and every approximate side are the same SQL the
    * driver already hash-verifies query-by-query.
    */
  private lazy val sqlAnnRecall: String = {
    def branch(method: String, cte: String) =
      s"""SELECT '$method' AS method, CAST(count(*) AS BIGINT) AS n_queries,
         |  CAST(sum(n_hit) AS BIGINT) AS total_hits,
         |  CAST(sum(n_exact) AS BIGINT) AS total_exact,
         |  CAST(sum(n_hit) AS DOUBLE) / CAST(sum(n_exact) AS DOUBLE) AS micro_recall,
         |  min(CAST(n_hit AS DOUBLE) / CAST(n_exact AS DOUBLE)) AS min_recall
         |FROM (
         |  SELECT e.query_id, CAST(count(a.neighbor_id) AS BIGINT) AS n_hit,
         |    CAST(count(*) AS BIGINT) AS n_exact
         |  FROM exact e LEFT JOIN $cte a
         |    ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
         |  GROUP BY e.query_id)""".stripMargin
    s"""WITH exact AS ($sqlBruteTopK),
       |m_lsh AS ($sqlLshTopK),
       |m_ivf AS ($sqlIvfTopK),
       |m_multi AS ($sqlMultiprobeTopK),
       |m_pq AS ($sqlPqTopK)
       |${branch("lsh", "m_lsh")}
       |UNION ALL
       |${branch("ivf", "m_ivf")}
       |UNION ALL
       |${branch("multiprobe", "m_multi")}
       |UNION ALL
       |${branch("pq", "m_pq")}""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_ann_topk" -> bruteForceTopK _,
    "q_ann_mmr_topk" -> (mmrTopK _),
    "q_ann_hard_negatives" -> (hardNegatives _),
    "q_ann_recall" -> annRecall _,
    "q_ann_lsh_topk" -> lshTopK _,
    "q_ann_ivf_topk" -> ivfTopK _,
    "q_ann_ivf_index_probe" -> ivfIndexProbeTopK _,
    "q_ann_ivf_kmeans_topk" -> ivfKmeansTopK _,
    "q_ann_ivf_multiprobe" -> ivfMultiProbeTopK _,
    "q_ann_sq8_topk" -> sq8TopK _,
    "q_ann_pq_topk" -> pqTopK _,
    "q_ann_filtered_topk" -> filteredTopK _,
    "q_embed_centroids" -> labelCentroids _,
    "q_ann_cell_stats" -> ivfCellStats _,
    "q_embed_near_dup" -> ((s: SparkSession, d: String) => embeddingNearDup(s, d)),
    "q_embed_semantic_dedup" -> semanticDedup _,
    "q_embed_semantic_stats" -> semanticDedupStats _,
    "q_embed_diverse_sample" -> ((s: SparkSession, d: String) => diverseSample(s, d)),
  )

  val oracles: Map[String, String] = Map(
    "q_ann_topk" -> sqlBruteTopK,
    "q_ann_mmr_topk" -> sqlMmrTopK,
    "q_ann_hard_negatives" ->
      s"""SELECT query_id, q_label, neighbor_id, n_label, rank, cos FROM (
         |  SELECT q.vec_id AS query_id,
         |    CAST(q.label AS BIGINT) AS q_label,
         |    e.vec_id AS neighbor_id,
         |    CAST(e.label AS BIGINT) AS n_label,
         |    row_number() OVER (PARTITION BY q.vec_id
         |      ORDER BY ${sqlCos("q.embedding", "e.embedding")} DESC NULLS LAST, e.vec_id ASC) AS rank,
         |    ${sqlCos("q.embedding", "e.embedding")} AS cos
         |  FROM embeddings q JOIN embeddings e ON e.label <> q.label
         |  WHERE q.vec_id < $NumQueries)
         |WHERE rank <= $K""".stripMargin,
    "q_ann_lsh_topk" -> sqlLshTopK,
    "q_ann_ivf_topk" -> sqlIvfTopK,
    "q_ann_recall" -> sqlAnnRecall,
    "q_ann_cell_stats" ->
      s"""WITH $sqlIvfAssigned
         |SELECT cell, CAST(count(*) AS BIGINT) AS n_vecs
         |FROM assigned GROUP BY cell""".stripMargin,
    "q_ann_sq8_topk" ->
      s"""WITH sc AS (
         |  SELECT vec_id, embedding,
         |    127.0 / list_max(list_transform(embedding,
         |      x -> abs(CAST(x AS DOUBLE)))) AS scale
         |  FROM embeddings),
         |sq AS (
         |  SELECT vec_id,
         |    list_transform(embedding,
         |      v -> floor(CAST(v AS DOUBLE) * scale + 0.5)) AS q8
         |  FROM sc),
         |nrm AS (
         |  SELECT vec_id, q8,
         |    sqrt(CAST(list_sum(list_transform(q8, v -> CAST(v * v AS BIGINT))) AS DOUBLE)) AS sn
         |  FROM sq)
         |SELECT query_id, neighbor_id, rank, qcos FROM (
         |  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
         |    row_number() OVER (PARTITION BY q.vec_id
         |      ORDER BY CAST(list_sum(list_transform(list_zip(q.q8, e.q8),
         |          p -> CAST(p[1] * p[2] AS BIGINT))) AS DOUBLE) / (q.sn * e.sn) DESC NULLS LAST,
         |        e.vec_id ASC) AS rank,
         |    CAST(list_sum(list_transform(list_zip(q.q8, e.q8),
         |        p -> CAST(p[1] * p[2] AS BIGINT))) AS DOUBLE) / (q.sn * e.sn) AS qcos
         |  FROM nrm q JOIN nrm e ON e.vec_id <> q.vec_id
         |  WHERE q.vec_id < $NumQueries)
         |WHERE rank <= $K""".stripMargin,
    // the on-disk partitioned index is a physical layout change only:
    // the probe's results — and therefore its oracle — are exactly
    // the in-memory IVF top-k
    "q_ann_ivf_index_probe" -> sqlIvfTopK,
    "q_ann_filtered_topk" ->
      s"""WITH $sqlIvfAssigned
         |SELECT query_id, neighbor_id, label, rank, cos FROM (
         |  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
         |    CAST(e.label AS BIGINT) AS label,
         |    row_number() OVER (PARTITION BY q.vec_id
         |      ORDER BY ${sqlCos("q.embedding", "e.embedding")} DESC NULLS LAST, e.vec_id ASC) AS rank,
         |    ${sqlCos("q.embedding", "e.embedding")} AS cos
         |  FROM assigned q JOIN assigned e
         |    ON e.cell = q.cell AND e.label = q.label AND e.vec_id <> q.vec_id
         |  WHERE q.vec_id < $NumQueries)
         |WHERE rank <= $K""".stripMargin,
    "q_ann_ivf_multiprobe" -> sqlMultiprobeTopK,
    "q_ann_pq_topk" -> sqlPqTopK,
    "q_ann_ivf_kmeans_topk" -> sqlKmeansTopK,
    "q_embed_centroids" ->
      """SELECT CAST(label AS BIGINT) AS label, CAST(dim AS BIGINT) AS dim,
        |  CAST(s AS DOUBLE) / (CAST(n AS DOUBLE) * 1073741824.0) AS centroid, n
        |FROM (
        |  SELECT label, dim,
        |    CAST(sum(CAST(floor(CAST(v AS DOUBLE) * 1073741824 + 0.5) AS BIGINT)) AS BIGINT) AS s,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM (SELECT label, unnest(embedding) AS v,
        |               generate_subscripts(embedding, 1) - 1 AS dim
        |        FROM embeddings)
        |  GROUP BY label, dim)""".stripMargin,
    "q_embed_near_dup" ->
      // margin-aware multiprobe (t = NearDupProbes): each vector
      // probes, per band, its exact bucket plus the one-bit flips at
      // the t smallest |dot| margins (ties by bit — the same
      // (abs(dot), bit) order the native HyperplaneProbes selection
      // loop uses, on bitwise-identical sequential-fold dots);
      // candidates are (least, greatest)-normalized and
      // DISTINCT-deduped, mirroring the engine's slim-explode
      // construction
      s"""WITH $sqlBandSigs,
         |flips AS (
         |  SELECT vec_id, band, bit,
         |    row_number() OVER (PARTITION BY vec_id, band
         |                       ORDER BY abs(dot) ASC, bit ASC) AS rk
         |  FROM pdots),
         |probes AS (
         |  SELECT vec_id, embedding, band, bucket FROM bandbuckets
         |  UNION ALL
         |  SELECT b.vec_id, b.embedding, b.band,
         |    CAST(xor(b.bucket, CAST((1 << f.bit) AS INT)) AS INT) AS bucket
         |  FROM bandbuckets b JOIN flips f
         |    ON f.vec_id = b.vec_id AND f.band = b.band
         |    AND f.rk <= $NearDupProbes)
         |SELECT DISTINCT
         |  least(a.vec_id, b.vec_id) AS vec_a,
         |  greatest(a.vec_id, b.vec_id) AS vec_b,
         |  ${sqlCos("a.embedding", "b.embedding")} AS cos
         |FROM probes a JOIN bandbuckets b
         |  ON a.band = b.band AND a.bucket = b.bucket
         |  AND a.vec_id <> b.vec_id
         |WHERE ${sqlCos("a.embedding", "b.embedding")} >= 0.35""".stripMargin,
    "q_embed_semantic_dedup" ->
      s"""SELECT vec_id, label, leader_id, cos FROM (
         |  SELECT b.vec_id AS vec_id, CAST(b.label AS BIGINT) AS label,
         |    a.vec_id AS leader_id,
         |    ${sqlCos("a.embedding", "b.embedding")} AS cos,
         |    row_number() OVER (PARTITION BY b.vec_id
         |      ORDER BY ${sqlCos("a.embedding", "b.embedding")} DESC NULLS LAST,
         |        a.vec_id ASC) AS rn
         |  FROM embeddings a JOIN embeddings b
         |    ON a.label = b.label AND a.vec_id < b.vec_id
         |  WHERE ${sqlCos("a.embedding", "b.embedding")} >= $SemTau)
         |WHERE rn = 1""".stripMargin,
    "q_embed_semantic_stats" ->
      s"""WITH rem AS (
         |  SELECT DISTINCT b.vec_id
         |  FROM embeddings a JOIN embeddings b
         |    ON a.label = b.label AND a.vec_id < b.vec_id
         |  WHERE ${sqlCos("a.embedding", "b.embedding")} >= $SemTau)
         |SELECT CAST(e.label AS BIGINT) AS label,
         |  CAST(count(*) AS BIGINT) AS n_total,
         |  CAST(count(r.vec_id) AS BIGINT) AS n_removed,
         |  CAST(count(*) - count(r.vec_id) AS BIGINT) AS n_kept
         |FROM embeddings e LEFT JOIN rem r ON r.vec_id = e.vec_id
         |GROUP BY e.label""".stripMargin,
    "q_embed_diverse_sample" ->
      s"""SELECT vec_id, label, pick FROM (
         |  SELECT vec_id, CAST(label AS BIGINT) AS label,
         |    CAST(row_number() OVER (PARTITION BY label
         |      ORDER BY ${PortableHash.sqlH60("CAST(vec_id AS VARCHAR)")} ASC,
         |        vec_id ASC) AS INT) AS pick
         |  FROM embeddings)
         |WHERE pick <= 20""".stripMargin,
  )
}
