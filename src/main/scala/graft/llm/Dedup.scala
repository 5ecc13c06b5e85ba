package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Materialize, Tables}
import graft.llm.PortableHash._

/** Deduplication operators for training-data pipelines: exact
  * (hash-groupBy), MinHash signatures + LSH band candidate pairs,
  * SimHash, and exact n-gram Jaccard. All pure DataFrame ops over
  * codegen'd/native expressions; every hash is the portable
  * md5-derived [[PortableHash.h60]] so the DuckDB oracle reproduces
  * results bit-for-bit.
  *
  * Scale design — everything per-document is computed over shingle
  * ARRAYS inside the row (map-only, zero shuffle): signatures,
  * simhash, per-doc shingle sets. The only shuffles in the whole
  * module are (a) one collapse of (doc_id, token-hash, signature)
  * rows — never the text — into exact-duplicate groups, (b) the LSH
  * band bucket self-join over group REPRESENTATIVES — cost
  * sum(bucket²) over distinct contents, never the n² all-pairs — and
  * (c) the final tiny aggregations. Two performance rules learned the
  * hard way at sf0.1 (70 s → ~1 s class hotspots):
  *   - never reference a computed array twice inside a projection or
  *     HOF lambda without [[PortableHash.bind]] — argument trees
  *     re-evaluate per element access;
  *   - one md5 per shingle, then cheap affine integer mixes for the
  *     16-way family ([[PortableHash.minhashMix]]) — not 16 md5s.
  *
  * Exact-dup pre-collapse (the LSH skew guard): m documents with
  * identical token streams share every MinHash value, so without the
  * collapse all 8 bands collide and the band self-join emits
  * m(m-1)/2 candidate pairs per group — a 10⁵-member boilerplate
  * group (normal in any web corpus) would emit 5×10⁹ pairs from one
  * bucket. [[sigTable]] therefore collapses identical token streams
  * to their min-doc_id representative FIRST (carrying the group size
  * as a weight); bands, candidate pairs, and connected components run
  * over representatives only, and cluster membership is expanded back
  * through the groups at the end. ScaleSmokeSpec plants a 10⁴-member
  * identical group and asserts the candidate-pair count stays
  * O(distinct contents).
  */
object Dedup {

  /** Distinct 3-word shingles of a document as an array column
    * (whole text as one shingle for docs under 3 tokens). The token
    * array is bound once; shingle assembly is O(tokens).
    */
  private def shingleArr: Column =
    bind(TextAnalysis.tokensCol) { ws =>
      array_distinct(
        when(size(ws) >= 3, graft.functions.Ngrams.ngrams(ws, 3))
          .otherwise(array(concat_ws(" ", ws))))
    }

  /** Shared tokenizer SQL — one source of truth with TextAnalysis. */
  private val sqlWs = TextAnalysis.sqlTokens

  /** CTE producing (doc_id, sh) with sh = distinct shingle list for
    * EVERY document — mirrors [[shingleArr]]; used by the
    * full-corpus signature and jaccard oracles.
    */
  private val sqlShArr =
    s"""WITH toks AS (
       |  SELECT doc_id, $sqlWs AS ws FROM documents),
       |sharr AS (
       |  SELECT doc_id, list_distinct(
       |    CASE WHEN len(ws) >= 3
       |         THEN list_transform(range(1, len(ws) - 1),
       |                i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
       |         ELSE [array_to_string(ws, ' ')] END) AS sh
       |  FROM toks)""".stripMargin

  /** (doc_id, sh: array<string>) — one row per document. */
  private def shArrTable(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir).select(col("doc_id"), shingleArr.as("sh"))

  /** 16 MinHash values as an array column: the native codegen'd
    * [[graft.functions.MinhashSigs]] expression — one fused
    * hash+16-minima loop per document (the earlier nested-HOF
    * formulation dispatched interpreted lambdas O(16·shingles) times
    * per row; MinhashSigsSpec asserts bit-exact equivalence).
    */
  private def mhsOf(sh: Column): Column =
    graft.functions.MinhashSigs.minhash_sigs(sh)

  private val sqlMhs =
    s"""list_transform(range(0, 16),
       |  i -> list_min(list_transform(hv, h -> ${sqlMinhashMix("h", "i")})))""".stripMargin

  private val sqlSigs =
    s"""hvt AS (
       |  SELECT doc_id,
       |    list_transform(sh, s -> ${sqlH60("s")} & 2147483647) AS hv
       |  FROM sharr),
       |sigs AS (SELECT doc_id, $sqlMhs AS mhs FROM hvt)""".stripMargin

  /** The collapse key: md5 over the -joined token stream. Two
    * documents with equal keys have identical shingle sets, hence
    * identical MinHash signatures — the invariant the pre-collapse
    * rests on. (Distinct from [[exact]]'s lowercased/ws-normalized
    * content hash, which groups MORE texts than signature equality
    * would — e.g. case variants whose shingles differ.)
    */
  private def tokenHash: Column =
    md5(concat_ws("\u0001", TextAnalysis.tokensCol))

  /** Per-document signature/collapse table:
    * (doc_id, mhs, rep, n_dups, grp_chars) where rep = min doc_id
    * over identical token streams and n_dups/grp_chars weight the
    * group. One corpus scan, map-only per-doc hashing, then ONE
    * shuffle of (doc_id, hash, 16-long signature) rows — the text
    * itself never moves. Staged ([[graft.Materialize]]): bands, the
    * two candidate est-joins, and the doc→rep expansion all re-read
    * it, and signatures are orders of magnitude smaller than the
    * text they summarize. Lazy: merely constructing plans (audits,
    * explain dumps) materializes nothing.
    */
  private def sigTable(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("th"))
    Materialize.stage(
      Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("n_chars"),
          tokenHash.as("th"), mhsOf(shingleArr).as("mhs"))
        .select(col("doc_id"), col("mhs"),
          min(col("doc_id")).over(w).as("rep"),
          count(lit(1)).over(w).as("n_dups"),
          sum(col("n_chars")).over(w).as("grp_chars")),
      eager = false)
  }

  /** The full 16-value MinHash signature serialized as one string —
    * the est_jaccard = 1.0 collapse key that
    * [[graft.streaming.DocStreams.minhashDedupStream]] keys its
    * incremental state on. Empty/token-less docs serialize to "" and
    * therefore collapse together, matching the batch window collapse.
    */
  private[graft] def signatureKey: Column =
    concat_ws(",", transform(mhsOf(shingleArr), v => v.cast("string")))

  /** Exact dedup: md5 over whitespace-normalized lowercased text;
    * representative = min doc_id per group.
    */
  def exact(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        md5(lower(trim(regexp_replace(col("text"), "\\s+", " ")))).as("content_hash"))
      .groupBy("content_hash")
      .agg(min(col("doc_id")).as("keep_doc"), count(lit(1)).as("n_dups"))

  /** Takedown propagation: a source is removed from the corpus
    * (licensing/right-to-be-forgotten), and every exact-dedup group
    * it touched must re-elect its representative — a kept doc whose
    * `keep_doc` came from the removed source would silently vanish
    * from the training set even though identical surviving copies
    * exist. Reports each AFFECTED group (same content key as
    * [[exact]]): counts before/removed, the old and re-elected
    * representative (null when the whole group is gone), and whether
    * the representative changed. One corpus scan, one hash shuffle —
    * the conditional re-election rides the same aggregate as the
    * group counts.
    */
  def takedown(spark: SparkSession, sfDir: String,
      source: String = "src7"): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"),
        md5(lower(trim(regexp_replace(col("text"), "\\s+", " ")))).as("content_hash"))
      .groupBy("content_hash")
      .agg(
        min(col("doc_id")).as("old_rep"),
        count(lit(1)).as("n_before"),
        sum(when(col("source") === source, 1L).otherwise(0L)).as("n_removed"),
        min(when(col("source") =!= source, col("doc_id"))).as("new_rep"))
      .filter(col("n_removed") > 0)
      .select(col("content_hash"), col("old_rep"), col("n_before"),
        col("n_removed"), col("new_rep"),
        (col("new_rep").isNotNull && col("new_rep") =!= col("old_rep"))
          .as("rep_changed"))

  /** MinHash signatures for EVERY document, exploded flat as
    * (doc_id, i, mh) for the oracle compare.
    */
  def minhashSignatures(spark: SparkSession, sfDir: String): DataFrame =
    shArrTable(spark, sfDir)
      .select(col("doc_id"), posexplode(mhsOf(col("sh"))))
      .select(col("doc_id"), col("pos").as("i"), col("col").as("mh"))

  /** LSH band candidate pairs over a (doc_id, mhs) signature set:
    * 8 bands × 2 rows; docs collide when one band matches exactly.
    * est_jaccard = match fraction across all 16 from a zip of the two
    * signature arrays.
    */
  /** (doc_id, band, sig) band rows of a (doc_id, mhs) signature set:
    * 8 bands × 2 signature values serialized per row.
    */
  private def bandsOf(sigs: DataFrame): DataFrame =
    sigs.select(col("doc_id"),
      posexplode(bind(col("mhs")) { mhs =>
        transform(sequence(lit(0), lit(7)), b => concat(
          (b * 2).cast("string"), lit(":"),
          element_at(mhs, b * 2 + 1).cast("string"), lit(","),
          (b * 2 + 1).cast("string"), lit(":"),
          element_at(mhs, b * 2 + 2).cast("string")))
      }))
      .select(col("doc_id"), col("pos").as("band"), col("col").as("sig"))

  private def lshPairsOf(sigs: DataFrame): DataFrame = {
    val bands = bandsOf(sigs)
    val cand = bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig")
          && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    cand
      .join(sigs.select(col("doc_id").as("doc_a"), col("mhs").as("mhs_a")), "doc_a")
      .join(sigs.select(col("doc_id").as("doc_b"), col("mhs").as("mhs_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (size(filter(zip_with(col("mhs_a"), col("mhs_b"), (x, y) => x === y),
          b => b)) / 16.0).as("est_jaccard"))
  }

  /** MinHash-LSH candidate pairs between exact-group REPRESENTATIVES
    * (see the pre-collapse note in the object scaladoc): pairs within
    * a group of identical token streams are not emitted — they are
    * exact duplicates by construction, already collapsed under their
    * representative with weight n_dups.
    */
  def minhashLshPairs(spark: SparkSession, sfDir: String): DataFrame =
    lshPairsOf(sigTable(spark, sfDir)
      .filter(col("doc_id") === col("rep"))
      .select(col("doc_id"), col("mhs")))

  /** Candidate-pair score histogram — the threshold-sizing probe for
    * near-dup clustering: the decile distribution of `est_jaccard`
    * over the LSH candidate pairs shows where a prospective cut
    * (0.5 here) sits in the score mass BEFORE a full clustering run
    * commits to it — the pairwise twin of [[bandBucketStats]]'s
    * bucket-size probe. est = k/16 with k integer, so `floor(est·10)`
    * is IEEE-exact; the k = 16 bucket is clamped into decile 10.
    * One tiny aggregation over the (already bounded) pair set.
    */
  def pairScoreHistogram(spark: SparkSession, sfDir: String): DataFrame =
    minhashLshPairs(spark, sfDir)
      .select(least(floor(col("est_jaccard") * 10).cast("long"), lit(10L))
        .as("decile"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_pairs"))

  /** SimHash (60-bit): per-bit ±1 votes from token hashes with token
    * multiplicity, via the native codegen'd [[graft.functions.Simhash]]
    * expression — one fused hash+vote+fold loop per document. (The
    * earlier higher-order-function formulation computed the same value
    * through O(32·tokens) interpreted lambda dispatches per row.)
    */
  def simhash(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        graft.functions.Simhash.simhash(TextAnalysis.tokensCol).as("simhash"))

  /** Edge sets at most this size are solved with driver-side
    * union-find (one job, microseconds of CPU); larger graphs fall
    * back to distributed large-star/small-star. LSH banding over
    * collapsed representatives keeps real near-dup graphs far below
    * the default even at corpus scale — the pair count is O(distinct
    * near-duplicate contents), not O(corpus). It is the default of
    * the `maxDriverEdges` argument of [[sizedCC]] and
    * [[dedupClusters]]; `q_dedup_clusters_dist` and the specs pass 0
    * to force the distributed path.
    */
  val DriverCCMaxEdges = 1000000L

  /** Representative-level cluster labels (rep_doc, cluster) for the
    * collapsed near-dup graph at est_jaccard >= 0.5. Input `sigs`
    * must be the representative signature set.
    */
  private def repClusterLabels(spark: SparkSession, sigs: DataFrame,
      maxDriverEdges: Long): DataFrame =
    sizedCC(spark,
      lshPairsOf(sigs)
        .filter(col("est_jaccard") >= 0.5)
        .select(col("doc_a"), col("doc_b")),
      maxDriverEdges)

  /** Size-dispatched connected components over an undirected
    * (doc_a, doc_b) pair frame — the production CC entry shared by
    * the near-dup clustering and the click-graph components (r16;
    * previously the click graph rode the distributed path
    * unconditionally — log-rounds of staged jobs for a 100-node
    * graph).
    *
    * The pair pipeline above the dispatch is the expensive part —
    * staged first, so the dispatch choice and CC read ONE
    * computation; the edge count rides the staging action as an
    * observed metric (the largeSmallStarCC convergence-count
    * pattern), so choosing driver-vs-distributed costs zero extra
    * jobs. The label table is broadcast ONLY on the small-graph
    * path — the distributed path exists precisely because labels may
    * not fit the driver, so it must shuffle-join.
    */
  private[graft] def sizedCC(spark: SparkSession, rawPairs: DataFrame,
      maxDriverEdges: Long = DriverCCMaxEdges): DataFrame = {
    val obs = org.apache.spark.sql.Observation()
    // Dispatch on the RAW observed pair count — a deliberate, MEASURED
    // ruling on ADVICE r16's suggestion to count/collect distinct
    // normalized edges instead. Normalize+distinct before the staging
    // was tried in r17 and cost +22–31 % on all four CC-backed queries
    // (paired min-of-7: clusters 0.70→0.91, cluster_stats 0.66→0.87,
    // clusters_dist 1.05→1.29; an extra edge-stream exchange+agg on the
    // driver path and a DOUBLE dedup on the distributed path, whose
    // first large-star stage normalizes+distincts anyway). The raw
    // count only errs CONSERVATIVE (duplicates inflate it, pushing a
    // borderline graph onto the distributed path), and driver memory
    // stays bounded by the threshold regardless: at most maxDriverEdges
    // raw rows (~16 MB at the 1M default) are ever collected.
    val pairs = Materialize.stage(
      rawPairs.observe(obs, count(lit(1)).as("n_edges")))
    val nEdges = obs.get("n_edges").asInstanceOf[Long]
    if (nEdges <= maxDriverEdges) broadcast(driverUnionFind(spark, pairs))
    else largeSmallStarCC(pairs)
  }

  /** End-to-end near-dup clustering: LSH candidate pairs over
    * exact-group representatives (est_jaccard >= 0.5) form an
    * undirected graph; connected components label each
    * representative, and membership is expanded back through the
    * exact groups — every document gets cluster = the min doc_id of
    * its component (identical token streams land in their
    * representative's cluster, exactly as they did when banded
    * individually: equal signatures collide in every band at est
    * 1.0). Singletons cluster with themselves; is_dup flags every
    * non-representative member. The DuckDB oracle computes the same
    * collapse + components with a window + recursive CTE.
    *
    * Scale: CC runs over the EDGE set (tiny after LSH banding over
    * representatives), never over the corpus; the corpus-sized
    * signature table is staged once and the text never shuffles.
    */
  def dedupClusters(spark: SparkSession, sfDir: String,
      maxDriverEdges: Long = DriverCCMaxEdges): DataFrame = {
    val st = sigTable(spark, sfDir)
    val labels = repClusterLabels(spark,
      st.filter(col("doc_id") === col("rep")).select(col("doc_id"), col("mhs")),
      maxDriverEdges)
    st.select(col("doc_id"), col("rep"))
      .join(labels.withColumnRenamed("doc_id", "ldoc"),
        col("rep") === col("ldoc"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster"), col("rep")).as("cluster"))
      .withColumn("is_dup", col("cluster") =!= col("doc_id"))
  }

  /** Weighted near-dup cluster statistics, computed entirely ON the
    * collapsed representation: every representative carries its
    * exact-group weight (n_dups, grp_chars), so the reported counts
    * reflect the TRUE corpus — n_docs is physical documents, not
    * representatives — while the aggregation only ever touches
    * O(distinct contents) rows. The oracle cross-checks by expanding
    * to all documents and re-aggregating.
    */
  def dedupClusterStats(spark: SparkSession, sfDir: String): DataFrame = {
    val st = sigTable(spark, sfDir)
    val reps = st.filter(col("doc_id") === col("rep"))
    val labels = repClusterLabels(spark, reps.select(col("doc_id"), col("mhs")),
      DriverCCMaxEdges)
    reps
      .join(labels.withColumnRenamed("doc_id", "ldoc"),
        col("doc_id") === col("ldoc"), "left")
      .select(coalesce(col("cluster"), col("doc_id")).as("cluster"),
        col("n_dups"), col("grp_chars"))
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_reps"),
        sum(col("n_dups")).as("n_docs"),
        sum(col("grp_chars")).as("total_chars"))
  }

  /** SimHash near-dup candidate pairs by the pigeonhole chunk trick:
    * a 120-BIT fingerprint (two independent salted 60-bit simhashes —
    * 60 bits is all the portable md5-prefix hash carries per salt)
    * splits into four 30-bit chunks, and any two fingerprints within
    * Hamming distance 3 agree on at least one chunk (3 differing bits
    * touch at most 3 of the 4), so an equi-join on (chunk_index,
    * chunk_value) finds every such pair without an all-pairs scan —
    * the same Σ bucket² cost shape as MinHash banding. Chunk width is
    * the scheme's saturation dial, and it has now been widened TWICE
    * by scale probes: 8→15 bits when the round-5 10× sweep measured
    * ~quadratic candidates at 2⁸ buckets, and 15→30 bits when the
    * round-8 ×1000 probe caught 2¹⁵ saturating at 5M docs (256× time
    * at 1000× data; 2³⁰ buckets ≈ 10⁹ holds decades more headroom).
    * A pair colliding in several chunks is kept only at its FIRST
    * agreeing chunk — a map-side arithmetic filter, replacing the
    * former `distinct` whose shuffle carried the entire candidate
    * stream. Exact-dup groups are pre-collapsed first (identical
    * token streams share both fingerprints bit-for-bit, the same m²
    * guard as [[minhashLshPairs]]). Output: (doc_a, doc_b,
    * hamming ≤ 3 over 120 bits) between representatives.
    */
  def simhashPairs(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("th"))
    val mask30 = (1L << 30) - 1
    val sh = Tables.documents(spark, sfDir)
      .select(col("doc_id"), tokenHash.as("th"),
        graft.functions.Simhash.simhash(TextAnalysis.tokensCol).as("s0"),
        graft.functions.Simhash.simhash(TextAnalysis.tokensCol, "#sim2").as("s1"))
      .withColumn("rep", min(col("doc_id")).over(w))
      .filter(col("doc_id") === col("rep"))
      .select(col("doc_id"), col("s0"), col("s1"))
    def chunk(s0: Column, s1: Column, i: Int): Column = i match {
      case 0 => s0.bitwiseAND(lit(mask30))
      case 1 => shiftright(s0, 30).bitwiseAND(lit(mask30))
      case 2 => s1.bitwiseAND(lit(mask30))
      case 3 => shiftright(s1, 30).bitwiseAND(lit(mask30))
    }
    val chunks = sh.select(col("doc_id"), col("s0"), col("s1"),
      explode(array((0 until 4).map(i => struct(lit(i).as("ci"),
        chunk(col("s0"), col("s1"), i).as("cv"))): _*)).as("c"))
      .select(col("doc_id"), col("s0"), col("s1"), col("c.ci"), col("c.cv"))
    val firstAgree = (0 until 4).reverse.foldLeft(lit(4): Column) { (acc, i) =>
      when(chunk(col("a.s0"), col("a.s1"), i)
        === chunk(col("b.s0"), col("b.s1"), i), lit(i)).otherwise(acc)
    }
    chunks.as("a")
      .join(chunks.as("b"),
        col("a.ci") === col("b.ci") && col("a.cv") === col("b.cv")
          && col("a.doc_id") < col("b.doc_id"))
      .filter(firstAgree === col("a.ci"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        (bit_count(col("a.s0").bitwiseXOR(col("b.s0")))
          + bit_count(col("a.s1").bitwiseXOR(col("b.s1"))))
          .cast("long").as("hamming"))
      .filter(col("hamming") <= 3)
  }

  /** LSH band-bucket size histogram over representatives — the
    * operational probe for "will the band self-join blow up": the
    * candidate join costs Σ bucket², and this reports, per band and
    * bucket size, how many buckets exist and how many candidate
    * pairs they will emit. Run it BEFORE a giant dedup to size the
    * job. It also guards the collapse invariant: identical documents
    * can no longer inflate buckets, so a large bucket here is a
    * genuinely near-duplicate content family, not boilerplate skew.
    */
  def bandBucketStats(spark: SparkSession, sfDir: String): DataFrame =
    bandsOf(sigTable(spark, sfDir)
      .filter(col("doc_id") === col("rep"))
      .select(col("doc_id"), col("mhs")))
      .groupBy(col("band"), col("sig"))
      .agg(count(lit(1)).as("bucket_size"))
      .groupBy(col("band"), col("bucket_size"))
      .agg(count(lit(1)).as("n_buckets"))
      .select(col("band"), col("bucket_size"), col("n_buckets"),
        (expr("CAST(bucket_size * (bucket_size - 1) / 2 AS BIGINT)")
          * col("n_buckets")).as("est_pairs"))

  /** Union-find over a collected edge list — exact min-label
    * components in one pass, for graphs that fit the driver.
    */
  private def driverUnionFind(spark: SparkSession,
      pairs: DataFrame): DataFrame = {
    val edges = pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    // iterative find with path compression (no stack risk on chains)
    def find(x: Long): Long = {
      var root = x
      while (parent.getOrElse(root, root) != root) root = parent(root)
      var cur = x
      while (cur != root) { val next = parent(cur); parent(cur) = root; cur = next }
      root
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb) // min-label wins
    }
    val nodes = edges.flatMap { case (a, b) => Seq(a, b) }.distinct
    import spark.implicits._
    nodes.map(n => (n, find(n))).toSeq.toDF("doc_id", "cluster")
  }

  /** Distributed connected components by large-star/small-star
    * alternation — the path for edge sets too large to collect.
    * O(log d) rounds (vs O(diameter) for naive label propagation);
    * each round is two per-node min-label WINDOWS over the EDGE set
    * only (r17: formerly grouped min + self-join per star — the
    * window computes and attaches the min in one exchange), and
    * convergence is read off the rounds' own frames (the count of
    * re-pointed neighbors) — no extra except()/anti-join probe.
    *
    * Invariant: edges stay oriented u > v. Per round:
    *   - large-star: every node's strictly LARGER neighbors re-point
    *     to min(N(u) ∪ u) — applied from both directions of each
    *     edge via the symmetrized view;
    *   - small-star: every node's (strictly smaller) neighbors and
    *     the node itself re-point to min(N(u) ∪ u).
    * Joint fixpoint ⟺ no node has both a smaller and a larger
    * neighbor AND every non-root has exactly one (root) neighbor —
    * i.e. the edge set is a star forest, whose edges ARE the
    * (member, cluster) labels; min-labels match union-find exactly
    * because both star ops only ever re-point toward neighborhood
    * minima.
    */
  private[graft] def largeSmallStarCC(pairs: DataFrame, maxRounds: Int = 30): DataFrame = {
    var edges = Materialize.stage(
      pairs.select(greatest(col("doc_a"), col("doc_b")).as("u"),
          least(col("doc_a"), col("doc_b")).as("v"))
        .filter(col("u") =!= col("v")).distinct())
    var converged = edges.isEmpty
    var round = 0
    val W = org.apache.spark.sql.expressions.Window
    while (!converged && round < maxRounds) {
      // ONE job per round (r17): each star's min-label comes from a
      // window over the partition key instead of groupBy + self-join
      // (guide §2.4 — the aggregation and the attach share one
      // exchange), which drops one full edge-stream exchange per star
      // AND leaves every intermediate a single-consumer linear chain:
      // no mid-round staging, so both stars' "did anything move"
      // counts ride the round's single staging action as observed
      // metrics. Window min over the same groups is value-identical
      // to the grouped min (integer min, no order sensitivity).
      // large-star
      val lObs = org.apache.spark.sql.Observation()
      val sym = edges.unionAll(edges.select(col("v").as("u"), col("u").as("v")))
      val ljoin = sym
        .withColumn("m",
          least(col("u"), min(col("v")).over(W.partitionBy(col("u")))))
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"), col("u").as("prev"))
        .observe(lObs, coalesce(sum(when(col("v") =!= col("prev"), 1L).otherwise(0L)), lit(0L)).as("changed"))
      val ls = ljoin.select(col("u"), col("v"))
        .filter(col("u") =!= col("v")).distinct()
      // small-star (ls is oriented u > v, so all neighbors are smaller)
      val sObs = org.apache.spark.sql.Observation()
      val sjoin = ls
        .withColumn("m", min(col("v")).over(W.partitionBy(col("u"))))
        .observe(sObs, coalesce(sum(when(col("v") =!= col("m"), 1L).otherwise(0L)), lit(0L)).as("changed"))
      // one pass over the window frame: each row re-points its
      // neighbor AND re-emits its center edge; distinct collapses the
      // per-row duplicate centers
      val ss = sjoin.select(explode(array(
          struct(col("v").as("u"), col("m").as("v")),
          struct(col("u").as("u"), col("m").as("v")))).as("e"))
        .select(col("e.u"), col("e.v"))
        .filter(col("u") =!= col("v")).distinct()
      edges = Materialize.stage(ss)
      converged = lObs.get("changed").asInstanceOf[Long] == 0 &&
        sObs.get("changed").asInstanceOf[Long] == 0
      round += 1
    }
    require(converged,
      s"connected components did not converge after $maxRounds large/small-star rounds")
    edges.select(col("u").as("doc_id"), col("v").as("cluster"))
      .unionAll(edges.select(col("v").as("doc_id"), col("v").as("cluster")).distinct())
  }

  /** [[dedupClusters]] with the driver union-find disabled, forcing
    * the large/small-star distributed path — the same labels by
    * construction (both re-point only toward neighborhood minima),
    * registered as its own query so the oracle gate exercises the
    * 100 TB code path, not just the small-graph shortcut.
    */
  def dedupClustersDistributed(spark: SparkSession, sfDir: String): DataFrame =
    dedupClusters(spark, sfDir, maxDriverEdges = 0L)

  /** The deduplicated corpus itself — the rows a pipeline ships:
    * keep the min-doc_id representative of each exact-dup group.
    */
  def keepRepresentatives(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val keep = exact(spark, sfDir).select(col("keep_doc"))
    docs.join(keep, docs("doc_id") === keep("keep_doc"), "left_semi")
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
  }

  /** NEAR-dup deduplicated corpus: keep the min-doc_id representative
    * of every connected near-dup cluster (singletons represent
    * themselves) — the [[keepRepresentatives]] counterpart at
    * est_jaccard ≥ 0.5 instead of exact equality. Shaped as an
    * ANTI-join against the is_dup set: that side is O(actual
    * duplicates) — genuinely tiny and broadcastable — where the
    * keep-side is approximately the whole corpus.
    */
  def keepNearDupRepresentatives(spark: SparkSession, sfDir: String): DataFrame = {
    val dups = dedupClusters(spark, sfDir)
      .filter(col("is_dup"))
      .select(col("doc_id"))
    Tables.documents(spark, sfDir)
      .join(broadcast(dups), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
  }

  /** The staged representative (doc_id, 60-bit shingle-hash array)
    * table [[containmentPairs]] and its probes ride on. Its candidate
    * stages were sized on the ×1000 corpus in BASELINE.md's "Round-12
    * containment spill cut".
    */
  private def containmentHashTable(spark: SparkSession,
      sfDir: String): DataFrame = {
    val st = sigTable(spark, sfDir)
    // staged: probes, the inverted index, and BOTH rescoring joins
    // re-read this table; unstaged, each reference re-shingles and
    // re-hashes the corpus (4 scans, 2× the md5 work)
    Materialize.stage(shArrTable(spark, sfDir)
      .join(st.filter(col("doc_id") === col("rep")).select(col("doc_id")),
        Seq("doc_id"), "left_semi")
      .select(col("doc_id"),
        transform(col("sh"), s => h60(s)).as("hs")), eager = false)
  }

  /** Containment pairs — the truncated-page signal exact Jaccard
    * misses: a clipped copy of a long document shares ALL its shingles
    * with the original but its symmetric Jaccard can sit well under a
    * dedup threshold, so it survives near-dup removal. Containment is
    * the asymmetric ratio |A∩B| / |A|: ~1.0 for the clipped side.
    *
    * Candidates do NOT come from the minhash bands — a subset's
    * banded signature agrees with its superset's with probability
    * only ~(|A|/|B|)² per band, exactly the low-jaccard regime this
    * query exists for. Instead each document probes its MINIMUM
    * shingle hash against a full shingle inverted index: if A ⊆ B
    * then A's min shingle is in B by definition, so every full
    * containment is found with probability 1 (and cont ≥ 0.9 with
    * ~0.9). Output rows are oriented (doc_a = contained candidate,
    * doc_b = container) with exact containment ≥ 0.9 and the exact
    * jaccard alongside.
    *
    * Scale: the inverted index is one shingle-level shuffle (the
    * wordcount shape) over REPRESENTATIVES; each doc contributes ONE
    * probe, and min-hashes spread uniformly, so posting lists hit by
    * probes are not df-skewed the way common-shingle lists are.
    *
    * The rescore intersects the 60-BIT HASH arrays, never the shingle
    * strings (the r10 ×1000 probe caught the string-array rescore
    * spilling past 60 GB at 5M docs — 8-byte longs cut the staged
    * table and both rescore shuffles ~4×). Identical on both engines:
    * the oracle applies the same md5-prefix h60, so even the ~2⁻⁶⁰
    * within-doc collision would be mirrored, and the simhash-family
    * precedent (120-bit fingerprints over the same hash) documents
    * the negligible-collision argument.
    */
  def containmentPairs(spark: SparkSession, sfDir: String): DataFrame = {
    val hsh = containmentHashTable(spark, sfDir)
    val probes = hsh.select(col("doc_id").as("doc_a"),
      array_min(col("hs")).as("mh"))
    val idx = hsh.select(col("doc_id").as("doc_b"), explode(col("hs")).as("h"))
    val cand0 = probes
      .join(idx, col("mh") === col("h") && col("doc_a") =!= col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
      .distinct()
    // EXACT slim pre-gates, no arrays (the r12 peak-spill work,
    // VERDICT r11 item 1 — measured on the ×1000 corpus: 48M raw
    // min-shingle candidates for ~0.5M true pairs, whose full-array
    // rescore carried 1.5B longs ≈ 12 GB into the shuffle; the
    // boilerplate-hot min-shingle lists make candidate junk 100× the
    // output):
    //
    //  1. size gate — containment = n_inter/n_a ≥ 0.9 forces
    //     n_b ≥ n_inter ≥ 0.9·n_a (drops 29% at ×1000);
    //  2. 256-bit shingle-mask gate — per doc, OR of
    //     1 << (h mod 256) over its hashes (4 longs, 32 B). A bit
    //     set in mask_a but clear in mask_b proves ≥ 1 A-shingle
    //     absent from B, so missing-shingles ≥ popcount(a & ~b) and
    //     containment ≥ 0.9 implies popcount(a & ~b) ≤ 0.1·n_a. A
    //     junk pair sharing only the hot min-shingle leaves dozens
    //     of uncovered bits and dies here.
    //
    // Both are IMPLIED by the final containment filter — pure
    // candidate pruning, zero semantics change, oracle untouched.
    // Staged: the id sets and the rescore both read the gated set.
    // fused (r17): one primitive loop into 4 locals per row instead
    // of the aggregate/transform HOF fold that allocated a 4-long
    // array per shingle — bit-exact, Mask256Spec-pinned
    val mask = graft.functions.Mask256.mask256(col("hs"))
    val sizes = hsh.select(col("doc_id"), size(col("hs")).as("n"),
      mask.as("mk"))
    val missingBits = aggregate(
      zip_with(col("mk_a"), col("mk_b"),
        (x, y) => bit_count(x.bitwiseAND(bitwise_not(y))).cast("long")),
      lit(0L), (acc, v) => acc + v)
    val cand = Materialize.stage(cand0
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("n_a"),
        col("mk").as("mk_a")).hint("shuffle_hash"), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("n_b"),
        col("mk").as("mk_b")).hint("shuffle_hash"), "doc_b")
      .filter(col("n_b").cast("double") >= lit(0.9) * col("n_a")
        && missingBits.cast("double") <= lit(0.1) * col("n_a"))
      .select(col("doc_a"), col("doc_b")), eager = false)
    // Only SURVIVORS carry arrays into the wide joins: the candidate
    // doc-id sets broadcast back as semi-filters, so the KB-scale hs
    // rows of docs no candidate touches are pruned MAP-SIDE and never
    // enter a shuffle — at ×1000 the full hsh table is tens of GB and
    // shuffling it through both rescore joins (inner joins discard
    // non-matches only after the wire) was the recorded 44 GB
    // ENOSPC-hazard disk fill. The id sets are output-scale-bounded
    // (docs participating in a ≥0.9-containment candidate), orders
    // below the corpus; on a cluster where even that outgrows a
    // broadcast, replace with a shuffled left_semi — it co-partitions
    // with the join that follows, costing no extra array shuffle.
    val aIds = cand.select(col("doc_a").as("doc_id")).distinct()
    val bIds = cand.select(col("doc_b").as("doc_id")).distinct()
    val hsA = hsh.join(broadcast(aIds), Seq("doc_id"), "left_semi")
    val hsB = hsh.join(broadcast(bIds), Seq("doc_id"), "left_semi")
    // Rescore joins are SHUFFLED HASH, never sort-merge: the array
    // side's rows carry the KB-scale hs payload, and SMJ's sort
    // buffers (and spills) that payload — the ×1000 full-suite sweep
    // hit ENOSPC exactly there (UnsafeExternalSorter spill, stage
    // `hs_a`-sort). Building the hash map on the slim pair side
    // (join 1) / the smaller array side (join 2) streams the array
    // rows through unsorted: same shuffle, zero sort spill.
    cand.hint("shuffle_hash")
      .join(hsA.select(col("doc_id").as("doc_a"), col("hs").as("hs_a")), "doc_a")
      .join(hsB.select(col("doc_id").as("doc_b"), col("hs").as("hs_b"))
        .hint("shuffle_hash"), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("hs_a"), col("hs_b"))).cast("long").as("n_inter"),
        size(col("hs_a")).cast("long").as("n_a"),
        size(col("hs_b")).cast("long").as("n_b"))
      .select(col("doc_a"), col("doc_b"),
        (col("n_inter").cast("double") / col("n_a")).as("containment"),
        (col("n_inter").cast("double")
          / (col("n_a") + col("n_b") - col("n_inter"))).as("jaccard"))
      .filter(col("containment") >= 0.9)
  }

  /** Sizing probe for [[containmentPairs]]' min-shingle inverted
    * index — makes the "probes are not df-skewed" scale argument
    * MEASURABLE, the same operational role [[bandBucketStats]] plays
    * for the LSH bands: per posting-list size, how many lists exist
    * and how many probes actually land on lists of that size. A
    * healthy index concentrates probe hits on short lists (min-hashes
    * spread uniformly); probe mass migrating onto long common-shingle
    * lists is the skew signal that says re-shingle or cap before a
    * full run.
    *
    * Scale: one shingle-level aggregation (the wordcount shape) for
    * list sizes + a doc-level aggregation for probes, joined on the
    * hash — never materializes candidate pairs at all.
    */
  def containmentIndexStats(spark: SparkSession, sfDir: String): DataFrame = {
    val hsh = containmentHashTable(spark, sfDir)
    val lists = hsh.select(explode(col("hs")).as("h"))
      .groupBy(col("h")).agg(count(lit(1)).as("list_size"))
    val probed = hsh.select(array_min(col("hs")).as("mh"))
      .groupBy(col("mh")).agg(count(lit(1)).as("n_probes"))
    lists.join(probed, col("h") === col("mh"), "left")
      .groupBy(col("list_size"))
      .agg(count(lit(1)).as("n_lists"),
        sum(coalesce(col("n_probes"), lit(0L))).as("n_probe_hits"))
  }

  /** Cross-corpus dedup — the production INCREMENTAL mode: a new
    * batch (here `source = batchSource`) is deduplicated AGAINST the
    * existing reference corpus (every other source) rather than
    * within itself. Per batch document: `is_exact` iff its global
    * exact-group contains a reference doc (identical token streams);
    * `near_ref`/`near_est` give the best (est desc, ref asc)
    * reference representative within est_jaccard ≥ 0.5 found by a
    * band join BETWEEN the two rep sets; `drop` is the combined
    * verdict a pipeline would anti-join on.
    *
    * Scale: reuses the staged global collapse ([[sigTable]]) — both
    * sides pre-collapsed, so a boilerplate group on either side is
    * one band row, and the cross join cost is Σ bucket_B·bucket_R
    * over distinct contents. The reference text never moves; only
    * rep signatures meet the batch in the shuffle.
    */
  def crossCorpusDedup(spark: SparkSession, sfDir: String,
      batchSource: String = "src0"): DataFrame = {
    val st = sigTable(spark, sfDir)
    val mem = st.select(col("doc_id"), col("rep"))
      .join(Tables.documents(spark, sfDir).select(col("doc_id"), col("source")),
        "doc_id")
    val bmem = mem.filter(col("source") === batchSource)
    val rrep = mem.filter(col("source") =!= batchSource)
      .select(col("rep")).distinct()
    val repSig = st.filter(col("doc_id") === col("rep"))
      .select(col("doc_id"), col("mhs"))
    val bsig = repSig.join(
      bmem.select(col("rep").as("doc_id")).distinct(), Seq("doc_id"), "left_semi")
    val rsig = repSig.join(
      rrep.select(col("rep").as("doc_id")), Seq("doc_id"), "left_semi")
    val cand = bandsOf(bsig).as("a")
      .join(bandsOf(rsig).as("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig")
          && col("a.doc_id") =!= col("b.doc_id"))
      .select(col("a.doc_id").as("brep"), col("b.doc_id").as("rref"))
      .distinct()
    val w = Window.partitionBy(col("brep"))
      .orderBy(col("near_est").desc, col("rref").asc)
    val best = cand
      .join(repSig.select(col("doc_id").as("brep"), col("mhs").as("mhs_a")), "brep")
      .join(repSig.select(col("doc_id").as("rref"), col("mhs").as("mhs_b")), "rref")
      .select(col("brep"), col("rref"),
        (size(filter(zip_with(col("mhs_a"), col("mhs_b"), (x, y) => x === y),
          b => b)) / 16.0).as("near_est"))
      .filter(col("near_est") >= 0.5)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("brep"), col("rref").as("near_ref"), col("near_est"))
    bmem
      .join(rrep.withColumnRenamed("rep", "xrep")
          .withColumn("is_exact", lit(true)),
        col("rep") === col("xrep"), "left")
      .join(best, col("rep") === col("brep"), "left")
      .select(col("doc_id"),
        coalesce(col("is_exact"), lit(false)).as("is_exact"),
        col("near_ref"), col("near_est"))
      .withColumn("is_drop",
        col("is_exact") || col("near_est").isNotNull)
  }

  /** Exact n-gram Jaccard between consecutive doc ids: a doc-level
    * self-join (n rows, broadcastable) with per-row array
    * intersection — no shingle-level shuffle.
    */
  def jaccardAdjacent(spark: SparkSession, sfDir: String): DataFrame = {
    val sh = shArrTable(spark, sfDir)
    val a = sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"))
    val b = sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"))
    a.join(b, col("doc_b") === col("doc_a") + 1)
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("long").as("n_inter"),
        size(col("sh_a")).cast("long").as("n_a"),
        size(col("sh_b")).cast("long").as("n_b"))
      .withColumn("jaccard",
        col("n_inter").cast("double") / (col("n_a") + col("n_b") - col("n_inter")))
  }

  // ---- oracle SQL ----------------------------------------------------

  /** Collapse CTE chain mirroring [[sigTable]]: toks → grp (rep,
    * n_dups, grp_chars via windows over the token-stream hash) →
    * sharr restricted to representatives.
    */
  private val sqlGrp =
    s"""WITH toks AS (
       |  SELECT doc_id, n_chars, $sqlWs AS ws FROM documents),
       |grp AS (
       |  SELECT doc_id, n_chars, ws,
       |    min(doc_id) OVER (PARTITION BY md5(array_to_string(ws, chr(1)))) AS rep,
       |    count(*)   OVER (PARTITION BY md5(array_to_string(ws, chr(1)))) AS n_dups,
       |    sum(n_chars) OVER (PARTITION BY md5(array_to_string(ws, chr(1)))) AS grp_chars
       |  FROM toks),
       |sharr AS (
       |  SELECT doc_id, list_distinct(
       |    CASE WHEN len(ws) >= 3
       |         THEN list_transform(range(1, len(ws) - 1),
       |                i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
       |         ELSE [array_to_string(ws, ' ')] END) AS sh
       |  FROM grp WHERE doc_id = rep)""".stripMargin

  /** Shared band + candidate-pair CTEs (used by the pairs and the
    * clusters oracles — keep them textually identical).
    */
  private def sqlBandsOver(from: String, name: String): String =
    s"""$name AS (
       |  SELECT doc_id, CAST(b AS INT) AS band,
       |    (b*2) || ':' || mhs[b*2 + 1] || ',' || (b*2+1) || ':' || mhs[b*2 + 2] AS sig
       |  FROM $from CROSS JOIN range(0, 8) t(b))""".stripMargin

  private val sqlBands = sqlBandsOver("sigs", "bands")

  private val sqlBandsCand =
    s"""$sqlBands,
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id)""".stripMargin

  /** Shared CTE chain ending in `comp(doc, cluster)` over the
    * REPRESENTATIVE graph — reused by the clusters, near-keep, and
    * cluster-stats oracles.
    */
  private lazy val sqlCompChain =
    s"""$sqlGrp,
       |$sqlSigs,
       |$sqlBandsCand,
       |pairs AS (
       |  SELECT doc_a, doc_b FROM (
       |    SELECT doc_a, doc_b,
       |      len(list_filter(list_zip(sa.mhs, sb.mhs), p -> p[1] = p[2])) / 16.0 AS est
       |    FROM cand
       |    JOIN sigs sa ON sa.doc_id = doc_a
       |    JOIN sigs sb ON sb.doc_id = doc_b)
       |  WHERE est >= 0.5),
       |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
       |          UNION ALL SELECT doc_b, doc_a FROM pairs),
       |nodes AS (SELECT DISTINCT src AS doc FROM edges),
       |reach(doc, r) AS (
       |  SELECT doc, doc FROM nodes
       |  UNION
       |  SELECT reach.doc, e.dst FROM reach JOIN edges e ON reach.r = e.src),
       |comp AS (SELECT doc, min(r) AS cluster FROM reach GROUP BY doc)""".stripMargin

  /** Per-document n-gram novelty: the fraction of a document's
    * distinct 3-shingles that occur in NO other document — the
    * memorization-risk / contribution signal (a doc whose shingles all
    * appear elsewhere adds nothing but duplication pressure; a
    * high-novelty doc is unique content). The complement of the
    * containment family: containment asks "is doc A inside doc B",
    * novelty asks "how much of A is anywhere else".
    *
    * Scale: the exploded relation carries `h60(shingle)` LONGS, not
    * the shingle strings — an 8-byte shuffle key for the df
    * aggregation, the query's ONE shingle-mass shuffle (no join back
    * to the stream: see in-code note); a 60-bit
    * collision conflates two shingles corpus-wide, negligible and
    * mirrored exactly by the oracle. Deliberately NOT staged: the
    * round-8 ×1000 probe showed the materialized exploded relation
    * (≈ shingles × corpus rows) pinning executor storage until the
    * df hash aggregation could not allocate
    * ([AGGREGATE_OUT_OF_MEMORY]) — recomputing the map-side shingle
    * explode for each consumer is two cheap corpus scans instead of
    * a corpus-sized cache. Shingles per doc are already distinct, so
    * df counts documents directly.
    */
  def novelty(spark: SparkSession, sfDir: String): DataFrame = {
    val sh = shArrTable(spark, sfDir)
      .select(col("doc_id"), explode(col("sh")).as("raw"))
      .select(col("doc_id"), h60(col("raw")).as("s"))
    // NO join back to the shingle stream: a df=1 shingle lives in
    // exactly one document, so carrying max(doc_id) through the df
    // aggregation IDENTIFIES that document for free, and per-doc
    // unique counts fall out of a doc-level rollup of the df=1
    // slice. n_shingles collapses map-side (a doc's shingles are
    // row-local). The old shape joined the ~1B-row shingle stream
    // against the ~vocab-sized df table just to re-aggregate per doc
    // — the engine's last stream-mass join whose output collapsed
    // straight into a per-doc aggregate (r11 ×1000: 46.7 → measured
    // in BASELINE.md).
    val perDoc = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_shingles"))
    val uniq = sh.groupBy(col("s"))
      .agg(count(lit(1)).as("df"), max(col("doc_id")).as("doc_id"))
      .filter(col("df") === 1)
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_unique"))
    perDoc.join(uniq, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_shingles"),
        coalesce(col("n_unique"), lit(0L)).as("n_unique"),
        (coalesce(col("n_unique"), lit(0L)).cast("double")
          / col("n_shingles").cast("double")).as("novelty"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_dedup_exact" -> exact _,
    "q_dedup_takedown" -> ((sp: org.apache.spark.sql.SparkSession, d: String) => takedown(sp, d)),
    "q_dedup_novelty" -> novelty _,
    "q_dedup_minhash" -> minhashSignatures _,
    "q_dedup_minhash_pairs" -> minhashLshPairs _,
    "q_dedup_simhash" -> simhash _,
    "q_dedup_simhash_pairs" -> simhashPairs _,
    "q_dedup_clusters" -> ((s: SparkSession, d: String) => dedupClusters(s, d)),
    "q_dedup_clusters_dist" -> dedupClustersDistributed _,
    "q_dedup_cluster_stats" -> dedupClusterStats _,
    "q_dedup_band_stats" -> bandBucketStats _,
    "q_dedup_pair_hist" -> pairScoreHistogram _,
    "q_dedup_keep" -> keepRepresentatives _,
    "q_dedup_near_keep" -> keepNearDupRepresentatives _,
    "q_dedup_cross" -> ((s: SparkSession, d: String) => crossCorpusDedup(s, d)),
    "q_dedup_containment" -> containmentPairs _,
    "q_dedup_containment_stats" -> containmentIndexStats _,
    "q_jaccard_adjacent" -> jaccardAdjacent _,
  )

  val oracles: Map[String, String] = Map(
    "q_dedup_novelty" ->
      s"""$sqlShArr,
         |ex AS (SELECT doc_id, ${sqlH60("raw")} AS s FROM
         |  (SELECT doc_id, unnest(sh) AS raw FROM sharr)),
         |dfc AS (SELECT s, CAST(count(*) AS BIGINT) AS df FROM ex GROUP BY s)
         |SELECT ex.doc_id,
         |  CAST(count(*) AS BIGINT) AS n_shingles,
         |  CAST(sum(CASE WHEN dfc.df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
         |  CAST(sum(CASE WHEN dfc.df = 1 THEN 1 ELSE 0 END) AS DOUBLE)
         |    / CAST(count(*) AS DOUBLE) AS novelty
         |FROM ex JOIN dfc ON ex.s = dfc.s
         |GROUP BY ex.doc_id""".stripMargin,
    "q_dedup_takedown" ->
      """WITH g AS (
        |  SELECT md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS content_hash,
        |    min(doc_id) AS old_rep,
        |    count(*) AS n_before,
        |    CAST(sum(CASE WHEN source = 'src7' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_removed,
        |    min(CASE WHEN source <> 'src7' THEN doc_id END) AS new_rep
        |  FROM documents GROUP BY 1)
        |SELECT content_hash, old_rep, n_before, n_removed, new_rep,
        |  (new_rep IS NOT NULL AND new_rep <> old_rep) AS rep_changed
        |FROM g WHERE n_removed > 0""".stripMargin,
    "q_dedup_exact" ->
      """SELECT md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS content_hash,
        |  min(doc_id) AS keep_doc, count(*) AS n_dups
        |FROM documents GROUP BY 1""".stripMargin,
    "q_dedup_minhash" ->
      s"""$sqlShArr,
         |$sqlSigs
         |SELECT doc_id, CAST(i AS INT) AS i, mhs[i + 1] AS mh
         |FROM sigs CROSS JOIN range(0, 16) t(i)""".stripMargin,
    "q_dedup_minhash_pairs" ->
      s"""$sqlGrp,
         |$sqlSigs,
         |$sqlBandsCand
         |SELECT doc_a, doc_b,
         |  len(list_filter(list_zip(sa.mhs, sb.mhs), p -> p[1] = p[2])) / 16.0 AS est_jaccard
         |FROM cand
         |JOIN sigs sa ON sa.doc_id = doc_a
         |JOIN sigs sb ON sb.doc_id = doc_b""".stripMargin,
    "q_dedup_pair_hist" ->
      s"""$sqlGrp,
         |$sqlSigs,
         |$sqlBandsCand,
         |scored AS (
         |  SELECT len(list_filter(list_zip(sa.mhs, sb.mhs),
         |    p -> p[1] = p[2])) / 16.0 AS est
         |  FROM cand
         |  JOIN sigs sa ON sa.doc_id = doc_a
         |  JOIN sigs sb ON sb.doc_id = doc_b)
         |SELECT CAST(least(floor(est * 10), 10) AS BIGINT) AS decile,
         |  CAST(count(*) AS BIGINT) AS n_pairs
         |FROM scored GROUP BY 1""".stripMargin,
    "q_dedup_simhash_pairs" ->
      s"""$sqlGrp,
         |hs AS (
         |  SELECT doc_id,
         |    list_transform(ws, w -> CAST('0x' || substr(md5(w || '#sim'), 1, 15) AS BIGINT)) AS h0,
         |    list_transform(ws, w -> CAST('0x' || substr(md5(w || '#sim2'), 1, 15) AS BIGINT)) AS h1
         |  FROM grp WHERE doc_id = rep),
         |sh AS (
         |  SELECT doc_id,
         |    CAST(list_sum(list_transform(range(0, 60), b ->
         |      CASE WHEN list_sum(list_transform(h0,
         |             h -> CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END)) > 0
         |           THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)) AS BIGINT) AS s0,
         |    CAST(list_sum(list_transform(range(0, 60), b ->
         |      CASE WHEN list_sum(list_transform(h1,
         |             h -> CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END)) > 0
         |           THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)) AS BIGINT) AS s1
         |  FROM hs),
         |chunks AS (
         |  SELECT doc_id, s0, s1, CAST(i AS INT) AS ci,
         |    CASE CAST(i AS INT)
         |      WHEN 0 THEN s0 & 1073741823
         |      WHEN 1 THEN (s0 >> 30) & 1073741823
         |      WHEN 2 THEN s1 & 1073741823
         |      ELSE (s1 >> 30) & 1073741823 END AS cv
         |  FROM sh CROSS JOIN range(0, 4) t(i))
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(bit_count(xor(a.s0, b.s0)) + bit_count(xor(a.s1, b.s1))
         |       AS BIGINT) AS hamming
         |FROM chunks a JOIN chunks b
         |  ON a.ci = b.ci AND a.cv = b.cv AND a.doc_id < b.doc_id
         |WHERE (CASE WHEN (a.s0 & 1073741823) = (b.s0 & 1073741823) THEN 0
         |            WHEN ((a.s0 >> 30) & 1073741823) = ((b.s0 >> 30) & 1073741823) THEN 1
         |            WHEN (a.s1 & 1073741823) = (b.s1 & 1073741823) THEN 2
         |            WHEN ((a.s1 >> 30) & 1073741823) = ((b.s1 >> 30) & 1073741823) THEN 3
         |            ELSE 4 END) = a.ci
         |  AND bit_count(xor(a.s0, b.s0)) + bit_count(xor(a.s1, b.s1)) <= 3""".stripMargin,
    "q_dedup_band_stats" ->
      s"""$sqlGrp,
         |$sqlSigs,
         |$sqlBands,
         |buckets AS (
         |  SELECT band, sig, count(*) AS bucket_size FROM bands GROUP BY band, sig)
         |SELECT band, bucket_size, count(*) AS n_buckets,
         |  CAST(bucket_size * (bucket_size - 1) / 2 AS BIGINT) * count(*) AS est_pairs
         |FROM buckets GROUP BY band, bucket_size""".stripMargin,
    "q_dedup_clusters" ->
      // the recursive member (reach) requires the RECURSIVE keyword on
      // the single WITH that opens the chained CTE list
      s"""$sqlCompChain
         |SELECT g.doc_id, COALESCE(c.cluster, g.rep) AS cluster,
         |  COALESCE(c.cluster, g.rep) <> g.doc_id AS is_dup
         |FROM grp g LEFT JOIN comp c ON g.rep = c.doc""".stripMargin
        .replaceFirst("WITH ", "WITH RECURSIVE "),
    // identical oracle: the distributed path must produce the exact
    // same min-label components as the driver union-find
    "q_dedup_clusters_dist" ->
      s"""$sqlCompChain
         |SELECT g.doc_id, COALESCE(c.cluster, g.rep) AS cluster,
         |  COALESCE(c.cluster, g.rep) <> g.doc_id AS is_dup
         |FROM grp g LEFT JOIN comp c ON g.rep = c.doc""".stripMargin
        .replaceFirst("WITH ", "WITH RECURSIVE "),
    "q_dedup_cluster_stats" ->
      s"""$sqlCompChain
         |SELECT cluster, count(*) AS n_docs, count(DISTINCT rep) AS n_reps,
         |  CAST(sum(n_chars) AS BIGINT) AS total_chars
         |FROM (
         |  SELECT g.doc_id, g.rep, g.n_chars,
         |    COALESCE(c.cluster, g.rep) AS cluster
         |  FROM grp g LEFT JOIN comp c ON g.rep = c.doc)
         |GROUP BY cluster""".stripMargin
        .replaceFirst("WITH ", "WITH RECURSIVE "),
    "q_dedup_near_keep" ->
      s"""$sqlCompChain
         |SELECT d.doc_id, d.lang, d.source, d.n_chars
         |FROM documents d
         |JOIN grp g ON g.doc_id = d.doc_id
         |LEFT JOIN comp c ON g.rep = c.doc
         |WHERE COALESCE(c.cluster, g.rep) = d.doc_id""".stripMargin
        .replaceFirst("WITH ", "WITH RECURSIVE "),
    "q_dedup_simhash" ->
      s"""WITH hs AS (
         |  SELECT doc_id,
         |    list_transform($sqlWs,
         |      w -> CAST('0x' || substr(md5(w || '#sim'), 1, 15) AS BIGINT)) AS hs
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(list_sum(list_transform(range(0, 60), b ->
         |    CASE WHEN list_sum(list_transform(hs,
         |           h -> CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END)) > 0
         |         THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)) AS BIGINT) AS simhash
         |FROM hs""".stripMargin,
    "q_dedup_keep" ->
      """SELECT doc_id, lang, source, n_chars FROM documents
        |WHERE doc_id IN (
        |  SELECT min(doc_id) FROM documents
        |  GROUP BY md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))))""".stripMargin,
    "q_dedup_containment" ->
      // rescore over the SAME h60 hash arrays the Spark side
      // intersects (not the shingle strings) — one hash function,
      // two engines, so even a collision would be mirrored
      s"""$sqlGrp,
         |hsh AS (
         |  SELECT doc_id,
         |    list_transform(sh, s -> ${sqlH60("s")}) AS hs
         |  FROM sharr),
         |probes AS (SELECT doc_id AS doc_a, list_min(hs) AS mh FROM hsh),
         |idx AS (SELECT doc_id AS doc_b, unnest(hs) AS h FROM hsh),
         |cand AS (
         |  SELECT DISTINCT doc_a, doc_b FROM probes
         |  JOIN idx ON mh = h AND doc_a <> doc_b)
         |SELECT doc_a, doc_b, containment, jaccard FROM (
         |  SELECT doc_a, doc_b,
         |    CAST(len(list_intersect(a.hs, b.hs)) AS DOUBLE) / len(a.hs) AS containment,
         |    CAST(len(list_intersect(a.hs, b.hs)) AS DOUBLE)
         |      / (len(a.hs) + len(b.hs) - len(list_intersect(a.hs, b.hs))) AS jaccard
         |  FROM cand
         |  JOIN hsh a ON a.doc_id = doc_a
         |  JOIN hsh b ON b.doc_id = doc_b)
         |WHERE containment >= 0.9""".stripMargin,
    "q_dedup_containment_stats" ->
      s"""$sqlGrp,
         |hsh AS (
         |  SELECT doc_id, list_transform(sh, s -> ${sqlH60("s")}) AS hs
         |  FROM sharr),
         |lists AS (
         |  SELECT h, CAST(count(*) AS BIGINT) AS list_size
         |  FROM (SELECT doc_id, unnest(hs) AS h FROM hsh) GROUP BY h),
         |probes AS (
         |  SELECT list_min(hs) AS mh, CAST(count(*) AS BIGINT) AS n_probes
         |  FROM hsh GROUP BY 1)
         |SELECT list_size, CAST(count(*) AS BIGINT) AS n_lists,
         |  CAST(COALESCE(sum(n_probes), 0) AS BIGINT) AS n_probe_hits
         |FROM lists LEFT JOIN probes ON mh = h
         |GROUP BY list_size""".stripMargin,
    "q_dedup_cross" ->
      s"""$sqlGrp,
         |$sqlSigs,
         |bmem AS (
         |  SELECT g.doc_id, g.rep FROM grp g
         |  JOIN documents d ON d.doc_id = g.doc_id WHERE d.source = 'src0'),
         |rrep AS (
         |  SELECT DISTINCT g.rep FROM grp g
         |  JOIN documents d ON d.doc_id = g.doc_id WHERE d.source <> 'src0'),
         |bsig AS (
         |  SELECT s.doc_id, s.mhs FROM sigs s
         |  WHERE s.doc_id IN (SELECT DISTINCT rep FROM bmem)),
         |rsig AS (
         |  SELECT s.doc_id, s.mhs FROM sigs s
         |  WHERE s.doc_id IN (SELECT rep FROM rrep)),
         |${sqlBandsOver("bsig", "bandsb")},
         |${sqlBandsOver("rsig", "bandsr")},
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS brep, b.doc_id AS rref
         |  FROM bandsb a JOIN bandsr b
         |    ON a.band = b.band AND a.sig = b.sig AND a.doc_id <> b.doc_id),
         |est AS (
         |  SELECT brep, rref,
         |    len(list_filter(list_zip(sa.mhs, sb.mhs), p -> p[1] = p[2])) / 16.0 AS near_est
         |  FROM cand
         |  JOIN sigs sa ON sa.doc_id = brep
         |  JOIN sigs sb ON sb.doc_id = rref),
         |best AS (
         |  SELECT brep, rref AS near_ref, near_est FROM (
         |    SELECT *, row_number() OVER (PARTITION BY brep
         |      ORDER BY near_est DESC, rref ASC) AS rn
         |    FROM est WHERE near_est >= 0.5)
         |  WHERE rn = 1)
         |SELECT m.doc_id,
         |  m.rep IN (SELECT rep FROM rrep) AS is_exact,
         |  b.near_ref, b.near_est,
         |  (m.rep IN (SELECT rep FROM rrep)) OR b.near_est IS NOT NULL AS is_drop
         |FROM bmem m LEFT JOIN best b ON m.rep = b.brep""".stripMargin,
    "q_jaccard_adjacent" ->
      s"""$sqlShArr
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS n_inter,
         |  CAST(len(a.sh) AS BIGINT) AS n_a,
         |  CAST(len(b.sh) AS BIGINT) AS n_b,
         |  CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         |    / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jaccard
         |FROM sharr a JOIN sharr b ON b.doc_id = a.doc_id + 1""".stripMargin,
  )
}
