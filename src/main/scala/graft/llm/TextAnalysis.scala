package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.llm.PortableHash._

/** Text analysis for training-data pipelines: language ID, quality
  * scoring, token counting, document fingerprinting — all over
  * `documents.text`, all pure `functions._` (codegen'd, no UDFs), all
  * DuckDB-oracle-checked.
  *
  * Scale: every query here is embarrassingly parallel per document —
  * a single parquet scan, no shuffle except the (tiny) final agg where
  * present. At 100 TB these are scan-bound, which is the ideal shape.
  */
object TextAnalysis {

  /** Whitespace tokens with blanks dropped; the shared tokenizer
    * (mirror: `list_filter(string_split_regex(text,'\s+'), ...)`).
    * Fused (r17): one byte scan per row ([[graft.functions.Tokens]])
    * instead of `filter(split(text, "\\s+"), length > 0)`, whose
    * `String.split` re-compiled the regex PER ROW and whose filter
    * dispatched an interpreted lambda per token. Bit-identical
    * (TokensSpec pins the equality corpus-wide and on the ws edge
    * shapes); the DuckDB mirror below is unchanged.
    */
  def tokensCol: Column =
    graft.functions.Tokens.tokens(col("text"))

  /** SQL mirror of [[tokensCol]] — single source of truth, reused by
    * the Dedup oracles too.
    */
  val sqlTokens: String =
    """list_filter(string_split_regex(text, '\s+'), w -> length(w) > 0)"""

  /** Tiny per-language stopword lists for the n-gram/stopword
    * heuristic language ID. Deterministic priority on ties:
    * en > de > es > fr.
    */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "and", "of", "to", "in", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein"),
    "es" -> Seq("el", "la", "los", "de", "y", "es", "un"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un"))

  private def sqlScore(lang: String): String = {
    val set = stopwords(lang).map(w => s"'$w'").mkString(", ")
    s"len(list_filter($sqlTokens, w -> w IN ($set)))"
  }

  /** Stopword-ratio language ID with deterministic tiebreak. All four
    * scores come out of ONE [[graft.functions.TextCounts]] scan (the
    * lambda-filter formulation walked the token array once per
    * language).
    */
  def langId(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"),
        graft.functions.TextCounts.textCounts(col("text")).as("tc"))
      .select(col("doc_id"), col("lang"),
        col("tc.s_en").as("s_en"), col("tc.s_de").as("s_de"),
        col("tc.s_es").as("s_es"), col("tc.s_fr").as("s_fr"))
      .withColumn("detected",
        when(col("s_en") >= col("s_de") && col("s_en") >= col("s_es")
          && col("s_en") >= col("s_fr"), "en")
          .when(col("s_de") >= col("s_es") && col("s_de") >= col("s_fr"), "de")
          .when(col("s_es") >= col("s_fr"), "es")
          .otherwise("fr"))

  /** Quality scoring: length/punctuation/stopword ratios. Ratios are
    * int/int double divisions — deterministic across engines.
    */
  def qualityScore(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), length(col("text")).as("n_chars"),
        graft.functions.TextCounts.textCounts(col("text")).as("tc"))
      .select(col("doc_id"),
        col("tc.n_tokens").as("n_tokens"),
        col("n_chars"),
        col("tc.n_punct").as("n_punct"),
        col("tc.s_en").as("n_stop"))
      // explicit zero-denominator guards: Spark's non-ANSI x/0 yields
      // NULL but DuckDB yields NaN/inf — empty docs would diverge
      .withColumn("stop_ratio",
        when(col("n_tokens") > 0, col("n_stop").cast("double") / col("n_tokens")))
      .withColumn("punct_ratio",
        when(col("n_chars") > 0, col("n_punct").cast("double") / col("n_chars")))
      .withColumn("quality",
        when(col("n_tokens") > 0 && col("n_chars") > 0,
          col("stop_ratio") * lit(0.5)
            + when(col("n_tokens") >= 10 && col("n_tokens") <= 1000, 0.3).otherwise(0.0)
            + when(col("punct_ratio") <= 0.1, 0.2).otherwise(0.0)))

  /** The quality score as ONE expression over `text` — the same
    * arithmetic as [[qualityScore]]'s column pipeline (term order
    * matters for double equality; keep the two in lockstep), for
    * consumers that need quality inline without a join (data card).
    */
  def qualityCol: Column = {
    // one TextCounts scan; the repeated `tc` references are identical
    // subtrees, deduplicated by codegen subexpression elimination
    val tc = graft.functions.TextCounts.textCounts(col("text"))
    val nt = tc.getField("n_tokens")
    val nc = length(col("text"))
    val np = tc.getField("n_punct")
    val ns = tc.getField("s_en")
    when(nt > 0 && nc > 0,
      (ns.cast("double") / nt) * lit(0.5)
        + when(nt >= 10 && nt <= 1000, 0.3).otherwise(0.0)
        + when((np.cast("double") / nc) <= 0.1, 0.2).otherwise(0.0))
  }

  /** SQL mirror of [[qualityCol]] as a scalar CASE over `text`. */
  def sqlQualityCol: String =
    s"""(CASE WHEN len($sqlTokens) > 0 AND length(text) > 0 THEN
       |  CAST(${sqlScore("en")} AS DOUBLE) / len($sqlTokens) * 0.5
       |  + CASE WHEN len($sqlTokens) BETWEEN 10 AND 1000 THEN 0.3 ELSE 0.0 END
       |  + CASE WHEN CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS DOUBLE)
       |         / length(text) <= 0.1 THEN 0.2 ELSE 0.0 END
       |  END)""".stripMargin

  /** SQL mirror of [[qualityScore]] as a full SELECT over
    * `documents` — the q_llm_quality oracle, and reused as a CTE by
    * every oracle that consumes the quality score (curriculum).
    */
  lazy val sqlQualityTable: String =
    s"""SELECT doc_id, n_tokens, n_chars, n_punct, n_stop,
       |  CASE WHEN n_tokens > 0 THEN CAST(n_stop AS DOUBLE) / n_tokens END AS stop_ratio,
       |  CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE) / n_chars END AS punct_ratio,
       |  CASE WHEN n_tokens > 0 AND n_chars > 0 THEN
       |    CAST(n_stop AS DOUBLE) / n_tokens * 0.5
       |    + CASE WHEN n_tokens BETWEEN 10 AND 1000 THEN 0.3 ELSE 0.0 END
       |    + CASE WHEN CAST(n_punct AS DOUBLE) / n_chars <= 0.1 THEN 0.2 ELSE 0.0 END
       |  END AS quality
       |FROM (SELECT doc_id,
       |        len($sqlTokens) AS n_tokens,
       |        length(text) AS n_chars,
       |        len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS n_punct,
       |        ${sqlScore("en")} AS n_stop
       |      FROM documents)""".stripMargin

  /** Token counting: whitespace tokens + a BPE-ish regex segmentation
    * (letter runs | digit runs | single non-alnum marks).
    */
  def tokenCount(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), length(col("text")).as("n_chars"),
        graft.functions.TextCounts.textCounts(col("text")).as("tc"))
      .select(col("doc_id"),
        col("tc.n_tokens").as("ws_tokens"),
        col("tc.n_bpe").as("bpe_tokens"),
        col("n_chars"))

  /** Document fingerprint: polynomial rolling hash over the token
    * stream, `fp = fold(0, (acc, tok) -> (acc*31 + h60(tok)) % 1e9+7)`.
    * Order-sensitive by design (a permutation of the same tokens
    * fingerprints differently), unlike the set-based MinHash.
    */
  def fingerprint(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        aggregate(
          transform(tokensCol, w => h60(w)),
          lit(0L),
          (acc, x) => (acc * 31 + x) % 1000000007L).as("fingerprint"))

  /** Scrub transform (URL/email placeholders, whitespace collapse,
    * trim) — single source of truth shared with [[Pipeline]]. Native
    * one-pass-per-stage expression ([[graft.functions.ScrubText]];
    * `ScrubTextSpec` pins it to the original 3× `regexp_replace`
    * chain, which remains the DuckDB oracle's formulation).
    */
  def scrubCol(c: Column): Column = graft.functions.ScrubText.scrubText(c)

  /** SQL mirror of [[scrubCol]]. */
  def sqlScrub(expr: String): String =
    s"""trim(regexp_replace(
       |  regexp_replace(
       |    regexp_replace($expr, 'https?://\\S+', '<URL>', 'g'),
       |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
       |  '\\s+', ' ', 'g'))""".stripMargin

  /** Normalization/scrubbing pass: URLs and emails replaced by
    * placeholder tags, whitespace collapsed, trimmed — the standard
    * pre-dedup cleanup of a training-data pipeline. Pure regex
    * (identical Java-regex/RE2 semantics for these patterns).
    */
  def scrub(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), scrubCol(col("text")).as("clean_text"))
      .withColumn("n_chars_clean", length(col("clean_text")))

  /** Gopher-style intra-document repetition signal: the fraction of
    * 3-grams that are duplicates of an earlier 3-gram in the same
    * document. Heavily repetitive boilerplate (nav bars, spam, keyword
    * stuffing) scores high and gets gated. Entirely per-row array
    * work — map-only, no shuffle, the 100 TB quality-filter shape.
    */
  def repetition(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        // native fused n-gram loop; < 3 tokens yields empty, matching
        // the old guarded-HOF form
        graft.functions.Ngrams.ngrams(tokensCol, 3).as("grams"))
      .select(col("doc_id"),
        size(col("grams")).as("n_grams"),
        size(array_distinct(col("grams"))).as("n_distinct"))
      .select(col("doc_id"), col("n_grams"), col("n_distinct"),
        when(col("n_grams") > 0,
          (col("n_grams") - col("n_distinct")).cast("double") / col("n_grams"))
          .as("dup_frac"))
      .withColumn("is_repetitive", coalesce(col("dup_frac") > 0.2, lit(false)))

  /** Corpus vocabulary: top-100 whitespace tokens by frequency, with
    * a (count desc, token asc) total order. The classic wordcount →
    * top-k: map-side partial aggregation before the shuffle, then
    * TakeOrderedAndProject — no global sort of the vocabulary.
    */
  def vocabulary(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(explode(tokensCol).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token").asc)
      .limit(100)

  /** Out-of-vocabulary rate per document against the corpus TOP-20
    * vocabulary — the junk-text signal: prose drawn from the corpus
    * distribution covers the head vocabulary heavily, while
    * random-character noise, foreign scripts, or markup soup score
    * OOV ≈ 1 and get gated. (20, not the full [[vocabulary]] 100:
    * these synthetic corpora have a closed vocabulary under 100
    * tokens, so a top-100 cut would make every rate 0.)
    *
    * Scale: the vocabulary rides as ONE broadcast array row and
    * membership is an in-row array scan — map-only over the corpus
    * (a 20-entry scan per token is cheaper than any shuffle; at a
    * realistic 10⁵-entry vocabulary you'd explode tokens and
    * broadcast-anti-join against the vocab instead, trading one
    * map-side hash probe per token).
    *
    * NULL contract: a zero-token document emits `n_tokens = 0` and
    * `oov_rate = NULL` — the rate is 0/0, and NULL (not 0.0, which
    * would read as "perfectly in-vocabulary") is the honest value.
    * The DuckDB oracle's CASE with no ELSE yields the same NULL;
    * consumers gate on `n_tokens > 0` before averaging. Asserted in
    * TextAnalysisSpec's empty-document case.
    */
  def oovRate(spark: SparkSession, sfDir: String, k: Int = 20): DataFrame =
    oovRateOf(Tables.documents(spark, sfDir), k)

  def oovRateOf(docs: DataFrame, k: Int = 20): DataFrame = {
    val vset = docs
      .select(explode(tokensCol).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token").asc).limit(k)
      .agg(collect_set(col("token")).as("vs"))
    docs
      .select(col("doc_id"), col("source"), tokensCol.as("ws"))
      .crossJoin(broadcast(vset))
      .select(col("doc_id"), col("source"),
        size(col("ws")).cast("long").as("n_tokens"),
        size(filter(col("ws"), t => !array_contains(col("vs"), t)))
          .cast("long").as("n_oov"))
      .withColumn("oov_rate",
        when(col("n_tokens") > 0,
          col("n_oov").cast("double") / col("n_tokens").cast("double")))
  }

  /** Compression-based quality signal, driver-gate form. DEFLATE
    * output is implementation-defined across libraries (no DuckDB
    * compress function), so the registered query emits the two
    * *invariants* of a correct compressor that an external oracle CAN
    * pin — `roundtrip_ok` (inflate(deflate(text)) == text, computed
    * inside [[graft.functions.DeflateCheck]]) and `bound_ok` (the
    * compressed size respects zlib's published worst case: 5 bytes
    * overhead per 16383-byte block + 6, and ≥ 1 byte for nonempty
    * input) — both TRUE in the DuckDB oracle, so a broken compressor
    * fails the hash compare. The exact compressed-byte-count
    * cross-check against CPython's independent zlib binding remains
    * in tools/check.py over the [[compressionRatio]] dump, whose
    * ratio is the same kernel's `n_comp` (see CHECKS.md). Empty docs
    * pass both flags vacuously.
    */
  def compressionSignal(spark: SparkSession, sfDir: String): DataFrame = {
    val bound = col("n_bytes") +
      lit(5L) * (floor(col("n_bytes") / 16383d).cast("long") + 1L) + lit(6L)
    Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        octet_length(col("text")).cast("long").as("n_bytes"),
        graft.functions.DeflateCheck.deflate_check(col("text")).as("dc"))
      .select(col("doc_id"), col("n_bytes"),
        // fallback covers empty AND null text (null n_bytes): the
        // oracle pins TRUE for every doc, and `isNull ||` can't
        // collapse back to SQL null the way `=== 0L` alone would
        coalesce(col("dc.n_comp") >= 1L && col("dc.n_comp") <= bound,
          col("n_bytes").isNull || col("n_bytes") === 0L).as("bound_ok"),
        coalesce(col("dc.roundtrip"),
          col("n_bytes").isNull || col("n_bytes") === 0L).as("roundtrip_ok"))
  }

  /** Compression ratio per document plus the low-entropy gate
    * (ratio < 0.3 on ≥200-byte docs flags machine-repetitive
    * content) — the actual pipeline signal. The ratio is
    * `n_comp / n_bytes`: [[graft.functions.DeflateCheck]]'s
    * compressed byte count (raw DEFLATE, level 6) over the UTF-8
    * length, one IEEE division; empty and null text yield a null
    * ratio. The magnitude is not SQL-recomputable, so this variant is
    * NOT a registered query; `graft.Verify` dumps it to the
    * sibling `<outDir>-extras/` directory and tools/check.py
    * exact-compares every row against an independent-implementation
    * recompute (CPython zlib, same parameters — both runtimes bundle
    * madler zlib, so the byte counts are identical; recorded in
    * CHECKS.md).
    */
  def compressionRatio(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        octet_length(col("text")).as("n_bytes"),
        graft.functions.DeflateCheck.deflate_check(col("text")).as("dc"))
      .select(col("doc_id"), col("n_bytes"),
        (col("dc.n_comp") / col("n_bytes")).as("deflate_ratio"))
      .withColumn("is_low_entropy",
        coalesce(col("deflate_ratio") < 0.3 && col("n_bytes") >= 200, lit(false)))

  /** TF-IDF top-5 keyword extraction per document. IDF is kept in
    * rational form (`N / df`, no logarithm) so every score is a single
    * correctly-rounded IEEE division of exact integers — bit-identical
    * across engines, unlike `ln()` whose last ulp is libm-specific.
    * Ranking is totally ordered by (score desc, token asc).
    *
    * Scale: the three shuffles are each necessary and each minimal —
    * tf on (doc_id, token) with map-side combine, df as a second
    * combine over the already-collapsed tf table (never the raw token
    * stream), the final top-k on doc_id. N arrives as a broadcast
    * one-row aggregate, not a driver action.
    */
  def tfidfTopK(spark: SparkSession, sfDir: String, k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, sfDir)
    val tok = docs.select(col("doc_id"), explode(tokensCol).as("token"))
    // staged: df derives from tf and the join reads tf again — without
    // this the token explode + (doc_id, token) shuffle runs twice
    // (Catalyst can't reuse the exchange: the df branch prunes the
    // count, so the subtrees differ)
    val tf = graft.Materialize.stage(
      tok.groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf")),
      eager = false)
    val dfTab = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("token").asc)
    // hash-build the vocab-sized df table: the downstream window
    // re-partitions by doc_id anyway, so an SMJ's token-sort of the
    // tf-mass side is pure waste (the ngram-family rule)
    tf.join(graft.operators.ScaleHints.shjIfBigFact(spark,
        s"$sfDir/documents.parquet", dfTab,
        graft.operators.ScaleHints.TextFactMinBytes), "token")
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf",
        col("tf").cast("double") * col("n_docs") / col("df"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("doc_id"), col("rk"), col("token"),
        col("tf"), col("df"), col("tfidf"))
  }

  /** Unigram commonness score: the tf-weighted mean corpus probability
    * of a document's tokens, `sum_t c(t) / (n_tokens * T)` — the
    * no-logarithm stand-in for unigram-LM perplexity filtering (CCNet
    * style): gibberish and rare-token-stuffed docs score near 0,
    * stopword prose scores high. The numerator is an exact BIGINT sum
    * (order-free), the final division a single IEEE op — deterministic
    * cross-engine where a log-perplexity would not be.
    *
    * Scale: the raw occurrence stream collapses to the per-doc tf
    * table FIRST (map-side combinable — a doc's tokens live in one
    * row, so its groups collapse before the shuffle); the corpus
    * count table is tf's doc-marginal (Σ_doc tf), NOT a second pass
    * over the stream; the join back is tf-mass × vocab (the general
    * shape when the vocabulary outgrows a broadcast, the
    * [[tfidfTopK]] discipline), re-aggregated per doc with
    * tf-weighted sums; T broadcast as one row.
    */
  def commonness(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val tok = docs.select(col("doc_id"), explode(tokensCol).as("token"))
    val tf = graft.Materialize.stage(
      tok.groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf")),
      eager = false)
    val counts = tf.groupBy(col("token")).agg(sum(col("tf")).as("c"))
    val total = counts.agg(sum(col("c")).as("t_total"))
    tf.join(graft.operators.ScaleHints.shjIfBigFact(spark,
        s"$sfDir/documents.parquet", counts,
        graft.operators.ScaleHints.TextFactMinBytes), "token")
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_tokens"),
        sum(col("tf") * col("c")).as("mass"))
      .crossJoin(broadcast(total))
      .select(col("doc_id"), col("n_tokens"), col("mass"),
        (col("mass").cast("double") / (col("n_tokens") * col("t_total")))
          .as("commonness"))
  }

  /** Approximate top-20 frequent tokens via the mergeable Misra-Gries
    * sketch ([[graft.operators.MisraGriesAgg]]): one pass, each task
    * holds a ≤k-entry summary, only summaries cross the shuffle — the
    * scale path when the vocabulary itself is too large to shuffle
    * (the exact wordcount here exists purely to VERIFY the sketch).
    *
    * Hard signal: with k=64 ≥ this corpus's vocabulary the MG
    * guarantee forces est = exact and slack = n − S = 0, so the
    * sketch's own estimates hash-compare against DuckDB's exact
    * counts — any reduce/merge bug shows up as a value mismatch. The
    * k < vocab truncation path (bounds, guaranteed capture) is
    * property-tested in AggregatorsSpec with a planted skewed corpus.
    */
  def heavyHitters(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val toks = Tables.documents(spark, sfDir)
      .select(explode(tokensCol).as("word")).as[String]
    val sketch = toks.select(graft.operators.MisraGriesAgg(64).toColumn.name("sketch"))
      .select(explode(col("sketch")).as(Seq("word", "est")),
        expr("aggregate(map_values(sketch), 0L, (a, x) -> a + x)").as("s_mass"))
    val exact = toks.groupBy(col("word")).agg(count(lit(1)).as("cnt"))
    val totals = exact.agg(sum(col("cnt")).as("n_total"))
    exact.orderBy(col("cnt").desc, col("word").asc).limit(20)
      .join(sketch, Seq("word"), "left")
      .crossJoin(broadcast(totals))
      .select(col("word"), col("cnt"), col("est"),
        (col("n_total") - col("s_mass")).as("slack"))
  }

  /** Point-frequency estimates from the mergeable Count-Min sketch
    * ([[graft.operators.CountMinAgg]]): one pass folds the token
    * stream into a 4×256 counter grid per task; only grids cross the
    * shuffle — the fixed-size alternative when even Misra-Gries's
    * k entries are the wrong shape (you need counts for ITEMS OF YOUR
    * CHOOSING, not the top-k). The top-20 exact words here are the
    * probe set; the exact wordcount exists purely to verify.
    *
    * Hard signal, stronger than a bound check: CMS cells are
    * deterministic sums over the portable hash, so the DuckDB oracle
    * rebuilds the grid in SQL and the estimates HASH-compare. The
    * lookup side runs through the Catalyst [[PortableHash.h60]] and
    * the sketch side calls the same [[graft.functions.H60.hash]] on
    * `word#cms<r>` in the JVM, so the match checks the salt
    * convention and the grid arithmetic against the oracle. Collision
    * behavior (overestimates, the εn bound) is property-tested on a
    * planted narrow grid in AggregatorsSpec.
    */
  def cmsCounts(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val depth = 4
    val width = 256
    val toks = Tables.documents(spark, sfDir)
      .select(explode(tokensCol).as("word")).as[String]
    val sketch = toks.select(
      graft.operators.CountMinAgg(depth, width).toColumn.name("cells"))
    val est = (0 until depth)
      .map { r =>
        element_at(col("cells"),
          (h60(col("word"), lit("cms" + r)) % width + r * width + 1).cast("int"))
      }
      .reduce(least(_, _))
    toks.groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("word").asc).limit(20)
      .crossJoin(broadcast(sketch))
      .select(col("word"), col("cnt"), est.as("est"),
        (est >= col("cnt")).as("no_underest"))
  }

  /** The dataset "data card": per-source corpus datasheet — sizes,
    * verbatim-duplicate ratio, token mass, language spread, and mean
    * quality — the one-page summary a training-data owner publishes
    * with a corpus. One scan, one shuffle (partial aggs map-side);
    * the quality mean uses the fixed-point BIGINT trick
    * ([[graft.llm.Similarity.centroidsOf]]) because a double sum's
    * value depends on partition order.
    */
  def dataCard(spark: SparkSession, sfDir: String): DataFrame = {
    val scale = 1L << 30
    Tables.documents(spark, sfDir)
      .select(col("source"), col("lang"), md5(col("text")).as("th"),
        size(tokensCol).cast("long").as("nt"),
        qualityCol.as("q"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        count_distinct(col("th")).as("n_distinct_texts"),
        count_distinct(col("lang")).as("n_langs"),
        sum(col("nt")).as("total_tokens"),
        count(col("q")).as("n_scored"),
        when(count(col("q")) > 0,
          sum(floor(col("q") * scale + lit(0.5)).cast("long")).cast("double")
            / (count(col("q")).cast("double") * scale.toDouble))
          .as("mean_quality"))
  }

  /** Per-language quality calibration: the raw [[qualityCol]]
    * distribution differs by language (the stopword channel is
    * English-weighted), so one corpus-wide threshold systematically
    * over-filters non-English text — the CCNet lesson. The
    * calibrated score is the document's `percent_rank` WITHIN its
    * language, making "keep the top X% of each language" a single
    * uniform cutoff. Deterministic cross-engine: the window order is
    * totalized with the doc_id tiebreak (percent_rank of a total
    * order is (rank-1)/(n-1), exact in IEEE), and null scores
    * (empty docs) are pinned NULLS FIRST explicitly because Spark
    * and DuckDB default differently.
    *
    * Scale: one window over lang partitions — a single shuffle by
    * lang. A skewed language (English is half of any web corpus)
    * makes this the textbook sort-skew case; at 100 TB swap the
    * exact percent_rank for the broadcast-quantile-threshold CASE of
    * [[graft.llm.TrainOrder]]'s curriculum (same output contract,
    * no single-partition sort).
    */
  def qualityCalibrated(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("quality").asc_nulls_first, col("doc_id").asc)
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), qualityCol.as("quality"))
      .withColumn("q_rank", percent_rank().over(w))
  }

  /** Top bigram collocations by pointwise mutual information: how
    * much more often two tokens appear ADJACENT than their
    * independent frequencies predict — the classic corpus-statistics
    * pass a tokenizer/phrase-mining pipeline runs before merging
    * multiword units. Scored as the PMI RATIO
    * `p(ab) / (p(a)·p(b)) = n_ab·N² / (M·n_a·n_b)` rather than its
    * log: `ln` is a libm call whose last-ulp behavior differs across
    * engines, while the ratio is a fixed sequence of correctly-
    * rounded double ops on exact integer counts — deterministic
    * cross-engine, and monotone with log-PMI so the ranking is
    * identical. Min support n_ab ≥ 5 kills the unstable singleton
    * tail (a hapax bigram of two hapax tokens scores N²/M —
    * spectacular and meaningless).
    *
    * Scale: bigrams are built map-side (zip of the token array with
    * its own tail — no positional self-join), then ONE hash agg per
    * granularity; the n_a/n_b lookups are equi-joins against the
    * post-agg DISTINCT bigram set, so a stopword's join key carries
    * one row per distinct partner, never one per instance; the
    * one-row totals broadcast; top-k is TakeOrderedAndProject.
    */
  def collocations(spark: SparkSession, sfDir: String, k: Int = 100): DataFrame = {
    val toks = Tables.documents(spark, sfDir).select(tokensCol.as("toks"))
    val uni = toks.select(explode(col("toks")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("n_w"))
    val bi = toks
      // slice length must be >= 0: a doc with < 2 tokens has no bigrams
      .filter(size(col("toks")) >= 2)
      .select(explode(arrays_zip(
        slice(col("toks"), lit(1), size(col("toks")) - 1),
        slice(col("toks"), lit(2), size(col("toks")) - 1))).as("p"))
      .select(col("p.0").as("w1"), col("p.1").as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n_ab"))
    val totals = uni.agg(sum(col("n_w")).as("n_tok")).crossJoin(
      bi.agg(sum(col("n_ab")).as("n_bi")))
    val nn = col("n_tok").cast("double")
    bi.filter(col("n_ab") >= 5)
      .join(uni.select(col("w").as("w1"), col("n_w").as("n_a")), Seq("w1"))
      .join(uni.select(col("w").as("w2"), col("n_w").as("n_b")), Seq("w2"))
      .crossJoin(broadcast(totals))
      .select(col("w1"), col("w2"), col("n_ab"), col("n_a"), col("n_b"),
        (col("n_ab").cast("double") * nn / col("n_a") / col("n_b")
          * (nn / col("n_bi").cast("double"))).as("pmi_ratio"))
      .orderBy(col("pmi_ratio").desc, col("w1").asc, col("w2").asc)
      .limit(k)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_llm_collocations" -> ((s: SparkSession, d: String) => collocations(s, d)),
    "q_llm_heavy_hitters" -> heavyHitters _,
    "q_llm_cms_counts" -> cmsCounts _,
    "q_llm_lang_id" -> langId _,
    "q_llm_quality" -> qualityScore _,
    "q_llm_quality_calibrated" -> qualityCalibrated _,
    "q_llm_token_count" -> tokenCount _,
    "q_llm_fingerprint" -> fingerprint _,
    "q_llm_scrub" -> scrub _,
    "q_llm_repetition" -> repetition _,
    "q_llm_vocab" -> vocabulary _,
    "q_llm_oov" -> ((s: SparkSession, d: String) => oovRate(s, d)),
    "q_llm_compression" -> compressionSignal _,
    "q_llm_tfidf" -> ((s: SparkSession, d: String) => tfidfTopK(s, d)),
    "q_llm_commonness" -> commonness _,
    "q_llm_data_card" -> dataCard _,
  )

  val oracles: Map[String, String] = Map(
    // PMI as a RATIO of exact counts (no ln — libm last-ulp drift);
    // the division sequence mirrors the Spark expression op for op
    "q_llm_collocations" ->
      s"""WITH tk AS (SELECT $sqlTokens AS toks FROM documents),
         |uni AS (
         |  SELECT w, CAST(count(*) AS BIGINT) AS n_w
         |  FROM (SELECT unnest(toks) AS w FROM tk) GROUP BY w),
         |bi AS (
         |  SELECT w1, w2, CAST(count(*) AS BIGINT) AS n_ab FROM (
         |    SELECT u.p.a AS w1, u.p.b AS w2
         |    FROM tk, unnest(list_transform(
         |      generate_series(1, len(toks) - 1),
         |      i -> struct_pack(a := toks[i], b := toks[i + 1]))) u(p))
         |  GROUP BY w1, w2),
         |tot AS (
         |  SELECT (SELECT CAST(sum(n_w) AS BIGINT) FROM uni) AS n_tok,
         |         (SELECT CAST(sum(n_ab) AS BIGINT) FROM bi) AS n_bi)
         |SELECT w1, w2, n_ab, n_a, n_b,
         |  CAST(n_ab AS DOUBLE) * CAST(n_tok AS DOUBLE) / n_a / n_b
         |    * (CAST(n_tok AS DOUBLE) / CAST(n_bi AS DOUBLE)) AS pmi_ratio
         |FROM bi
         |JOIN (SELECT w AS w1, n_w AS n_a FROM uni) USING (w1)
         |JOIN (SELECT w AS w2, n_w AS n_b FROM uni) USING (w2)
         |CROSS JOIN tot
         |WHERE n_ab >= 5
         |ORDER BY pmi_ratio DESC, w1, w2 LIMIT 100""".stripMargin,
    // The flags are invariants of a CORRECT compressor (round-trip
    // restores the input; size within zlib's published bound), so the
    // oracle pins them TRUE; the exact byte counts are cross-checked
    // by tools/check.py's independent zlib recompute (CHECKS.md).
    "q_llm_compression" ->
      """SELECT doc_id, strlen(text) AS n_bytes,
        |  TRUE AS bound_ok, TRUE AS roundtrip_ok FROM documents""".stripMargin,
    "q_llm_lang_id" ->
      s"""SELECT doc_id, lang,
         |  ${sqlScore("en")} AS s_en, ${sqlScore("de")} AS s_de,
         |  ${sqlScore("es")} AS s_es, ${sqlScore("fr")} AS s_fr,
         |  CASE WHEN ${sqlScore("en")} >= ${sqlScore("de")} AND ${sqlScore("en")} >= ${sqlScore("es")} AND ${sqlScore("en")} >= ${sqlScore("fr")} THEN 'en'
         |       WHEN ${sqlScore("de")} >= ${sqlScore("es")} AND ${sqlScore("de")} >= ${sqlScore("fr")} THEN 'de'
         |       WHEN ${sqlScore("es")} >= ${sqlScore("fr")} THEN 'es'
         |       ELSE 'fr' END AS detected
         |FROM documents""".stripMargin,
    // The sketch's own estimates are hash-compared against exact
    // counts (k ≥ vocab ⇒ MG is exact and slack is provably 0).
    "q_llm_heavy_hitters" ->
      s"""WITH w AS (SELECT unnest($sqlTokens) AS word FROM documents),
         |c AS (SELECT word, count(*) AS cnt FROM w GROUP BY word)
         |SELECT word, cnt, cnt AS est, CAST(0 AS BIGINT) AS slack
         |FROM c ORDER BY cnt DESC, word ASC LIMIT 20""".stripMargin,
    // The grid is rebuilt cell-by-cell in SQL (a CMS cell is a
    // deterministic count over the salted portable hash), so the
    // sketch's estimates hash-compare — no tolerance anywhere.
    "q_llm_cms_counts" ->
      s"""WITH w AS (SELECT unnest($sqlTokens) AS word FROM documents),
         |c AS (SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM w GROUP BY word),
         |cells AS (
         |  SELECT r, ${sqlH60("word || '#cms' || r")} % 256 AS b,
         |         CAST(count(*) AS BIGINT) AS cell
         |  FROM w CROSS JOIN (SELECT unnest([0,1,2,3]) AS r)
         |  GROUP BY 1, 2),
         |top AS (SELECT word, cnt FROM c ORDER BY cnt DESC, word ASC LIMIT 20)
         |SELECT t.word, t.cnt, min(cells.cell) AS est,
         |       min(cells.cell) >= t.cnt AS no_underest
         |FROM top t JOIN cells
         |  ON cells.b = ${sqlH60("t.word || '#cms' || cells.r")} % 256
         |GROUP BY t.word, t.cnt""".stripMargin,
    "q_llm_quality" -> sqlQualityTable,
    "q_llm_quality_calibrated" ->
      s"""SELECT doc_id, lang, quality,
         |  percent_rank() OVER (PARTITION BY lang
         |    ORDER BY quality ASC NULLS FIRST, doc_id ASC) AS q_rank
         |FROM (SELECT doc_id, lang, $sqlQualityCol AS quality
         |      FROM documents)""".stripMargin,
    "q_llm_token_count" ->
      s"""SELECT doc_id,
         |  len($sqlTokens) AS ws_tokens,
         |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS bpe_tokens,
         |  length(text) AS n_chars
         |FROM documents""".stripMargin,
    "q_llm_scrub" ->
      s"""SELECT doc_id, clean_text, length(clean_text) AS n_chars_clean
         |FROM (SELECT doc_id, ${sqlScrub("text")} AS clean_text
         |FROM documents)""".stripMargin,
    "q_llm_fingerprint" ->
      s"""SELECT doc_id,
         |  list_reduce(
         |    list_prepend(CAST(0 AS BIGINT),
         |      list_transform($sqlTokens, w -> ${sqlH60("w")})),
         |    (acc, x) -> (acc * 31 + x) % 1000000007) AS fingerprint
         |FROM documents""".stripMargin,
    "q_llm_repetition" ->
      s"""SELECT doc_id, n_grams, n_distinct,
         |  CASE WHEN n_grams > 0
         |       THEN CAST(n_grams - n_distinct AS DOUBLE) / n_grams END AS dup_frac,
         |  COALESCE(CASE WHEN n_grams > 0
         |       THEN CAST(n_grams - n_distinct AS DOUBLE) / n_grams END > 0.2,
         |    false) AS is_repetitive
         |FROM (
         |  SELECT doc_id,
         |    CAST(len(grams) AS INT) AS n_grams,
         |    CAST(len(list_distinct(grams)) AS INT) AS n_distinct
         |  FROM (
         |    SELECT doc_id,
         |      CASE WHEN len(ws) >= 3
         |           THEN list_transform(range(1, len(ws) - 1),
         |                  i -> array_to_string(ws[i : i + 2], ' '))
         |           ELSE [] END AS grams
         |    FROM (SELECT doc_id, $sqlTokens AS ws FROM documents)))""".stripMargin,
    "q_llm_vocab" ->
      """SELECT token, cnt FROM (
        |  SELECT token, CAST(count(*) AS BIGINT) AS cnt
        |  FROM (SELECT unnest(string_split_regex(text, '\s+')) AS token FROM documents)
        |  WHERE length(token) > 0
        |  GROUP BY token)
        |ORDER BY cnt DESC, token ASC LIMIT 100""".stripMargin,
    "q_llm_oov" ->
      s"""WITH vocab AS (
         |  SELECT token FROM (
         |    SELECT token, CAST(count(*) AS BIGINT) AS cnt
         |    FROM (SELECT unnest(string_split_regex(text, '\\s+')) AS token
         |          FROM documents)
         |    WHERE length(token) > 0
         |    GROUP BY token)
         |  ORDER BY cnt DESC, token ASC LIMIT 20),
         |vl AS (SELECT list(token) AS vs FROM vocab)
         |SELECT doc_id, source, n_tokens, n_oov,
         |  CASE WHEN n_tokens > 0
         |       THEN CAST(n_oov AS DOUBLE) / CAST(n_tokens AS DOUBLE) END
         |    AS oov_rate
         |FROM (
         |  SELECT doc_id, source,
         |    CAST(len(ws) AS BIGINT) AS n_tokens,
         |    CAST(len(list_filter(ws, t -> NOT list_contains(vs, t)))
         |      AS BIGINT) AS n_oov
         |  FROM (SELECT doc_id, source, $sqlTokens AS ws FROM documents)
         |  CROSS JOIN vl)""".stripMargin,
    "q_llm_tfidf" ->
      s"""WITH tok AS (
         |  SELECT doc_id, unnest($sqlTokens) AS token FROM documents),
         |tf AS (
         |  SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY doc_id, token),
         |dft AS (
         |  SELECT token, count(*) AS df FROM tf GROUP BY token),
         |n AS (SELECT count(*) AS n_docs FROM documents),
         |scored AS (
         |  SELECT tf.doc_id, tf.token, tf.tf, dft.df,
         |    CAST(tf.tf AS DOUBLE) * n.n_docs / dft.df AS tfidf
         |  FROM tf JOIN dft USING (token) CROSS JOIN n)
         |SELECT doc_id,
         |  CAST(row_number() OVER (PARTITION BY doc_id
         |         ORDER BY tfidf DESC, token ASC) AS BIGINT) AS rk,
         |  token, tf, df, tfidf
         |FROM scored
         |QUALIFY rk <= 5""".stripMargin,
    "q_llm_commonness" ->
      s"""WITH tok AS (
         |  SELECT doc_id, unnest($sqlTokens) AS token FROM documents),
         |counts AS (
         |  SELECT token, count(*) AS c FROM tok GROUP BY token),
         |total AS (SELECT CAST(sum(c) AS BIGINT) AS t_total FROM counts),
         |perdoc AS (
         |  SELECT doc_id, count(*) AS n_tokens, CAST(sum(c) AS BIGINT) AS mass
         |  FROM tok JOIN counts USING (token) GROUP BY doc_id)
         |SELECT doc_id, n_tokens, mass,
         |  CAST(mass AS DOUBLE) / (n_tokens * t_total) AS commonness
         |FROM perdoc CROSS JOIN total""".stripMargin,
    "q_llm_data_card" ->
      s"""SELECT source,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(count(DISTINCT th) AS BIGINT) AS n_distinct_texts,
         |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
         |  CAST(sum(nt) AS BIGINT) AS total_tokens,
         |  CAST(count(q) AS BIGINT) AS n_scored,
         |  CASE WHEN count(q) > 0 THEN
         |    CAST(sum(CAST(floor(q * 1073741824 + 0.5) AS BIGINT)) AS DOUBLE)
         |      / (CAST(count(q) AS DOUBLE) * 1073741824.0) END AS mean_quality
         |FROM (SELECT source, lang, md5(text) AS th,
         |        CAST(len($sqlTokens) AS BIGINT) AS nt,
         |        $sqlQualityCol AS q
         |      FROM documents)
         |GROUP BY source""".stripMargin,
  )
}
