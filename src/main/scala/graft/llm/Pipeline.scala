package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** The composed training-data-prep pipeline — the end-to-end flow a
  * 100 TB corpus actually runs, as ONE declarative query:
  *
  *   scrub (URL/email/ws normalize)
  *     → quality gate (token count + punctuation ratio)
  *     → exact dedup (keep min-doc_id representative)
  *     → per-language token statistics of the surviving corpus
  *
  * Each stage is the already-tested operator from this module;
  * composing them stays a single Catalyst plan: one documents scan,
  * one dedup shuffle, one final agg. Nothing materializes between
  * stages — the optimizer fuses scrub+filter into the scan.
  */
object Pipeline {

  /** Pushdown barrier for the quality gate: a nondeterministic column
    * (seeded rand) in the same projection as the gate inputs, kept
    * alive by an always-true conjunct in the filter itself. Without
    * it PushPredicateThroughNonJoin — which checks the PROJECT's
    * fields for determinism but has no expression-cost model — pushes
    * the gate predicate below the `clean` projection by inlining the
    * whole 3-regex scrub chain into the Filter, which the survivors'
    * Project then evaluates AGAIN (2× scrub per surviving row,
    * visible in the formatted plan). Both halves matter: the rand
    * column makes the projection non-pushable-through, and the
    * `>= 0` reference (true for every rand draw, but not provably so
    * to the optimizer) keeps ColumnPruning from deleting the barrier
    * before the pushdown batch reaches fixpoint — an unreferenced
    * barrier is pruned and the filter pushes anyway. rand (unlike
    * monotonically_increasing_id) is legal in streaming plans, so
    * [[graft.streaming.DocStreams.prepStream]] keeps reusing this
    * stage verbatim.
    */
  private def withGateBarrier(df: DataFrame): DataFrame =
    df.withColumn("_barrier", rand(42))

  private def barrierTrue: Column = col("_barrier") >= 0.0

  /** Stateless scrub + quality-gate stage over a (doc_id, lang, text)
    * frame — pure projections and filters, so the SAME code runs on a
    * batch DataFrame and a streaming one
    * ([[graft.streaming.DocStreams.prepStream]] reuses it verbatim;
    * parity asserted in StreamBatchParitySpec).
    */
  private[graft] def scrubGate(docs: DataFrame): DataFrame =
    withGateBarrier(docs
      .select(col("doc_id"), col("lang"),
        TextAnalysis.scrubCol(col("text")).as("clean"))
      .withColumn("toks", filter(split(col("clean"), " "), w => length(w) > 0))
      // gate counts ride one TextCounts scan of the clean text (the
      // token count equals size(toks): post-collapse whitespace is
      // single spaces, so \s+ runs and ' ' splits agree); `toks`
      // stays for consumers that need the array — column pruning
      // drops it when nobody does
      .withColumn("_tc", graft.functions.TextCounts.textCounts(col("clean")))
      .withColumn("n_tokens", col("_tc.n_tokens"))
      .withColumn("n_punct", col("_tc.n_punct"))
      .drop("_tc"))
      .filter(barrierTrue && col("n_tokens") >= 5
        && when(length(col("clean")) > 0,
          col("n_punct").cast("double") / length(col("clean"))) <= lit(0.2))
      .drop("_barrier")

  def trainingPrep(spark: SparkSession, sfDir: String): DataFrame = {
    val gated = scrubGate(Tables.documents(spark, sfDir))
    // observe(): per-stage row counters surface in QueryExecution
    // metrics (SparkListener/observedMetrics) without extra actions —
    // free pipeline observability at any scale
    val deduped = gated
      .observe("gated", count(lit(1)).as("rows_after_gate"))
      .withColumn("h", md5(lower(col("clean"))))
      .withColumn("keep",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("h")).orderBy(col("doc_id").asc)) === 1)
      .filter(col("keep"))
    deduped
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        (sum(col("n_tokens")).cast("double") / count(lit(1))).as("avg_tokens"),
        min(col("doc_id")).as("first_doc"))
  }

  /** Fixed-size chunking with overlap — the standard pre-tokenization
    * packing step: 32-token chunks, stride 24 (8-token overlap), last
    * partial chunk kept. Pure per-row array ops (map-only).
    */
  def chunk(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), TextAnalysis.tokensCol.as("ws"))
      .select(col("doc_id"),
        posexplode(graft.functions.Chunks.chunks(col("ws"), 32, 24)))
      .select(col("doc_id"), col("pos").as("chunk_id"),
        col("col").as("chunk_text"))
      .withColumn("n_tokens",
        org.apache.spark.sql.functions.size(
          filter(split(col("chunk_text"), " "), w => length(w) > 0)))

  /** Deterministic train/val split: h60 of the content mod 100 —
    * stable under re-runs, portable, and stratifiable by any column.
    */
  def trainValSplit(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .withColumn("split",
        when(PortableHash.h60(col("text")) % 100 < 95, "train").otherwise("val"))
      .groupBy(col("lang"), col("split"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("first_doc"))

  /** Leakage-safe GROUPED split: the unit of assignment is the
    * `source` (crawl domain / data provider), not the document —
    * hashing the group key sends every document of a source to the
    * same side, so near-duplicates and shared boilerplate within a
    * source can never straddle train/val and leak evaluation signal
    * (the GroupKFold discipline applied to corpus prep;
    * [[trainValSplit]] is the per-document form). Map-only: the
    * split is a hash of a column already on every row — no group
    * table to join, no shuffle before the audit aggregation. Output
    * is the per-source audit; one row per (source, split) proves by
    * construction that no source appears on both sides.
    */
  def groupedSplit(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .withColumn("split",
        when(PortableHash.h60(col("source")) % 100 < 90, "train").otherwise("val"))
      .groupBy(col("source"), col("split"))
      .agg(count(lit(1)).as("n_docs"),
        count_distinct(col("lang")).as("n_langs"),
        min(col("doc_id")).as("first_doc"))

  /** Benchmark decontamination: flag corpus docs sharing any 5-gram
    * with the eval set (doc_id < 10 stands in for the benchmark).
    * Shingle-join shape: |eval shingles| is small, so it broadcasts;
    * the corpus is scanned once — exactly how decontamination runs at
    * 100 TB (eval sets are always tiny relative to the corpus).
    */
  def contamination(spark: SparkSession, sfDir: String): DataFrame = {
    def grams(df: DataFrame): DataFrame =
      df.select(col("doc_id"), TextAnalysis.tokensCol.as("ws"))
        .filter(size(col("ws")) >= 5)
        .select(col("doc_id"),
          explode(graft.functions.Ngrams.ngrams(col("ws"), 5)).as("gram"))
    val docs = Tables.documents(spark, sfDir)
    val evalGrams = grams(docs.filter(col("doc_id") < 10))
      .select(col("gram")).distinct()
    // Broadcast-filter FIRST, dedupe after: the corpus gram stream is
    // reduced to eval-overlapping survivors by a broadcast semi-join
    // (map-side, no shuffle), so the only shuffle in the query is the
    // countDistinct over that tiny survivor set — a corpus-wide
    // distinct here would be the largest shuffle in the engine at
    // 100 TB.
    grams(docs.filter(col("doc_id") >= 10))
      .join(broadcast(evalGrams), "gram")
      .groupBy(col("doc_id"))
      .agg(count_distinct(col("gram")).as("n_shared_grams"))
  }

  /** Per-language sampling rates for the mixture: downsample the
    * high-resource language, keep mid-resource at half, thin the
    * rest — the domain/language reweighting step every training mix
    * runs. Values are illustrative; the MECHANISM (deterministic
    * hash-gated sampling) is the operator.
    */
  val MixRates: Map[String, Int] =
    Map("en" -> 90, "de" -> 50, "es" -> 50, "fr" -> 50).withDefaultValue(20)

  /** Deterministic mixture sampling: a document survives iff
    * h60(doc_id # "mix") mod 100 falls under its language's rate —
    * re-run-stable, engine-portable, no RNG state, and map-only (the
    * gate is a per-row hash compare; the only shuffle is the audit
    * aggregation). This is how a 100 TB corpus reweights sources
    * without materializing a shuffled sample.
    */
  /** Per-row sampling rate for the current `lang` column value. */
  private def rateCol = MixRates.foldLeft(lit(20)) { case (acc, (l, r)) =>
    when(col("lang") === l, lit(r)).otherwise(acc)
  }

  /** Exact per-source quota sampling — the complement of the
    * rate-gated [[sampleMix]]: take EXACTLY `quota` documents per
    * source (fewer iff the source is smaller), chosen by a
    * deterministic hash order (h60(doc_id # "quota"), doc_id
    * tiebreak) — re-run-stable, engine-portable, no RNG. The window
    * top-k per source is the one shuffle; WindowGroupLimit pushes the
    * per-partition limit below the exchange, so at 100 TB each
    * partition forwards at most `quota` rows per source.
    */
  def quotaSample(spark: SparkSession, sfDir: String, quota: Int = 10): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"), col("lang"),
        PortableHash.h60(concat(col("doc_id").cast("string"), lit("#quota")))
          .as("hk"))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("source"))
          .orderBy(col("hk").asc, col("doc_id").asc)).cast("long"))
      .filter(col("rk") <= quota)
      .select(col("doc_id"), col("source"), col("lang"), col("rk"))

  def sampleMix(spark: SparkSession, sfDir: String): DataFrame = {
    val rate = rateCol
    Tables.documents(spark, sfDir)
      .withColumn("kept",
        PortableHash.h60(concat(col("doc_id").cast("string"), lit("#mix"))) % 100 < rate)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_total"),
        count(when(col("kept"), 1)).as("n_kept"),
        min(when(col("kept"), col("doc_id"))).as("first_kept"))
  }

  /** The WHOLE prep flow as one declarative query — what a user of
    * this engine actually ships:
    *
    *   scrub → quality gate → exact dedup (keep min-id)
    *     → drop the eval set (doc_id < 10) and everything sharing a
    *       5-gram with it (decontamination, broadcast-filtered)
    *     → language-mixture sampling (hash-gated, deterministic)
    *     → 32/24 chunking
    *     → per-language corpus statistics
    *
    * Every stage is the already-oracle-checked operator above,
    * composed as one Catalyst plan. Scale shape: per-doc work is
    * map-only array expressions; the dedup window and the final agg
    * are the only corpus-keyed shuffles; eval grams broadcast; the
    * contaminated-id set (tiny) comes back as a broadcast anti-join.
    */
  def fullPrep(spark: SparkSession, sfDir: String): DataFrame = {
    def toks(c: Column) = filter(split(c, " "), w => length(w) > 0)
    val scrubbed = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"),
        TextAnalysis.scrubCol(col("text")).as("clean"))
    val gated = withGateBarrier(scrubbed
      .withColumn("ws", toks(col("clean")))
      // one TextCounts scan for both gate counts (see scrubGate)
      .withColumn("_tc", graft.functions.TextCounts.textCounts(col("clean")))
      .withColumn("n_tokens", col("_tc.n_tokens"))
      .withColumn("n_punct", col("_tc.n_punct"))
      .drop("_tc"))
      .filter(barrierTrue && col("n_tokens") >= 5
        && when(length(col("clean")) > 0,
          col("n_punct").cast("double") / length(col("clean"))) <= lit(0.2))
      .drop("_barrier")
    val deduped = gated
      .withColumn("rn",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy(md5(lower(col("clean")))).orderBy(col("doc_id").asc)))
      .filter(col("rn") === 1)
    // The deduped corpus feeds BOTH the contamination gram stream and
    // the sampling/chunking tail; stage the three columns those
    // need (lazily — materialized once at first action) instead of
    // re-running scrub+gate+window per branch. (Token arrays are a
    // bounded multiple of the text they replace — the
    // persist-vs-recompute trade that favors persisting.)
    val corpus = graft.Materialize.stage(
      deduped.filter(col("doc_id") >= 10)
        .select(col("doc_id"), col("lang"), col("ws")),
      eager = false)
    val evalGrams = scrubbed.filter(col("doc_id") < 10)
      .select(explode(graft.functions.Ngrams.ngrams(toks(col("clean")), 5)).as("gram"))
      .distinct()
    val contaminatedIds = corpus
      .select(col("doc_id"),
        explode(graft.functions.Ngrams.ngrams(col("ws"), 5)).as("gram"))
      .join(broadcast(evalGrams), "gram")
      .select(col("doc_id")).distinct()
    val sampled = corpus
      .join(contaminatedIds, Seq("doc_id"), "left_anti")
      .filter(PortableHash.h60(
        concat(col("doc_id").cast("string"), lit("#mix"))) % 100 < rateCol)
    val chunked = sampled
      .select(col("lang"), col("doc_id"),
        posexplode(graft.functions.Chunks.chunks(col("ws"), 32, 24)))
      .withColumn("chunk_tokens", size(toks(col("col"))))
    chunked
      .groupBy(col("lang"))
      .agg(
        countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_chunks"),
        sum(col("chunk_tokens")).cast("long").as("total_tokens"),
        min(col("doc_id")).as("first_doc"))
  }

  /** Deterministic length-weighted priority sample: keep the `k`
    * docs with the smallest priority `floor(h60(doc_id#wsample) /
    * n_chars)` — a longer doc divides its uniform hash by a larger
    * weight, so it wins a slot proportionally more often, with zero
    * RNG (re-run-stable, engine-portable, all-integer). The selection
    * is a global top-k on an exact BIGINT key, which Spark executes
    * as TakeOrderedAndProject — per-partition heaps of size k, never
    * a global sort — so at 100 TB each partition forwards k rows.
    */
  def weightedSample(spark: SparkSession, sfDir: String, k: Int = 128): DataFrame =
    Tables.documents(spark, sfDir)
      .where(col("n_chars") > 0)
      .select(col("doc_id"), col("n_chars"),
        PortableHash.h60(col("doc_id").cast("string"), lit("wsample")).as("h"))
      .select(col("doc_id"), col("n_chars"), expr("h div n_chars").as("priority"))
      .orderBy(col("priority"), col("doc_id"))
      .limit(k)

  /** Documents each source contributes to the mix under temperature
    * sampling (the budget for [[quotaSample]]-style draws). */
  val TemperatureBudget = 100000L

  /** Temperature-scaled mixture allocation — the multilingual /
    * multi-source rebalancing rule (e.g. the mBERT / XLM-R exponent
    * trick): source s gets budget share ∝ n_s^α with α = 1/2, which
    * upweights tail sources relative to proportional sampling
    * without letting any head source dominate. Output: per source,
    * its document count, temperature weight, and an INTEGER
    * allocation of [[TemperatureBudget]] examples that sums to the
    * budget EXACTLY (largest-remainder apportionment, remainder ties
    * broken by source name).
    *
    * Engine-exact by construction: n^α is `sqrt` (correctly-rounded
    * IEEE on both JVMs and libm) scaled by 2^20 and floored into a
    * BIGINT — after that every quantity (weight sums, floor shares
    * `B·w div W`, remainders `B·w mod W`, the leftover count) is
    * integer arithmetic, so apportionment is deterministic and
    * oracle-hashable. No double is ever summed.
    *
    * Scale shape: one hash agg to per-source counts (map-side
    * partials), then everything runs on the O(#sources) frame — the
    * scalar total and floor-sum ride broadcast one-row frames, and
    * the remainder-rank window is over sources, not documents
    * (#sources is catalog-bounded, thousands at worst).
    */
  def temperatureMix(spark: SparkSession, sfDir: String,
      budget: Long = TemperatureBudget): DataFrame =
    temperatureMixOf(
      Tables.documents(spark, sfDir)
        .groupBy(col("source")).agg(count(lit(1)).as("n_docs")),
      budget)

  /** Core over any (source, n_docs) counts frame. */
  def temperatureMixOf(counts: DataFrame, budget: Long): DataFrame = {
    // staged (r17, the stage-small-frames rule): the weighted counts
    // frame is O(#sources) with corpus-mass lineage (a full per-source
    // count scan), and three consumers read it (the weight total, the
    // floor-sum, the final allocation) — unstaged, the plan re-counted
    // the corpus four times (4 parquet scans in the r17 plan audit)
    val weighted = graft.Materialize.stage(counts
      .withColumn("w",
        floor(sqrt(col("n_docs").cast("double")) * (1L << 20)).cast("long")),
      eager = false)
    val total = weighted.agg(sum(col("w")).as("tw"))
    val shares = weighted.crossJoin(broadcast(total))
      .withColumn("alloc_floor", expr(s"($budget * w) div tw"))
      .withColumn("rem", expr(s"($budget * w) % tw"))
    val floorSum = shares.agg(sum(col("alloc_floor")).as("fsum"))
    val byRemainder = org.apache.spark.sql.expressions.Window
      .orderBy(col("rem").desc, col("source").asc)
    shares.crossJoin(broadcast(floorSum))
      .withColumn("rk", row_number().over(byRemainder).cast("long"))
      .withColumn("alloc",
        col("alloc_floor") +
          when(col("rk") <= lit(budget) - col("fsum"), 1L).otherwise(0L))
      .select(col("source"), col("n_docs"), col("w"), col("alloc"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_llm_temperature_mix" -> ((s: SparkSession, d: String) => temperatureMix(s, d)),
    "q_llm_weighted_sample" -> ((s: SparkSession, d: String) => weightedSample(s, d)),
    "q_llm_pipeline" -> trainingPrep _,
    "q_llm_full_pipeline" -> fullPrep _,
    "q_llm_chunks" -> chunk _,
    "q_llm_split" -> trainValSplit _,
    "q_llm_grouped_split" -> groupedSplit _,
    "q_llm_contamination" -> contamination _,
    "q_llm_sample_mix" -> sampleMix _,
    "q_llm_quota_sample" -> ((s: SparkSession, d: String) => quotaSample(s, d)),
  )

  val oracles: Map[String, String] = Map(
    "q_llm_weighted_sample" ->
      s"""SELECT doc_id, n_chars,
         |  ${PortableHash.sqlH60("CAST(doc_id AS VARCHAR) || '#' || 'wsample'")}
         |    // n_chars AS priority
         |FROM documents
         |WHERE n_chars > 0
         |ORDER BY priority, doc_id
         |LIMIT 128""".stripMargin,
    "q_llm_pipeline" ->
      s"""WITH scrubbed AS (
        |  SELECT doc_id, lang, ${TextAnalysis.sqlScrub("text")} AS clean
        |  FROM documents),
        |gated AS (
        |  SELECT doc_id, lang, clean,
        |    len(list_filter(string_split(clean, ' '), w -> length(w) > 0)) AS n_tokens
        |  FROM scrubbed
        |  WHERE len(list_filter(string_split(clean, ' '), w -> length(w) > 0)) >= 5
        |    AND CASE WHEN length(clean) > 0 THEN
        |          CAST(len(regexp_extract_all(clean, '[^A-Za-z0-9\\s]')) AS DOUBLE)
        |          / length(clean) END <= 0.2),
        |deduped AS (
        |  SELECT * FROM (
        |    SELECT *, row_number() OVER (
        |      PARTITION BY md5(lower(clean)) ORDER BY doc_id ASC) AS rn
        |    FROM gated)
        |  WHERE rn = 1)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
        |  CAST(sum(n_tokens) AS DOUBLE) / count(*) AS avg_tokens,
        |  min(doc_id) AS first_doc
        |FROM deduped GROUP BY lang""".stripMargin,
    "q_llm_chunks" ->
      s"""WITH toks AS (
         |  SELECT doc_id, ${TextAnalysis.sqlTokens} AS ws FROM documents),
         |ch AS (
         |  SELECT doc_id,
         |    unnest(range(0, greatest(CAST(ceil((len(ws) - 32) / 24.0) AS BIGINT), 0) + 1)) AS i,
         |    ws
         |  FROM toks)
         |SELECT doc_id, CAST(i AS INT) AS chunk_id,
         |  array_to_string(ws[i*24 + 1 : i*24 + 32], ' ') AS chunk_text,
         |  CAST(len(list_filter(string_split(array_to_string(ws[i*24 + 1 : i*24 + 32], ' '), ' '),
         |    w -> length(w) > 0)) AS INT) AS n_tokens
         |FROM ch""".stripMargin,
    "q_llm_split" ->
      s"""SELECT lang,
         |  CASE WHEN ${PortableHash.sqlH60("text")} % 100 < 95
         |       THEN 'train' ELSE 'val' END AS split,
         |  count(*) AS n_docs, min(doc_id) AS first_doc
         |FROM documents GROUP BY 1, 2""".stripMargin,
    "q_llm_grouped_split" ->
      s"""SELECT source,
         |  CASE WHEN ${PortableHash.sqlH60("source")} % 100 < 90
         |       THEN 'train' ELSE 'val' END AS split,
         |  count(*) AS n_docs,
         |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
         |  min(doc_id) AS first_doc
         |FROM documents GROUP BY 1, 2""".stripMargin,
    "q_llm_contamination" ->
      s"""WITH toks AS (
         |  SELECT doc_id, ${TextAnalysis.sqlTokens} AS ws FROM documents),
         |g AS (
         |  SELECT DISTINCT doc_id,
         |    unnest(list_transform(range(1, len(ws) - 3),
         |      i -> array_to_string(ws[i : i + 4], ' '))) AS gram
         |  FROM toks WHERE len(ws) >= 5)
         |SELECT c.doc_id, count(*) AS n_shared_grams
         |FROM (SELECT doc_id, gram FROM g WHERE doc_id >= 10) c
         |JOIN (SELECT DISTINCT gram FROM g WHERE doc_id < 10) e USING (gram)
         |GROUP BY c.doc_id""".stripMargin,
    "q_llm_full_pipeline" -> {
      val rateCase = "CASE lang " +
        MixRates.toSeq.sortBy(_._1).map { case (l, r) => s"WHEN '$l' THEN $r" }
          .mkString(" ") + " ELSE 20 END"
      val grams5 = "list_transform(range(1, len(ws) - 3), i -> array_to_string(ws[i : i + 4], ' '))"
      s"""WITH scrubbed AS (
         |  SELECT doc_id, lang, ${TextAnalysis.sqlScrub("text")} AS clean
         |  FROM documents),
         |gated AS (
         |  SELECT doc_id, lang, clean,
         |    list_filter(string_split(clean, ' '), w -> length(w) > 0) AS ws
         |  FROM scrubbed
         |  WHERE len(list_filter(string_split(clean, ' '), w -> length(w) > 0)) >= 5
         |    AND CASE WHEN length(clean) > 0 THEN
         |          CAST(len(regexp_extract_all(clean, '[^A-Za-z0-9\\s]')) AS DOUBLE)
         |          / length(clean) END <= 0.2),
         |deduped AS (
         |  SELECT * FROM (
         |    SELECT *, row_number() OVER (
         |      PARTITION BY md5(lower(clean)) ORDER BY doc_id ASC) AS rn
         |    FROM gated)
         |  WHERE rn = 1),
         |corpus AS (SELECT * FROM deduped WHERE doc_id >= 10),
         |evalg AS (
         |  SELECT DISTINCT unnest($grams5) AS gram
         |  FROM (SELECT list_filter(string_split(clean, ' '), w -> length(w) > 0) AS ws
         |        FROM scrubbed WHERE doc_id < 10) t
         |  WHERE len(ws) >= 5),
         |contaminated AS (
         |  SELECT DISTINCT doc_id
         |  FROM (SELECT doc_id, unnest($grams5) AS gram
         |        FROM corpus WHERE len(ws) >= 5) g
         |  JOIN evalg USING (gram)),
         |sampled AS (
         |  SELECT * FROM corpus
         |  WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
         |    AND ${PortableHash.sqlH60("CAST(doc_id AS VARCHAR) || '#mix'")} % 100
         |          < $rateCase),
         |ch AS (
         |  SELECT lang, doc_id,
         |    unnest(range(0, greatest(CAST(ceil((len(ws) - 32) / 24.0) AS BIGINT), 0) + 1)) AS i,
         |    ws
         |  FROM sampled)
         |SELECT lang,
         |  count(DISTINCT doc_id) AS n_docs,
         |  CAST(count(*) AS BIGINT) AS n_chunks,
         |  CAST(sum(len(list_filter(
         |    string_split(array_to_string(ws[i*24 + 1 : i*24 + 32], ' '), ' '),
         |    w -> length(w) > 0))) AS BIGINT) AS total_tokens,
         |  min(doc_id) AS first_doc
         |FROM ch GROUP BY lang""".stripMargin
    },
    "q_llm_quota_sample" ->
      s"""SELECT doc_id, source, lang, rk FROM (
         |  SELECT doc_id, source, lang,
         |    CAST(row_number() OVER (PARTITION BY source
         |      ORDER BY ${PortableHash.sqlH60("CAST(doc_id AS VARCHAR) || '#quota'")} ASC,
         |        doc_id ASC) AS BIGINT) AS rk
         |  FROM documents)
         |WHERE rk <= 10""".stripMargin,
    "q_llm_sample_mix" -> {
      val rateCase = "CASE lang " +
        MixRates.toSeq.sortBy(_._1).map { case (l, r) => s"WHEN '$l' THEN $r" }
          .mkString(" ") + " ELSE 20 END"
      s"""SELECT lang,
         |  CAST(count(*) AS BIGINT) AS n_total,
         |  CAST(count(CASE WHEN kept THEN 1 END) AS BIGINT) AS n_kept,
         |  min(CASE WHEN kept THEN doc_id END) AS first_kept
         |FROM (SELECT lang, doc_id,
         |        ${PortableHash.sqlH60("CAST(doc_id AS VARCHAR) || '#mix'")} % 100
         |          < $rateCase AS kept
         |      FROM documents)
         |GROUP BY lang""".stripMargin
    },
    "q_llm_temperature_mix" ->
      s"""WITH c AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs
         |  FROM documents GROUP BY source),
         |wt AS (
         |  SELECT source, n_docs,
         |    CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * ${1L << 20}) AS BIGINT) AS w
         |  FROM c),
         |t AS (SELECT CAST(sum(w) AS BIGINT) AS tw FROM wt),
         |a AS (
         |  SELECT source, n_docs, w,
         |    ($TemperatureBudget * w) // tw AS alloc_floor,
         |    ($TemperatureBudget * w) % tw AS rem
         |  FROM wt CROSS JOIN t),
         |f AS (SELECT CAST(sum(alloc_floor) AS BIGINT) AS fsum FROM a),
         |r AS (
         |  SELECT a.*, f.fsum,
         |    CAST(row_number() OVER (ORDER BY rem DESC, source ASC) AS BIGINT) AS rk
         |  FROM a CROSS JOIN f)
         |SELECT source, n_docs, w,
         |  CAST(alloc_floor +
         |    CASE WHEN rk <= $TemperatureBudget - fsum THEN 1 ELSE 0 END
         |    AS BIGINT) AS alloc
         |FROM r""".stripMargin,
  )
}
