package graft.examples

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

/** Formatted physical plans of registered queries, in three modes:
  *  - `Explain <query> [sfDir]` prints one query's plan;
  *  - `Explain --all <outFile>` regenerates `PLANS.md` for the
  *    headline queries;
  *  - `Explain --dir <outDir> [q_a,q_b,...|-] [sfDir]` writes one
  *    `<q>.txt` per query (every registered query for `-` or no list)
  *    under `outDir` — the whole-suite plan audit.
  *
  * The session runs 4 cores whatever the host has: plan text embeds
  * the shuffle partition count.
  */
object Explain {
  private val Headline = Seq(
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier",
    "q_top_customers", "q_dedup_minhash", "q_dedup_minhash_pairs",
    "q_dedup_cluster_stats", "q_llm_contamination", "q_ann_ivf_topk",
    "q_ann_ivf_index_probe", "q_embed_near_dup", "q_llm_full_pipeline",
    "q_dedup_cross", "q_llm_tfidf", "q_ann_sq8_topk", "q_llm_quota_sample",
    "q_hybrid_topk", "q_ann_filtered_topk", "q_dedup_spans",
    "q_llm_curriculum", "q_llm_shuffle", "q_embed_centroids",
    "q_bucketed_join", "q_phrase_search", "q_stats_corr",
    "q_llm_data_card", "q_embed_semantic_dedup", "q_hybrid_rrf",
    "q_search_bm25", "q_llm_grouped_split", "q_embed_diverse_sample",
    "q_llm_quality_calibrated", "q_skyline", "q_graph_triangles",
    "q_events_anomaly", "q_events_entry_exit", "q_range_join", "q_asof_join",
    "q_asof_forward", "q_interval_overlap", "q_asof_salted", "q_asof_nearest",
    "q_events_concurrency", "q_kmv_distinct", "q_events_attribution",
    "q_events_twap", "q_events_interpolate", "q_llm_collocations",
    "q_events_ohlc", "q_events_transitions", "q_ann_mmr_topk",
    "q_dedup_takedown", "q_ann_hard_negatives", "q_events_rolling_active",
    "q_events_cohort_ltv", "q_events_forecast_eval", "q_dedup_novelty",
    "q4_order_priority", "q6_forecast_revenue", "q17_small_qty_revenue",
    "q18_large_volume", "q7_volume_shipping", "q10_returned_items",
    "q19_disjunctive_or", "q21_waiting_supplier", "q_llm_bpe_merges",
    "q_llm_heavy_hitters", "q2_min_cost_supplier", "q11_important_parts",
    "q16_part_supplier_cnt", "q20_surging_supplier", "q_ann_recall")

  private val Sf0001 = "/root/testdata/sf0.001"

  def planOf(spark: SparkSession, name: String, sfDir: String): String =
    graft.SparkEntry.queries(name)(spark, sfDir)
      .queryExecution.explainString(FormattedMode)

  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local(4)
    try run(spark, args.toSeq) finally spark.stop()
  }

  def run(spark: SparkSession, args: Seq[String]): Unit =
    args match {
      case Seq("--all", out) =>
        val md = new StringBuilder(
          "# Physical plans (generated — `sbt \"runMain graft.examples.Explain --all PLANS.md\"`)\n\n" +
          "Formatted plans of the headline queries at sf0.001, as evidence for\n" +
          "the plan-shape claims in README/BASELINE: pushed filters, pruned\n" +
          "scans, broadcast dims, map-only per-doc work, no scale-hostile\n" +
          "joins. PlanAuditSpec asserts the load-bearing properties; this file\n" +
          "is for human review. `Scan ExistingRDD` nodes are staged\n" +
          "intermediates (graft.Materialize; e.g. the collapse+signature\n" +
          "table computed once and re-read by bands, est-joins, and the\n" +
          "doc-to-representative expansion — see Dedup.sigTable).\n")
        Headline.foreach { q =>
          // cap pathological dumps (the K-step MMR plan formats to
          // ~28k lines): the operator tree at the top carries the
          // shape evidence; the per-node detail tail is truncated
          val full = planOf(spark, q, Sf0001).trim
          val lines = full.linesIterator.toSeq
          val plan = if (lines.length <= 400) full
            else (lines.take(400) :+
              s"... [truncated: ${lines.length - 400} more detail lines]")
              .mkString("\n")
          md.append(s"\n## $q\n\n```\n$plan\n```\n")
        }
        Files.write(Paths.get(out), md.toString.getBytes("UTF-8"))
        println(s"wrote $out")
      case "--dir" +: outDir +: rest =>
        val names = rest.headOption.filter(l => l.nonEmpty && l != "-")
          .fold(graft.SparkEntry.queries.keys.toSeq.sorted)(_.split(',').toSeq)
        val sfDir = rest.lift(1).getOrElse(Sf0001)
        Files.createDirectories(Paths.get(outDir))
        // a query that fails to plan is reported and gets no file
        names.foreach { q =>
          try Files.write(Paths.get(outDir, s"$q.txt"),
            planOf(spark, q, sfDir).getBytes("UTF-8"))
          catch { case e: Throwable =>
            System.err.println(s"[explain] $q failed: ${e.getMessage}")
          }
        }
      case Seq(name) => println(planOf(spark, name, Sf0001))
      case Seq(name, dir) => println(planOf(spark, name, dir))
      case _ => System.err.println(
        "usage: Explain <query> [sfDir] | --all <outFile> | --dir <outDir> [q,...|-] [sfDir]")
    }
}
