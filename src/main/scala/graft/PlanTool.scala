package graft

import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

import org.apache.spark.sql.execution.FormattedMode

import graft.core.{Caches, Session}

/** Plan evidence for registry queries, one session and one query loop:
  *
  *  - `md [out]` writes the formatted plans of the flagship queries to
  *    `out` (default `PLANS.md`); data at sf0.01.
  *  - `dump <outDir> <tag> q1,..` writes each query's formatted plan to
  *    `<outDir>/<q>_<tag>.txt`, the before/after evidence of a plan
  *    change; data at sf0.1.
  *  - `budget [q1,..]` prints shuffle exchanges, broadcast nested-loop
  *    and cartesian joins per query (default: all), the counts
  *    `PlanBudgetSpec` pins; data at sf0.001, on the tests' width 4.
  *
  * `SPARK_GRAFT_SF_DIR` overrides the data dir; `md` and `dump` run at
  * the bench width (`SPARK_GRAFT_CPUS`), so their plans are the ones
  * the bench executes. Run: `sbt "runMain graft.PlanTool budget"`. */
object PlanTool {

  private val usage =
    "usage: PlanTool md [out] | dump <outDir> <tag> <q1,q2,..> | budget [q1,q2,..]"

  private val flagship = Seq(
    "scan_filter_project", "join_multiway", "join_bucketed",
    "join_asof_native", "agg_groupby", "win_rank", "stream_session",
    "llm_dedup_fuzzy", "llm_sim_search_lsh", "llm_sim_search_ivf",
    "llm_dedup_embed", "llm_bm25", "llm_pack", "layout_zorder",
    "llm_sim_search_ivf_trained", "llm_tfidf", "agg_grouping_sets",
    "table_skew", "join_interval_overlap", "llm_incremental_dedup",
    "join_bitmap_semi", "agg_bitmap_distinct", "agg_topk_others",
    "stream_topk", "ts_acf", "llm_blocklist_filter",
    "cdc_snapshot_diff", "llm_rank_fusion", "llm_span_corrupt",
    "ts_trend_theilsen", "ts_rolling_distinct",
    "llm_dedup_edit_distance", "join_point_in_time",
    "graph_triangles", "graph_link_predict", "llm_span_dedup",
    "llm_hard_negatives", "ts_discounted_return",
    "llm_preference_pairs", "llm_sft_pipeline", "win_attribution",
    "agg_ks_test", "ts_growth_acct", "graph_clustering",
    "graph_modularity", "llm_ngram_novelty", "feat_pca", "ts_stl",
    "agg_bitmap_overlap", "llm_mix_apply", "win_rfm",
    "llm_dedup_band_recall", "feat_decile_lift",
    "win_survival_km", "scan_txn_log", "txn_log_compact",
    "agg_mutual_info", "llm_corpus_drift", "join_fuzzy_match")

  private val shuffleRe = "(?<!Broadcast)Exchange ".r

  def main(args: Array[String]): Unit = {
    val (queries, sf, width) = args.toList match {
      case "md" :: out if out.size <= 1 => (flagship, "sf0.01", Session.envWidth)
      case List("dump", _, _, qs) => (qs.split(',').toSeq, "sf0.1", Session.envWidth)
      case List("budget") => (SparkEntry.queries.keys.toSeq.sorted, "sf0.001", 4)
      case List("budget", qs) => (qs.split(',').toSeq, "sf0.001", 4)
      case _ =>
        System.err.println(usage)
        sys.exit(1)
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", s"/root/testdata/$sf")
    val spark = Session("graft-plans", Some(width))
    val md = new StringBuilder(
      "# PLANS — formatted physical plans of flagship queries\n\n" +
      "Generated by `graft.PlanTool md` at sf dir `" + sfDir + "`. The\n" +
      "properties these plans are tuned for (pushdown, broadcast,\n" +
      "partial aggregation, no cartesians, codegen) are asserted in\n" +
      "PlanSpec/RelationalSpec/AsofSpec.\n")
    var failed = 0
    queries.foreach { name =>
      try {
        val qe = SparkEntry.queries(name)(spark, sfDir).queryExecution
        args(0) match {
          case "md" =>
            md.append(s"\n## $name\n\n```\n")
            md.append(qe.explainString(FormattedMode).take(8000))
            md.append("\n```\n")
          case "dump" =>
            val file = Paths.get(args(1), s"${name}_${args(2)}.txt")
            Files.createDirectories(file.getParent)
            Files.writeString(file, qe.explainString(FormattedMode))
            println(s"PLANNED $name -> $file")
          case "budget" =>
            val p = qe.executedPlan.toString
            val ex = shuffleRe.findAllIn(p).size
            val bnl = p.contains("BroadcastNestedLoopJoin")
            val cart = p.contains("CartesianProduct")
            println(f"BUDGET $name%-28s ex=$ex%-3d bnl=$bnl%-5s cart=$cart")
        }
      } catch {
        case NonFatal(e) =>
          failed += 1
          println(s"ERROR $name ${e.getMessage}")
      } finally {
        Caches.drain(spark)
        Caches.release(spark)
      }
    }
    if (args(0) == "md") {
      val out = args.lift(1).getOrElse("PLANS.md")
      Files.writeString(Paths.get(out), md.toString)
      println(s"wrote $out")
    }
    spark.stop()
    if (failed > 0) sys.exit(1)
  }
}
