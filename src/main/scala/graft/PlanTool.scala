package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode
import java.nio.file.{Files, Paths}

/** Dev tool: plans and counters of registered queries, on a
  * [[GraftSession]] so the shapes are the ones the bench runs. Cores come
  * from SPARK_GRAFT_CPUS (PLANS.md is generated at SPARK_GRAFT_CPUS=4).
  * Usage: tools/run.sh graft.PlanTool <mode> <sfDir> <args>, modes:
  *  - `show <sfDir> <q1,q2,...> [outDir suffix]`: per query the formatted
  *    INITIAL plan, a noop run, the post-AQE plan (AQE join promotions
  *    are what several optimizations change) and a counters line; with
  *    `outDir`, also `<outDir>/<query>_<suffix>.txt` (plans/rNN/ evidence).
  *    No warm-up runs (it would shift expression ids): the first query's
  *    wall and cpu include JVM start-up.
  *  - `audit <sfDir>`: every query's #exchanges and CARTESIAN!/bnlj flags.
  *  - `dump <sfDir> [outFile]`: the [[headline]] plans as markdown
  *    (PLANS.md, backing COVERAGE.md's scale claims).
  */
object PlanTool {
  private val Usage = "usage: PlanTool show <sfDir> <q1,q2,...> [outDir suffix]" +
    " | audit <sfDir> | dump <sfDir> [outFile]"

  val headline: Seq[String] = Seq(
    "rel_q1_pricing_summary", "rel_join_star_revenue", "rel_asof_join",
    "rel_interval_join_bucketed", "rel_sort_limit_topk",
    "search_topk_relevance", "search_page_after", "search_topk_tfidf",
    "search_topk_bm25", "search_topk_bm25_indexed", "search_phrase_indexed",
    "llm_ann_pq_topk", "llm_ann_indexed_topk",
    "search_more_like_this", "llm_pack_sequences", "llm_curate_pipeline",
    "search_all_indexes", "llm_cosine_topk", "llm_cosine_topk_batch",
    "llm_dedup_ngram_jaccard", "llm_dedup_simhash",
    "llm_dedup_minhash_banded", "llm_dedup_incremental",
    "llm_decontaminate", "llm_stratified_sample",
    "llm_vocab_topk", "llm_length_trim", "llm_chunk_docs",
    "stream_session_windows", "stream_funnel", "stream_gap_fill",
    "etl_upsert_last_write_wins",
    "rel_agg_pushdown", "sql_recursive_cte", "search_rescore",
    "search_facets_top_hits", "llm_bpe_pair_counts",
    "llm_ngram_lm_quality", "llm_curriculum_shards",
    "llm_dedup_winnow", "llm_ann_sq8_topk", "llm_keyword_extract",
    "llm_dedup_survivors", "search_min_should_match",
    "sql_q19_disjunctive", "sql_q21_waiting_supplier",
    "llm_dedup_substring", "llm_dedup_cdc", "llm_dedup_segments",
    "llm_quality_classifier", "search_collapse_field",
    "search_boosting", "search_matrix_stats", "llm_dsir_weights",
    "llm_gopher_rules", "stream_enrich_static",
    "llm_ngram_novelty", "etl_quality_rules",
    "llm_temperature_mixture", "mm_audio_energy",
    "search_msearch", "search_facets_percentiles",
    "llm_ann_binary_topk", "llm_mmr_rerank", "llm_wordpiece_train",
    "llm_graph_triangles", "rel_join_fuzzy_names", "rel_join_fuzzy_jw",
    "stream_event_pattern", "search_decay_scoring", "llm_hash_embed",
    "llm_cooccurrence", "llm_rouge_pairs", "llm_blocklist_filter",
    "search_phrase_prefix",
    "llm_hll_distinct", "llm_kmv_overlap", "rel_hdr_quantiles",
    "llm_vocab_growth", "search_bucket_pipeline", "search_has_child",
    "search_termvectors", "etl_snapshot_read",
    "llm_hll_native", "search_rank_eval", "search_holt_forecast",
    "search_synonyms", "llm_substring_census", "mm_audio_fingerprint",
    "stream_distinct_users_hll", "etl_snapshot_diff",
    "search_facets_extended_stats",
    "llm_knn_graph", "llm_label_propagation", "llm_triplet_mining",
    "llm_perplexity_buckets", "llm_k_anonymity",
    "search_facets_boxplot", "search_facets_t_test",
    "search_facets_top_metrics", "search_facets_rate",
    "search_pipeline_stats_bucket",
    "search_suggest_term", "search_suggest_phrase", "search_nested_query",
    "search_facets_nested_agg", "search_geo_distance", "search_geohash_grid",
    "search_geo_polygon", "search_runtime_field",
    "search_regexp", "search_span_containing", "search_span_within",
    "search_geo_shape", "search_scripted_metric", "search_common_terms",
    "llm_unigram_train",
    "search_match_bool_prefix", "search_combined_fields",
    "search_geotile_grid", "search_geo_distance_indexed",
    "sql_q2_min_cost_supplier", "sql_q20_excess_stock",
    "search_holt_winters",
    "search_mget", "search_moving_fn_scripted",
    "search_facets_cardinality", "rel_approx_agg")

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("")
    val rest = args.drop(1)
    val arity = Map("show" -> Set(2, 4), "audit" -> Set(1), "dump" -> Set(1, 2))
    if (!arity.get(mode).exists(_(rest.length))) {
      System.err.println(Usage)
      sys.exit(2)
    }
    val sfDir = rest(0)
    val spark = GraftSession.local(GraftSession.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    try mode match {
      case "show" =>
        val out = if (rest.length == 4) Some((rest(2), rest(3))) else None
        show(spark, rest(1).split(",").toSeq, sfDir, out)
      case "audit" => audit(spark, sfDir)
      case "dump" => dump(spark, rest.lift(1).getOrElse("PLANS.md"), sfDir)
    } finally spark.stop()
  }

  private def show(spark: SparkSession, names: Seq[String], sfDir: String,
                   out: Option[(String, String)]): Unit = {
    val counters = new StageCounters(spark)
    out.foreach { case (dir, _) => Files.createDirectories(Paths.get(dir)) }
    var before = counters.snap()
    names.foreach { name =>
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(name)(spark, sfDir)
      val formatted = df.queryExecution.explainString(FormattedMode)
      val t1 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val t2 = System.nanoTime()
      val post = df.queryExecution.executedPlan.toString
      Pins.release(spark)
      counters.drain()
      val after = counters.snap()
      val d = after.zip(before).map { case (a, b) => a - b }
      before = after
      val tag = out.fold("show")(_._2)
      val txt = s"== $name ($tag, $sfDir, noop ${f"${(t2 - t1) / 1e9}%.2f"} s) ==\n\n" +
        formatted + "\n\n== post-AQE executed plan ==\n\n" + post
      out.foreach { case (dir, sfx) => Files.writeString(Paths.get(dir, s"${name}_$sfx.txt"), txt) }
      println(txt)
      println(f"[prof] $name%-32s wall=${(t2 - t0) / 1e9}%7.2f s  jobs=${d(0)}%3d  " +
        f"stages=${d(1)}%4d  tasks=${d(2)}%6d  " +
        f"cpu=${d(3) / 1e9}%7.2f s  shuffle=${d(4) / 1e6}%8.1f MB")
    }
  }

  private def audit(spark: SparkSession, sfDir: String): Unit =
    SparkEntry.queries.keys.toSeq.sorted.foreach { name =>
      try {
        val p = SparkEntry.queries(name)(spark, sfDir)
          .queryExecution.executedPlan.toString
        val exchanges = "Exchange".r.findAllIn(p).size
        val flags = Seq(
          Option.when(p.contains("CartesianProduct"))("CARTESIAN!"),
          Option.when(p.contains("BroadcastNestedLoopJoin"))("bnlj")).flatten.mkString(",")
        println(f"$name%-32s exchanges=$exchanges%-3d $flags")
      } catch {
        case e: Throwable => println(f"$name%-32s ERROR ${e.getMessage.take(80)}")
      }
    }

  private def dump(spark: SparkSession, out: String, sfDir: String): Unit = {
    val sb = new StringBuilder
    sb.append("# PLANS — physical plans of headline queries\n\n")
    sb.append("Generated by `graft.PlanTool dump` at sf0.001 (plan shapes are\n")
    sb.append("scale-invariant; AQE may further split/coalesce at runtime).\n")
    headline.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      sb.append(s"\n## $name\n\n```\n")
      val plan = df.queryExecution.executedPlan.toString
      sb.append(plan.take(8000))
      if (plan.length > 8000) {
        // Keep the scan evidence (PushedFilters / PartitionFilters /
        // ReadSchema) visible even when the middle is truncated.
        sb.append("\n... (truncated; every scan in the plan follows)\n")
        plan.linesIterator.filter(_.contains("FileScan"))
          .foreach(l => sb.append(l.trim.take(700)).append('\n'))
      }
      sb.append("\n```\n")
    }
    Files.writeString(Paths.get(out), sb.toString)
    println(s"wrote $out")
  }
}
