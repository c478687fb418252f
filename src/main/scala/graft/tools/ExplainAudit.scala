package graft.tools

import graft.{GraftSession, SparkEntry}

/** Prints formatted physical plans for the scale-critical queries so plan
  * regressions (lost pushdown, surprise nested-loop joins, missing partial
  * aggregation) are visible per round. Usage:
  *   sbt "runMain graft.tools.ExplainAudit [sfDir] [query ...]"
  */
object ExplainAudit {
  private val defaults = Seq(
    "q01_scan_filter_project", // parquet PushedFilters + pruned ReadSchema
    "q02_inner_join",          // join pick left to AQE (no forced broadcast)
    "q10_hash_agg",            // two-phase HashAggregate
    "q19_topk_per_group",      // WindowGroupLimit pushdown
    "q20_global_sort_limit",   // TakeOrderedAndProject
    "q33_cdc_materialize",     // single PK shuffle for the window
    "q37_cosine_topk",         // broadcast 1-row side, no corpus shuffle
    "q46_cosine_neardup",      // per-row norms before the join
    "q35_exact_dedup",         // two-phase hash agg over all columns
    "q36b_tfidf",              // vocabulary-sized side broadcasts
    "q51_sql_entry",           // SQL entry: scalar subquery rewrite
    "q63_hash_split",          // map-only: no hash exchange at all
    "q64_canonical_dedup",     // one shuffle shared by both windows
    "q65_quality_band",        // broadcast thresholds, map-only filter
    "q68_filtered_topk",       // metadata predicates pushed to both scans
    "q71_decontamination",     // shingle-keyed (uniform) join exchanges
    "q73_bloom_join",          // literal bloom probe before the exchange
    "q74_batch_topk",          // one corpus pass, WindowGroupLimit per query
    "q75_label_centroids",     // ×64 explode, one (label,dim) shuffle
    "q82_kmeans_assign",       // broadcast centroids + partial-agg argmax
    "q84_argmax",              // max_by/min_by two-phase, no window sort
    "q86_snapshot_diff",       // PK-keyed windows + full-outer SMJ
    "q89_rollup_reuse",        // two-level agg, both phases partial+final
    "q90_dedup_pipeline",      // composed dedup stages, no driver fold
    "q122_pagerank",           // checkpointed lineage: scan, not a join tower
    "q123_simjoin_prefix",     // long-fingerprint joins, prefix-pruned
    "q125_reachability",       // frontier scan joins, no recursive blow-up
    "q127_copurchase",         // basket join + partial agg + TakeOrdered
    "q128_triangles",          // one checkpointed edge set, 3 hash joins
    "q129_sorted_neighbor",    // range exchange, no SinglePartition window
    "q148_percentile_exact",   // histogram-sized exchanges, no full sort
    "q194_percentile_cont",    // same two-pass shape, two ranks/percentile
    "q193_auc",                // score-cardinality agg + tiny cumsum
    "q192_attribution",        // one user-keyed window, integer lookback
    "q197_indexed_bm25",       // bucket-pruned posting read, no corpus scan
    "q224_copy_detection")     // fp-keyed selection join, no all-pairs

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.drop(1).toSeq else defaults
    val spark = GraftSession.start()
    names.foreach { n =>
      println(s"\n======== $n ========")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
