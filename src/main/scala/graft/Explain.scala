package graft

/** Plan-hygiene utility: prints the formatted physical plan for the named
  * queries (or a default hygiene set) so pushdown/broadcast/codegen can be
  * inspected: `sbt "runMain graft.Explain keyrange_scan join_star"`. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = GraftSession.local(4)
    spark.sparkContext.setLogLevel("ERROR")
    val names = if (args.nonEmpty) args.toSeq
      else Seq("q1_pricing", "q3_shipping", "keyrange_scan", "join_broadcast",
        "join_star", "join_asof", "join_range", "bucketed_join", "merge_upsert",
        "dedup_embed_cosine", "dedup_minhash", "sim_ann_ivf", "sim_topk",
        // round-7 plan-shape additions: histogram de-skew, token-keyed
        // candidates, map-only chunking, two-level HLL aggregate
        "window_distribution", "text_levenshtein", "text_chunk",
        "agg_hll_distinct", "dedup_components_shingle",
        // round-11 additions: MV redirect, truncated-range top-n, broadcast
        // CMS counters, literal-codebook PQ encode
        "mv_rewrite", "dsv2_limit_pushdown", "agg_countmin_hh", "sim_ann_pq",
        // round-12 additions: index probe + broadcast semi-gets, deletion-
        // neighborhood join, UnionLoop, CDC full-outer diff, edge-keyed
        // iterative rank
        "secondary_index", "join_fuzzy", "sql_recursive_cte",
        "ddl_changefeed", "graph_pagerank", "index_rewrite",
        "window_topk_heap", "schema_evolution", "catalog_kv_dml",
        "ddl_visibility",
        // round-13 additions: generalized-MERGE clause evaluation, manifest
        // aggregate scan, frontier-join recursion, PQ shortlist re-rank
        "ddl_merge", "kv_agg_pushdown", "sql_recursive_join",
        "ann_recall_pq", "kv_rowlevel_dml")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
