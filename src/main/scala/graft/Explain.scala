package graft
/** Prints formatted physical plans for selected queries — the
  * explain-driven iteration loop (pushdown / broadcast / codegen). */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    // SPARK_GRAFT_EXPLAIN_NOAQE=1: plan WITHOUT AdaptiveSparkPlan so the
    // formatted output carries [codegen id : n] annotations — the only
    // way a static dump can show whole-stage-codegen span boundaries
    // (AQE's initial plan inserts codegen stages lazily, per query stage)
    val spark = LocalSession(4)
    if (sys.env.get("SPARK_GRAFT_EXPLAIN_NOAQE").contains("1"))
      spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.sparkContext.setLogLevel("ERROR")
    val names = if (args.nonEmpty) args.toSeq else Seq(
      "j1_top_orders_by_revenue", "f1_filtered_lineitems", "f6_promo_parts_by_brand",
      "a9_pricing_summary", "v1_cosine_topk", "o3_orders_page",
      "d3_minhash_lsh_pairs", "v2_lsh_cosine_pairs", "v5_quantized_topk",
      "e3_asof_purchase_click", "e4_interval_error_clicks", "s6_stratified_sample",
      "e6_funnel", "t10_tfidf_topk", "s8_epoch_mix", "s9_token_chunks",
      "s10_snapshot_diff", "d9_neardup_survivors",
      "e8_sessions", "j9_salted_supplier_rollup", "a19_cube_status_priority",
      "t12_source_composition", "c1_corpus_pipeline", "q1_dq_report",
      "a21_bottomk_sample", "o6_keyset_page", "z1_zorder_values",
      "v6_ivf_quantized_topk", "c2_dedup_pipeline",
      "w5_spend_quartiles", "s15_sharded_packing",
      "d11_duplicated_span_removal", "s16_token_budget_selection")
    names.foreach { n =>
      println(s"\n########## $n ##########")
      // d14's interesting plan is the PERSISTED-index probe (the DPP
      // pruned band scan) — the in-memory query form has no partitioned
      // scan to prune, so build a throwaway index and explain the probe
      if (n == "d14_incremental_dedup") {
        import org.apache.spark.sql.functions.{col, lit, pmod}
        val docs = graft.sources.Tables.documents(spark, sfDir)
        val path = java.nio.file.Files.createTempDirectory("lsh_explain").toString
        graft.operators.Dedup.saveLshIndex(
          docs.where(pmod(col("doc_id"), lit(11)) =!= 0),
          k = 3, bands = 8, rowsPerBand = 4, path)
        graft.operators.Dedup.dedupAgainstLshIndex(
          docs.where(pmod(col("doc_id"), lit(11)) === 0), path,
          threshold = 0.05, maxBucket = Some(3)).explain("formatted")
      } else SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
