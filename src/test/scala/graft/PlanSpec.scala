package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regression tests: the properties that make these queries
  * scale (pushdown, pruning, broadcast, partial top-k) must survive
  * refactors. Asserting on the optimized/physical plan keeps the
  * "would this survive 100×" guarantees executable.
  */
class PlanSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def physical(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
  }

  test("f1: IN-list and range predicates are pushed to the parquet scan") {
    val p = physical("f1_filtered_lineitems")
    assert(p.contains("In(l_returnflag"), p)
    assert(p.contains("GreaterThanOrEqual(l_quantity,10.0)"), p)
  }

  test("f1: scans are column-pruned to the referenced columns") {
    val p = physical("f1_filtered_lineitems")
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double,l_returnflag:string>"), p)
  }

  test("j1: dimension joins are broadcast, filter inside the broadcast side") {
    val p = physical("j1_top_orders_by_revenue")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("EqualTo(c_mktsegment,BUILDING)"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("v1: per-query top-k is computed partially before the shuffle (WindowGroupLimit)") {
    val p = physical("v1_cosine_topk")
    assert(p.contains("WindowGroupLimit"), p)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
  }

  test("d12: bloom probe prunes the corpus branch BELOW its first exchange") {
    import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val df = SparkEntry.queries("d12_bloom_contamination")(spark, sf)
    // AdaptiveSparkPlanExec is a LEAF node — collect() stops at it, so
    // descend into its input plan explicitly (shape is decided there)
    def flatten(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => flatten(a.inputPlan)
      case _ => p +: p.children.flatMap(flatten)
    }
    val nodes = flatten(df.queryExecution.executedPlan)
    // the Filter carrying the probe must sit in the scan stage: no
    // shuffle anywhere BELOW it — rows the bloom rejects die before
    // the first exchange, the property that shrinks the corpus-side
    // shuffle from |corpus shingles| to ~|bench shingles| at scale
    val probeFilters = nodes.collect {
      case f: FilterExec if f.condition.exists(
        _.isInstanceOf[graft.functions.BloomMightContainLong]) => f
    }
    assert(probeFilters.nonEmpty, nodes.mkString("\n"))
    probeFilters.foreach { f =>
      val shufflesBelow = f.children.flatMap(flatten).collect {
        case e: ShuffleExchangeLike => e
      }
      assert(shufflesBelow.isEmpty,
        s"bloom probe sits above a shuffle — pruning arrives too late:\n$f")
    }
  }

  test("a9: aggregation is partial+final (map-side combine)") {
    val p = physical("a9_pricing_summary")
    assert(p.contains("partial_sum"), p)
  }

  test("o3: pagination compiles to a global limit, not a full materialization") {
    val p = physical("o3_orders_page")
    assert(p.contains("GlobalLimit") || p.contains("TakeOrdered"), p)
  }

  test("d3/v2: LSH candidate joins are bucket-key equi-joins, never cross products") {
    for (name <- Seq("d3_minhash_lsh_pairs", "v2_lsh_cosine_pairs")) {
      val p = physical(name)
      assert(!p.contains("CartesianProduct"), s"$name:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$name:\n$p")
      // the equi-join keys are the LSH bucket columns — the property
      // that keeps the pair search shuffle-bounded at 100×
      val leftKeys = p.linesIterator.filter(_.contains("Left keys")).mkString
      assert(leftKeys.contains("bucket"), s"$name:\n$p")
    }
  }

  test("v5: quantized ranking prunes per-query partially (WindowGroupLimit) before rescoring") {
    val p = physical("v5_quantized_topk")
    assert(p.contains("WindowGroupLimit"), p)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("v6: composed IVF serving path — cell equi-join, two-stage partial top-k, no cross product") {
    val p = physical("v6_ivf_quantized_topk")
    assert(!p.contains("CartesianProduct"), p)
    // candidate meeting happens ONLY inside a probed cell (equi-join on
    // the cell key) — the property that keeps the serving scan
    // |probes|-bounded instead of corpus-bounded
    val leftKeys = p.linesIterator.filter(_.contains("Left keys")).mkString
    assert(leftKeys.contains("cell"), p)
    // both ranking stages (quantized qrank, exact rank) prune per-query
    // partially before their exchange
    assert("WindowGroupLimit".r.findAllIn(p).size >= 2, p)
  }

  test("v7: the nested-loop streamed side sits under EvalOnceExec and the PQ kernels stay fused") {
    import org.apache.spark.sql.catalyst.optimizer.BuildRight
    import org.apache.spark.sql.execution.{SparkPlan, WholeStageCodegenExec}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    import graft.functions.{PqAdc, PqEncode, PqLut}
    val df = SparkEntry.queries("v7_pq_topk")(spark, sf)
    df.collect() // the final adaptive plan is the one codegen collapsed
    // every node of the final plan, paired with "inside a codegen stage"
    def walk(p: SparkPlan, fused: Boolean): Seq[(SparkPlan, Boolean)] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan, fused)
      case s: QueryStageExec => walk(s.plan, fused)
      case w: WholeStageCodegenExec => walk(w.child, fused = true)
      case _ => (p, fused) +: p.children.flatMap(walk(_, fused))
    }
    val nodes = walk(df.queryExecution.executedPlan, fused = false)
    val plan = df.queryExecution.executedPlan
    val joins = nodes.collect { case (j: BroadcastNestedLoopJoinExec, _) => j }
    assert(joins.nonEmpty, plan)
    joins.foreach { j =>
      val streamed = if (j.buildSide == BuildRight) j.left else j.right
      assert(streamed.isInstanceOf[graft.plans.EvalOnceExec], plan)
    }
    for (kernel <- Seq(classOf[PqEncode], classOf[PqLut], classOf[PqAdc])) {
      val hosts = nodes.filter { case (n, _) =>
        n.expressions.exists(_.exists(e => kernel.isInstance(e)))
      }
      assert(hosts.nonEmpty, s"${kernel.getSimpleName} missing:\n$plan")
      assert(hosts.forall(_._2), s"${kernel.getSimpleName} outside codegen:\n$plan")
    }
  }

  test("e3: as-of join compiles to one window pass — no join operator at all") {
    val p = physical("e3_asof_purchase_click")
    assert(!p.contains("Join"), p)
    assert(p.contains("Window"), p)
  }

  test("t4: document scan is pruned to the two referenced columns") {
    val p = physical("t4_fingerprint_sample")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"), p)
  }

  test("s8/s9: mixing and chunking stay map-side — explode over the scan, no join") {
    for (name <- Seq("s8_epoch_mix", "s9_token_chunks")) {
      val p = physical(name)
      assert(!p.contains("Join"), s"$name:\n$p")
      assert(p.contains("Generate"), s"$name:\n$p")
    }
  }

  test("t10: the query-term filter lands below the first shuffle; df/N are broadcast") {
    val p = physical("t10_tfidf_topk")
    // the filter must prune tokens BEFORE aggregation: at 100× the
    // shuffle carries only (doc_id, matched-term) pairs
    assert(p.contains("In(join,window,stream)") ||
      p.contains("tok#") && p.contains("IN (join,window,stream)"), p)
    assert(p.contains("BroadcastExchange"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("e6: funnel steps join hash-broadcast on user_id, no cartesian stages") {
    val p = physical("e6_funnel")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("e8: sessionization runs on ONE user_id shuffle — lag, running index and session agg reuse it") {
    val p = physical("e8_sessions")
    // windows + per-session aggregate all cluster by user_id; the only
    // other hash exchange allowed is the tiny n_events histogram
    val exchanges = "Arguments: hashpartitioning".r.findAllIn(p).size
    // upper bound, not an exact pin: the contract is that no EXTRA
    // shuffle appears (user_id + the tiny n_events histogram); a
    // Catalyst/AQE change that merges one away is not a regression
    assert(exchanges <= 2, p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
  }

  test("j9: salted aggregation is two exchange-separated partial/final phases, both combining map-side") {
    val p = physical("j9_salted_supplier_rollup")
    assert(p.contains("partial_sum"), p)
    val exchanges = "Arguments: hashpartitioning".r.findAllIn(p).size
    // EXACT on purpose — the count IS the contract here: salting is
    // definitionally two phases, (suppkey, salt) then suppkey. One
    // exchange means the salt collapsed (skew protection silently
    // gone); three means an extra shuffle crept in. Neither is OK.
    assert(exchanges === 2, p)
  }

  test("a19: cube expands once — a single Expand node feeding one aggregate exchange") {
    val p = physical("a19_cube_status_priority")
    assert("\\bExpand\\b".r.findAllIn(p).size >= 1, p)
    assert(p.contains("partial_count") || p.contains("partial_sum"), p)
  }

  test("t12: composition report scans documents once, pruned to the three used columns") {
    val p = physical("t12_source_composition")
    val scans = """\(\d+\) Scan parquet""".r.findAllIn(p).size
    // EXACT on purpose — the single-scan property IS the contract (a
    // second scan means the shared subtree re-reads the table per
    // consumer; zero is impossible for a parquet-sourced report)
    assert(scans === 1, p)
    assert(p.contains("ReadSchema: struct<text:string,lang:string,source:string>") ||
           p.contains("ReadSchema: struct<lang:string,source:string,text:string>"), p)
  }

  test("o6: keyset cursor pushes to the scan and materializes one page, not a global sort") {
    val p = physical("o6_keyset_page")
    // the date half of the cursor reaches parquet as a pushed filter,
    // and the page is a TakeOrdered, never a full Sort + Limit
    assert(p.contains("LessThan(o_orderdate") || p.contains("Or(LessThan(o_orderdate"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("a21: the custom bottom-k Aggregator combines map-side (partial sketch before the exchange)") {
    val p = physical("a21_bottomk_sample")
    assert(p.contains("partial_bottomk"), p)
    assert(p.contains("ObjectHashAggregate"), p)
  }

  test("a25: grouped top-k combines map-side and has NO window sort over the data") {
    val p = physical("a25_grouped_topk")
    // the whole point vs row_number(): k pairs per group per input
    // partition cross the wire (partial aggregate below the exchange),
    // and no Window/Sort node ever sees the full orders relation — the
    // only Sort is the final k-row-per-group presentation ordering
    assert(p.contains("partial_topklongpairs"), p)
    assert(p.contains("ObjectHashAggregate"), p)
    assert(!p.contains("RunningWindowFunction") &&
      !p.contains("Window"), p)
  }

  test("q1: all row-level DQ checks share ONE scan; only key-shuffle checks scan again") {
    val p = physical("q1_dq_report")
    // 3 PredChecks → 1 shared pass; UniqueCheck → 1; OrphanCheck → child + parent
    val scans = """\(\d+\) Scan parquet""".r.findAllIn(p).size
    // upper bound: >4 means the row-level checks stopped sharing their
    // scan (the regression this test exists to catch); a future Spark
    // merging more is fine
    assert(scans <= 4, p)
    assert(p.contains("BroadcastHashJoin LeftAnti") || p.contains("SortMergeJoin LeftAnti"), p)
  }

  test("s13: the importance-sample keep-decision is a scan-level filter — no shuffle before the tiny rollup") {
    val p = physical("s13_importance_sample")
    // the keep-decision Filter must be the scan's immediate parent —
    // exchanges exist only above the aggregation
    assert("""Filter \(\d+\)\s*\n\s*\+- Scan parquet""".r.findFirstIn(p).isDefined, p)
  }

  test("w7: the RANGE-frame window runs on one customer exchange") {
    val p = physical("w7_trailing_week_spend")
    val exchanges = "Arguments: hashpartitioning".r.findAllIn(p).size
    // EXACT on purpose — one customer-keyed exchange IS the contract:
    // the window cannot run on zero (rows must co-locate per customer)
    // and a second exchange means the frame shuffles twice for one
    // clustering — the regression this pin exists to catch
    assert(exchanges === 1, p)
    assert(p.contains("RANGE BETWEEN 6 PRECEDING AND CURRENT ROW")
      || p.contains("specifiedwindowframe(RangeFrame"), p)
  }

  test("w5: quartile ranking has NO single-partition stage — range-partitioned rank + offsets") {
    val p = physical("w5_spend_quartiles")
    // the plan this replaces (NTILE over a bare ORDER BY) funneled the
    // whole spend frame through `Exchange SinglePartition` into one
    // Window task; the distributed form must never reintroduce one
    assert(!p.contains("SinglePartition"), p)
    // the rank reads the ONE localCheckpoint materialization of the
    // range-partitioned frame (the range exchange ran inside it), so
    // the final plan starts from an RDD leaf — same shape as c2
    assert(p.contains("Scan ExistingRDD"), p)
    assert(p.contains("Window"), p)
  }

  test("s15: sharded packing's cumulative window is partitioned — no single-partition stage") {
    val p = physical("s15_sharded_packing")
    assert(!p.contains("SinglePartition"), p)
    assert(p.contains("Window"), p)
  }

  test("s16: token-budget selection's global cumsum has NO single-partition stage") {
    val p = physical("s16_token_budget_selection")
    // the whole point of Ranking.cumsumExact: SUM OVER (ORDER BY ...)
    // without funneling the frame through one task — same contract as w5
    assert(!p.contains("SinglePartition"), p)
    assert(p.contains("Scan ExistingRDD"), p) // the one checkpointed range shuffle
    assert(p.contains("Window"), p)
  }

  test("d11: span removal generates grams once — one Generate, windowed dup count, no second doc scan of the gram subtree") {
    val p = physical("d11_duplicated_span_removal")
    // EXACT on purpose — the agg-then-join formulation would show TWO
    // Generates (the gram explode evaluated once per occurrence
    // subtree); the windowed form keeps exactly one, and one is also
    // the floor (the grams must be generated somewhere)
    assert("""\(\d+\) Generate""".r.findAllIn(p).size === 1, p)
    assert(p.contains("Window"), p)
    // at most two parquet scans: the gram subtree and the cheap
    // reconstruction side (tokenize only — no gram hashing); a third
    // would mean the gram subtree re-scanned per consumer
    assert("""\(\d+\) Scan parquet""".r.findAllIn(p).size <= 2, p)
  }

  test("c3: curation v2 reads only checkpointed leaves — no parquet re-scan per consumer") {
    val p = physical("c3_curation_v2")
    // mixed is localCheckpoint'ed and the budget-selection side rides
    // cumsumExact's own checkpoint, so the final plan must touch NO
    // parquet: every consumer reads materialized blocks
    assert(!p.contains("Scan parquet"), p)
    assert(p.contains("Scan ExistingRDD"), p)
    assert(!p.contains("SinglePartition"), p)
  }

  test("c1: the composed pipeline is one scan with ONE data-sized shuffle, dedup pre-limited map-side") {
    val p = physical("c1_corpus_pipeline")
    val scans = """\(\d+\) Scan parquet""".r.findAllIn(p).size
    // EXACT on purpose — one scan IS the composed-pipeline contract
    // (quality gate, dedup and rollup all ride the same read; zero is
    // impossible, two means a stage re-reads the corpus)
    assert(scans === 1, p)
    // quality gate sits on the scan; the md5 keep-first runs as a
    // WindowGroupLimit BEFORE its exchange (partial top-1 per key),
    // so the only full-width shuffle carries pre-deduped rows
    assert("""Filter \(\d+\)\s*\n\s*\+- Scan parquet""".r.findFirstIn(p).isDefined, p)
    assert("WindowGroupLimit".r.findAllIn(p).size >= 2, p)
    val exchanges = "Arguments: hashpartitioning".r.findAllIn(p).size
    // upper bound (md5 window + lang agg): a third exchange would be a
    // real regression; one fewer from a smarter planner is not
    assert(exchanges <= 2, p)
  }

  test("c2: pair relation never materializes past the components stage — rollup starts from the checkpointed label leaf") {
    val p = physical("c2_dedup_pipeline")
    // connected components consumed the LSH pairs and checkpointed the
    // (id, comp) labels: the final plan's only non-parquet input is that
    // RDD leaf, and none of the band/bucket pair machinery appears
    assert(p.contains("Scan ExistingRDD"), p)
    assert(!p.contains("bucket"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // documents is read for quality/chars only — pairs contribute no scan
    val scans = """\(\d+\) Scan parquet""".r.findAllIn(p).size
    assert(scans >= 1 && scans <= 2, p)
  }

  test("lpRows: at realistic (saturated) vocab the bigram-model and backoff joins BROADCAST") {
    // the r13 verdict's one skew note: lpRows' model joins are
    // deliberately unhinted (a forced broadcast would OOM on the
    // synthetic vocab-grows-with-corpus ramp — see the lpRows
    // scaladoc); this pins that at a saturated vocabulary the
    // broadcast actually happens, so the shuffle fallback is the
    // documented exception, not the silent default
    import org.apache.spark.sql.functions.col
    import graft.operators.LmScore
    val docs = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"))
    val dir = java.nio.file.Files.createTempDirectory("lpbc").toString
    val spec = LmScore.LmSpec(LmScore.Smoothing.AddHalf, perLang = false)
    LmScore.save(spec, docs, dir)
    val scored = LmScore.score(LmScore.load(spark, spec, dir), docs)
    scored.count() // settle AQE
    val p = scored.queryExecution.executedPlan.toString
    val nBroadcast = "BroadcastHashJoin".r.findAllIn(p).length
    assert(nBroadcast >= 2, s"bigram AND unigram joins must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"no shuffle join at this vocab:\n$p")
  }

  test("suite-wide: no accidental cartesian/nested-loop joins in ANY declared query") {
    // operators whose ALGORITHM is an intentional cross product:
    // brute-force cosine ground truths (v1/v3/v5 — guarded or sampled
    // cohorts), the PQ/ADC exhaustive-scoring leg (v7 — every vector
    // reads m LUT entries per query in the sampled cohort; the pruned
    // sibling is the v6 IVF shape), levenshtein all-pairs on a sampled
    // cohort (feeds d7/d9), funnel stage counts (crossJoin of K
    // single-row aggregates), and single-row broadcast scalars (t9/t10
    // corpus totals, a24's merged-sketch × exact-count pairing — a
    // 1-row build side is the cheapest possible join). s21 inherits
    // BOTH shapes: it consumes the d5/d7 levenshtein cohort as its
    // pair graph and attaches the 1-row leaked-pairs audit scalar.
    val intendedCross = Set(
      "v1_cosine_topk", "v3_embedding_neardup_pairs", "v5_quantized_topk",
      "v7_pq_topk",
      // v9's cohort form broadcasts the sampled source side against the
      // streaming target side (and the touched targets against the
      // source side) — the v1 guarded brute-force shape; the production
      // path is the in-cell equi-join (marginAlignmentFromAssigned)
      "v9_margin_alignment",
      "d5_levenshtein_pairs", "d7_neardup_components", "d9_neardup_survivors",
      "e6_funnel", "t9_unigram_likelihood", "t10_tfidf_topk",
      "a24_sketch_rollup", "q4_drift_report", "s21_component_split",
      // LmScore: the vocab-size / distribution-total single-row scalars
      // (V, N_raw, N_target) broadcast-cross into the model tables;
      // c8 composes the q5 scorer and inherits the same scalar, c9 the
      // persisted-LM scorer (the saved 1-row meta table broadcast-
      // crosses into the lp stream), c10 the q6 scorer inside its
      // curation chain
      "q5_bigram_surprisal", "q6_ccnet_buckets", "s23_dsir_weights",
      "c8_lm_survivor_clusters", "c9_target_lm_survivors",
      "c10_lm_gated_curation",
      // q10 inherits the same 1-row scalar crosses (trigram V3 + the
      // bigram tier's V) at both cascade levels
      "q10_trigram_surprisal",
      // q11's KN model constants (T, Du, V, pcden — ONE row) broadcast-
      // cross into the model tables and the scoring stream, exactly
      // q5's vocab-scalar shape (c15's per-lang form joins the
      // #langs-row meta BY lang instead, and its chain sits behind
      // checkpointed stage leaves)
      "q11_kn_surprisal",
      // q12's trigram KN inherits the same shape one order up (the
      // 1-row continuation-level constants TB/DuB/V/pbden)
      "q12_kn_trigram_surprisal",
      // q13's modified-KN constants (the q11 row plus the three
      // count-of-count discounts D1/D2/D3 — still ONE row) broadcast-
      // cross the same way
      "q13_mkn_surprisal",
      // LangId: the (#langs)-row class-constant table broadcast-crosses
      // into the per-doc totals — every doc scores against every class
      // by definition (a K-class linear scorer), and K is single-digit;
      // the corpus-sized side never builds. q9 composes q8's
      // classifier; c13 composes it into the curation gate.
      // c20 is c13 with the classifier PERSISTED — same (#langs)-row
      // const-table cross, read from li_const/ instead of derived
      "q8_trained_langid", "q9_langid_surprisal", "c13_langid_curation",
      "c20_target_langid_curation")
    // e5 relies on the range-join rule, which the shared session turns
    // on (LocalSession) — the sweep runs under production settings
    val offenders = SparkEntry.queries.keys.toSeq.sorted
      .filterNot(intendedCross)
      .flatMap { name =>
        val p = physical(name)
        if (p.contains("CartesianProduct") || p.contains("BroadcastNestedLoopJoin"))
          Some(name)
        else None
      }
    assert(offenders.isEmpty,
      s"unexpected cross-product joins in: $offenders — every pair algorithm " +
        "must block on an equi-join key (LSH bucket, time bin, cell)")
  }

  test("session contract: native SQL functions resolve and the session time zone is UTC, no table read first") {
    import org.apache.spark.sql.SparkSession
    // a new session on the shared context starts with an empty registry
    // of temporary functions, so poly_hash64 below can only resolve
    // through LocalSession's own registration
    val shared = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val fresh = try LocalSession(4)
      finally { SparkSession.setDefaultSession(shared); SparkSession.setActiveSession(shared) }
    assert(fresh ne shared)
    val r = fresh.sql("SELECT poly_hash64('ab') AS h, current_timezone() AS tz").head()
    assert(r.getLong(0) === 97L * 131 + 98) // 'a' * base + 'b'
    assert(r.getString(1) === "UTC")
  }

  test("lexam filter pushdown: question predicates reach the parquet scan") {
    val store = new graft.lexam.pipeline.LexamStore(spark,
      java.nio.file.Files.createTempDirectory("plan_store").toString)
    graft.lexam.Fixtures.writeTo(store)
    val filtered = graft.lexam.Filters.filterQuestions(store.questions, store.variants,
      graft.lexam.FilterConfig(area = Seq("Private"), language = Seq("de")))
    val p = filtered.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("In(area") || p.contains("EqualTo(area,Private)"), p)
  }
}
