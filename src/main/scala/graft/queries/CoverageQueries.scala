package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.sources.Tables
import graft.functions.{Num, TextFunctions => TF}
import graft.operators.LmScore
import graft.operators.LmScore.{LmSpec, Smoothing}

/** Coverage batch: the SURVEY §2 operator families not yet exercised by
  * the first two batches, mapped onto the star-schema testdata.
  */
object CoverageQueries {

  /** Per-source epoch weights for `s8_epoch_mix`: spread over the whole
    * 0.x–3.x range so the query exercises full drop (weight 0), pure
    * fractional sampling (< 1), and multi-epoch replication (> 1). */
  private val EpochWeights: Map[String, Double] =
    (0 until 20).map(i => s"src$i" -> ((i % 4) + (i * 37 % 100) / 100.0)).toMap

  /** Shared DQ contract for `q1_dq_report`: the Spark plan and the
    * DuckDB twin grade the same list (operators.Quality). */
  private val DqChecks: Seq[graft.operators.Quality.Check] = {
    import graft.operators.Quality._
    Seq(
      UniqueCheck("pk_orderkey_unique", "o_orderkey"),
      PredCheck("status_in_domain",
        col("o_orderstatus").isin("F", "O", "P"),
        "o_orderstatus IN ('F','O','P')"),
      PredCheck("totalprice_positive",
        col("o_totalprice") > 0, "o_totalprice > 0"),
      PredCheck("orderdate_not_null",
        col("o_orderdate").isNotNull, "o_orderdate IS NOT NULL"),
      OrphanCheck("fk_custkey_resolves", "o_custkey", "customer", "c_custkey"))
  }

  /** c12/c17/c19: per-language `sm` target models trained on the
    * held-out %3==1 slice and PERSISTED (LmScore.save), the gate scoring
    * the gated corpus against the loaded artifact; c10's chain after. */
  private def targetLmCuration(s: SparkSession, dir: String, sm: Smoothing,
                               scratch: String): DataFrame = {
    import CurationStages._
    val all = Tables.documents(s, dir)
    val docs = synthesized(all)
    DedupQueries.withIndexScratch(s, scratch) { path =>
      LmScore.save(LmSpec(sm, perLang = true),
        benchSlice(all).select(col("doc_id"), col("lang"), col("text")), path)
      val lmKept = lmGated(gated(docs),
        all.select(col("doc_id"), col("lang")), sm, Some(path))
      val kept = decontaminated(lmKept, benchSlice(all))
      quotaRollup(curated(kept, components(nearDupPairs(kept))))
    }
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // S8: epoch-weighted mixture replication (training-data mixing) —
    // floor(w) copies per row + hash-decided fractional epoch; emitted
    // row counts and id-weighted checksums prove the replication
    "s8_epoch_mix" -> ((s, dir) => {
      import graft.operators.Sampling
      Sampling.epochMix(Tables.documents(s, dir), "source",
          concat(col("doc_id").cast("string"), lit("/"), col("source")),
          EpochWeights, defaultWeight = 1.0)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_emitted"),
          sum(col("doc_id")).cast("long").as("id_weighted"))
        .orderBy(col("source"))
    }),

    // S4: derived membership column at ingest (seed.py:16-60,107)
    "s4_derived_isin_flag" -> ((s, dir) => {
      Tables.part(s, dir)
        .withColumn("premium_brand",
          col("p_brand").isin("Brand#11", "Brand#22", "Brand#33"))
        .groupBy(col("premium_brand")).agg(count(lit(1)).as("n"))
        .orderBy(col("premium_brand"))
    }),

    // S5: ingest type coercion — substring + cast (seed.py:90-94)
    "s5_substring_cast" -> ((s, dir) => {
      Tables.part(s, dir)
        .withColumn("brand_num", substring(col("p_brand"), 7, 2).cast("int"))
        .groupBy(col("brand_num")).agg(count(lit(1)).as("n"))
        .orderBy(col("brand_num"))
    }),

    // S9: fixed-size token chunking with overlap (context-window prep) —
    // per-chunk token counts + content fingerprints prove slicing parity
    "s9_token_chunks" -> ((s, dir) => {
      import graft.operators.TextAnalysis
      import graft.functions.PolyHash64
      TextAnalysis.chunkTokens(
          Tables.documents(s, dir).where(pmod(col("doc_id"), lit(25)) === 0),
          chunk = 64, overlap = 16)
        .select(col("doc_id"), col("chunk_idx"),
          size(col("chunk")).cast("long").as("chunk_tokens"),
          PolyHash64.polyHash64(array_join(col("chunk"), " ")).as("fp"))
        .orderBy(col("doc_id"), col("chunk_idx"))
    }),

    // C5: the training-shard materializer end to end — the job that
    // turns a curated corpus into the artifact a trainer actually
    // reads: overlap-chunk every doc into context windows (s9), fix
    // the epoch order with a seeded portable-hash shuffle (s20's
    // rule), lay the shuffled chunks into token-budget shards with the
    // exact distributed running sum (s7's packing rule via
    // Ranking.cumsumExact — no single-partition window), and roll up
    // per shard with a fingerprint checksum so a chunk in the wrong
    // shard cannot pass. ONE oracle replays the whole chain.
    // ACCOUNTING NOTE: budgets here are WHITESPACE token counts — kept
    // deliberately as the comparison point; s24 proves the mis-sizing
    // row by row and c11 is the production form (frozen persisted BPE
    // merges, shards laid under tokenizer counts).
    "c5_training_shards" -> ((s, dir) => {
      import graft.operators.{TextAnalysis, Ranking}
      import graft.functions.PolyHash64
      val chunks = TextAnalysis.chunkTokens(
          Tables.documents(s, dir).where(pmod(col("doc_id"), lit(5)) === 0),
          chunk = 64, overlap = 16)
        .select(col("doc_id"), col("chunk_idx"),
          size(col("chunk")).cast("long").as("tok"),
          PolyHash64.polyHash64(array_join(col("chunk"), " ")).as("fp"))
        .withColumn("k", PolyHash64.polyHash64(concat(lit("e3|"),
          col("doc_id").cast("string"), lit("|"),
          col("chunk_idx").cast("string"))))
      Ranking.cumsumExact(chunks,
          Seq(col("k"), col("doc_id"), col("chunk_idx")), col("tok"), "cum")
        .withColumn("shard", expr("(cum - tok) div 2000"))
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_chunks"), sum(col("tok")).as("tokens"),
          sum(col("fp")).as("fp_sum"))
        .orderBy(col("shard"))
    }),

    // S10: snapshot diff (dataset versioning audit) — snapshot B is
    // derived deterministically from A (drops, edits, additions), and
    // the diff classifies every key by content digest
    "s10_snapshot_diff" -> ((s, dir) => {
      import graft.operators.Diff
      val base = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val next = base
        .where(pmod(col("doc_id"), lit(31)) =!= 0) // deletions
        .withColumn("text",
          when(pmod(col("doc_id"), lit(17)) === 0,
            concat(col("text"), lit(" v2"))).otherwise(col("text"))) // edits
        .unionByName(base.where(pmod(col("doc_id"), lit(41)) === 0)
          .withColumn("doc_id", col("doc_id") + 1000000)) // additions
      Diff.diffSummary(base, next, "doc_id", md5(col("text")))
    }),

    // S6: deterministic stratified sampling (training-data mixing) —
    // content-hash decisions, identical across runs/retries/engines
    "s6_stratified_sample" -> ((s, dir) => {
      import graft.operators.Sampling
      Sampling.stratifiedSample(Tables.documents(s, dir), "lang",
          concat(col("doc_id").cast("string"), lit("/"), col("lang")),
          Map("en" -> 0.5, "de" -> 0.3), defaultFraction = 0.1)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_sampled"), sum(col("doc_id")).as("id_checksum"))
        .orderBy(col("lang"))
    }),

    // S13: importance sampling — keep probability = the document's own
    // weight (here a length-derived quality proxy over n_chars), the
    // per-document refinement of s6's per-stratum rates
    "s13_importance_sample" -> ((s, dir) => {
      import graft.operators.Sampling
      Sampling.importanceSample(Tables.documents(s, dir),
          weight = col("n_chars") / lit(2000.0),
          key = concat(col("doc_id").cast("string"), lit("/"), col("source")))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("id_checksum"))
        .orderBy(col("lang"))
    }),

    // S17: √-temperature source rebalancing — the multilingual n^0.5
    // mix: per-source keep rates DERIVED from the observed source
    // distribution (one tiny collected aggregate), applied map-side as
    // a deterministic content-hash filter; integer cutoff arithmetic
    // keeps Spark and the oracle bit-identical (no pow() ulp hazard)
    "s17_temperature_mix" -> ((s, dir) => {
      import graft.operators.Sampling
      Sampling.temperatureMix(Tables.documents(s, dir), "source",
          key = concat(col("doc_id").cast("string"), lit("/"), col("source")),
          targetDenom = 4L)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("id_checksum"))
        .orderBy(col("source"))
    }),

    // S22: per-group hard caps (the RefinedWeb per-domain quota) —
    // the absolute ceiling rate-based mixing (s6/s17) cannot express:
    // at most 100 docs per lang, the kept set the 100 smallest content
    // hashes. At the gate SF `en` (218 docs) binds and every other
    // lang passes whole, so both branches are oracle-checked. Grouped
    // bottom-k via the bounded heap — no per-group window sort.
    "s22_group_caps" -> ((s, dir) => {
      import graft.operators.Sampling
      val docs = Tables.documents(s, dir)
      val capped = Sampling.groupCap(docs, "lang", "doc_id",
        key = concat(col("doc_id").cast("string"), lit("/"), col("lang")),
        cap = 100)
      docs.groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
        .join(capped.groupBy(col("lang"))
            .agg(count(lit(1)).as("n_kept"),
              sum(col("doc_id")).cast("long").as("id_checksum")),
          Seq("lang"))
        .orderBy(col("lang"))
    }),

    // C7: the round-10 curation chain composed end to end — the
    // quality → decontaminate → dedup → split → quota sequence a
    // corpus build runs before training. (1) Gopher repetition gate
    // over t14's signals (the corpus is repetition-free, so every
    // 30th doc of the slice gets its 12-word head appended twice and
    // the gate provably BINDS — measured dup10 >= 0.28 on synthesized
    // docs, 0.0 on clean); (2) frame decontamination against the
    // held-out %3==1 benchmark slice (k=8 shingles, containment >=
    // 0.5 drops); (3) MinHash-LSH near-dup components over the
    // survivors; (4) leakage-safe whole-component splits REUSING the
    // already-computed components (no second fixpoint); (5) the
    // per-source hard quota on the curated corpus. ONE nested-CTE
    // oracle replays the whole chain.
    // Stage bodies live in CurationStages — ONE definition shared with
    // the c10–c19 chains, so they cannot drift. The localCheckpoint
    // cuts are documented there (each pinned frame has 2-3 consumers; the
    // oracle materializes the same CTEs for the same reason).
    "c7_curation_pipeline" -> ((s, dir) => {
      import CurationStages._
      val all = Tables.documents(s, dir)
      val docs = synthesized(all)
      val kept = decontaminated(gated(docs), benchSlice(all))
      quotaRollup(curated(kept, components(nearDupPairs(kept))))
    }),

    // C10: c7 with the CCNet LM-quality stage composed INTO the chain —
    // rule gate → LM bucket gate (score under a bigram LM, per-lang
    // thirds, keep head+middle) → decon → LSH/components → splits →
    // quota. The LM family stops being a standalone query and becomes
    // what it is in the CCNet recipe: a curation stage. ONE nested-CTE
    // oracle replays the whole composition.
    "c10_lm_gated_curation" -> ((s, dir) => {
      import CurationStages._
      val all = Tables.documents(s, dir)
      val docs = synthesized(all)
      val lmKept = lmGated(gated(docs), all.select(col("doc_id"), col("lang")))
      val kept = decontaminated(lmKept, benchSlice(all))
      quotaRollup(curated(kept, components(nearDupPairs(kept))))
    }),

    // C12: c10 with the gate scored under PERSISTED per-language
    // TARGET-domain LMs — CCNet's actual prescription (one
    // Wikipedia-style target model per language) where c10
    // deliberately self-trains: the held-out %3==1 benchmark slice
    // plays the target domain, its per-language models are trained
    // and PERSISTED in one pass (LmScore.save —
    // lang-partitioned artifact), and the gate scores the gated
    // corpus against the loaded artifact
    // (CurationStages.lmGated with the model path). The full persisted lifecycle
    // (train → save → load → score) runs inside the query; the oracle
    // re-derives the same deterministic models from the same slice
    // (save≡train is LmScoreSpec-pinned — the c9 pattern). Everything
    // downstream is c10's chain verbatim.
    "c12_target_lm_curation" -> ((s, dir) =>
      targetLmCuration(s, dir, Smoothing.AddHalf, "c12_lm")),

    // C14: the HOST-QUALITY prior composed into c10's chain — the
    // RefinedWeb/Common-Crawl "URL rules first" stage: d18's
    // canonicalizer extracts each gated doc's host, g1's fixed-point
    // PageRank ranks the host co-citation graph, and below-mean-rank
    // hosts drop BEFORE the content-heavy LM gate ever scores them
    // (cheapest signal runs earliest). Everything downstream is c10's
    // chain over the host-kept slice; ONE nested-CTE oracle replays
    // canonicalization, the rank recurrence, the integer-mean cut and
    // the whole chain after it.
    "c14_host_prior_curation" -> ((s, dir) => {
      import CurationStages._
      val all = Tables.documents(s, dir)
      val docs = synthesized(all)
      val hKept = hostPriorKept(gated(docs), all)
      val lmKept = lmGated(hKept, all.select(col("doc_id"), col("lang")))
      val kept = decontaminated(lmKept, benchSlice(all))
      quotaRollup(curated(kept, components(nearDupPairs(kept))))
    }),

    // C15: c10 with the gate's ESTIMATOR swapped for interpolated
    // KNESER-NEY (q11's per-language form) — the last fidelity gap
    // between this gate and the one CCNet runs (KenLM is modified KN):
    // same chain, same thirds, same keep rule, but discounted mass
    // redistributes by continuation counts instead of add-½, so a
    // language whose crawl repeats bursty phrasing buckets it toward
    // the tail where add-½ rewards the raw counts. The kept set
    // genuinely differs from c10's (spec-pinned); this oracle replays
    // the full KN-gated chain.
    "c15_kn_gated_curation" -> ((s, dir) => {
      import CurationStages._
      val all = Tables.documents(s, dir)
      val docs = synthesized(all)
      val lmKept = lmGated(gated(docs), all.select(col("doc_id"), col("lang")),
        Smoothing.Kn)
      val kept = decontaminated(lmKept, benchSlice(all))
      quotaRollup(curated(kept, components(nearDupPairs(kept))))
    }),

    // C17: c12's target-domain stance with c15's estimator — the
    // configuration CCNet actually runs (its per-language target
    // models ARE KenLM, i.e. Kneser-Ney): per-language KN models
    // trained on the held-out %3==1 target slice, PERSISTED
    // (LmScore.save, KN spec — lang-partitioned artifact), the gate
    // scoring the gated corpus against the loaded artifact. The full
    // persisted lifecycle runs inside the query; the oracle re-derives
    // the same deterministic models from the same slice (save≡train is
    // LmScoreSpec-pinned). Everything downstream is c10's chain.
    "c17_target_kn_curation" -> ((s, dir) =>
      targetLmCuration(s, dir, Smoothing.Kn, "c17_knlm")),

    // C19: c17 under the MODIFIED-KN estimator — the configuration a
    // stock KenLM build hands CCNet (lmplz estimates modified KN by
    // default; c17's interpolated-KN is its --interpolate_unigrams
    // simplification at one discount). Per-language MKN models trained
    // on the held-out %3==1 target slice, PERSISTED
    // (LmScore.save, modified-KN spec — each language's own count-of-count
    // spectrum sets its D1/D2/D3+, or falls back to 0.5/1/1.5
    // independently; at gate SFs the synthetic corpus's degenerate
    // spectra make the FALLBACK arm the oracle-exercised path, exactly
    // q13's documented stance), the gate scoring the gated corpus
    // against the loaded artifact. Everything downstream is c10's
    // chain; the oracle re-derives the same deterministic models from
    // the same slice (save≡train is LmScoreSpec-pinned).
    "c19_target_mkn_curation" -> ((s, dir) =>
      targetLmCuration(s, dir, Smoothing.Mkn, "c19_mknlm")),

    // C18: the m6 PERCEPTUAL image verdict composed into c10's chain —
    // the LAION-shaped stage: each doc under curation carries one
    // synthetic PNG (media_id = doc_id div 3, so consecutive cohort
    // docs carry brightness-twin rasters), m6's decode→dHash→band→
    // verify→components chain clusters the rasters, the d9 min-id
    // survivor keeps one canonical per cluster, and docs whose media
    // is a NON-canonical dup member drop between the rule gate and the
    // LM gate. Everything downstream is c10's chain over the
    // image-kept slice; ONE nested-CTE oracle replays the pixel
    // formula, the popcount pairs (banding invisible by pigeonhole),
    // the reachability fixpoint, the min-id survivor drop, and the
    // whole chain after it.
    "c18_image_dedup_curation" -> ((s, dir) => {
      import CurationStages._
      val all = Tables.documents(s, dir)
      val docs = synthesized(all)
      val imgKept = imageDedupKept(gated(docs))
      val lmKept = lmGated(imgKept, all.select(col("doc_id"), col("lang")))
      val kept = decontaminated(lmKept, benchSlice(all))
      quotaRollup(curated(kept, components(nearDupPairs(kept))))
    }),

    // C13: the CCNet FRONT HALF composed into curation — c10's chain
    // with the language key PREDICTED by the trained classifier (q8's
    // LangId, trained on the held-out %3==1 labeled slice) instead of
    // read from the table: langid → per-language LM gate → decon →
    // LSH/components → splits → quota, the order the real pipeline
    // runs when crawl documents arrive unlabeled. Prediction is
    // per-doc under a frozen model, so scoring over the gated slice
    // is exactly what the gate consumes; docs too short to carry one
    // trigram have no prediction and drop at the gate's lang join
    // (none at the gate SFs — the corpus has no sub-3-char texts).
    "c13_langid_curation" -> ((s, dir) => {
      import CurationStages._
      val all = Tables.documents(s, dir)
      val docs = synthesized(all)
      val labeled = all.where(pmod(col("doc_id"), lit(3)) === 1)
        .select(col("lang"), col("text"))
      val g = gated(docs)
      val pred = graft.operators.LangId.trainPredict(labeled,
        g.select(col("doc_id"), col("text")))
      val lmKept = lmGated(g,
        pred.select(col("doc_id"), col("pred_lang").as("lang")))
      val kept = decontaminated(lmKept, benchSlice(all))
      quotaRollup(curated(kept, components(nearDupPairs(kept))))
    }),

    // C20: c13 with the classifier PERSISTED — the fastText stance
    // ("train once, classify every batch"): the %3==1 labeled slice
    // trains the model which lands on disk (LangId.saveLangId —
    // lang-partitioned deltas + a const table carrying the bucket
    // modulus, so a probe can never mis-bucket), and the chain scores
    // the gated corpus against the LOADED artifact. Everything
    // downstream is c13's chain; the oracle re-derives the same
    // deterministic model from the same slice (save≡train is
    // LangIdSpec-pinned, the c12/c17/c19 pattern).
    "c20_target_langid_curation" -> ((s, dir) => {
      import CurationStages._
      val all = Tables.documents(s, dir)
      val docs = synthesized(all)
      val labeled = all.where(pmod(col("doc_id"), lit(3)) === 1)
        .select(col("lang"), col("text"))
      val g = gated(docs)
      DedupQueries.withIndexScratch(s, "c20_lid") { path =>
        graft.operators.LangId.saveLangId(labeled, path)
        val pred = graft.operators.LangId.predictAgainstLangId(
          g.select(col("doc_id"), col("text")), s, path)
        val lmKept = lmGated(g,
          pred.select(col("doc_id"), col("pred_lang").as("lang")))
        val kept = decontaminated(lmKept, benchSlice(all))
        quotaRollup(curated(kept, components(nearDupPairs(kept))))
      }
    }),

    // C3: curation pipeline v2 — the round-6 operators composed in the
    // order a real corpus build runs them: cheap map-side source
    // rebalancing FIRST (s17), exact span surgery on the survivors
    // (d11), then fill a token budget best-diversity-first with the
    // distributed cumsum (s16), rolled up per source. One declared
    // query so the oracle checks the COMPOSITION, not just the parts.
    "c3_curation_v2" -> ((s, dir) => {
      import graft.operators.{Dedup, Ranking, Sampling}
      val docs = Tables.documents(s, dir)
      val key = concat(col("doc_id").cast("string"), lit("/"), col("source"))
      // localCheckpoint: the mixed frame is consumed three times (gram
      // subtree, reconstruction side, final source join) — without the
      // cut each consumer re-scans parquet and re-hashes every key.
      // Same pattern as c2's components leaf; the per-query scrub in
      // Bench/Verify reclaims the blocks.
      val mixed = Sampling.temperatureMix(docs, "source", key, targetDenom = 4L)
        .localCheckpoint()
      val cleaned = Dedup.duplicatedSpanRemoval(mixed, k = 13)
        .where(col("clean_text") =!= "")
      val t = TF.wsTokens(col("clean_text"))
      val scored = cleaned.select(col("doc_id"),
          size(t).cast("long").as("n_tokens"),
          (size(array_distinct(t)).cast("double") / size(t)).as("diversity"))
        .where(col("n_tokens") > 0)
      val sel = Ranking.cumsumExact(scored,
          Seq(desc("diversity"), col("doc_id")), col("n_tokens"), "cum_tokens")
        .where(col("cum_tokens") <= 4000)
      sel.join(mixed.select(col("doc_id"), col("source")), Seq("doc_id"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("tokens"))
        .orderBy(col("source"))
    }),

    // C4: round-7 ops composed in production order — JSONL ingest
    // (real from_json parse), CCNet line-dedup surgery over the PARSED
    // corpus, then the dataset-card quantile profile of cleaned word
    // counts per source. One nested-CTE oracle checks the whole chain.
    "c4_ingest_curation" -> ((s, dir) => {
      import graft.sources.JsonIngest
      import graft.operators.{Dedup, Quality}
      val parsed = JsonIngest.parseDocs(
        JsonIngest.toJsonLines(Tables.documents(s, dir)))
      val cleaned = Dedup.lineDedupClean(
        parsed.select(col("doc_id"), col("text")), segWords = 8, maxDf = 1)
      val withWords = cleaned
        .join(parsed.select(col("doc_id"), col("source")), Seq("doc_id"))
        .withColumn("n_words", when(col("clean_text") === "", lit(0L))
          .otherwise(size(split(col("clean_text"), " ")).cast("long")))
      val prof = Quality.quantileProfile(withWords, "n_words", Seq("source"),
        Seq("p50_words" -> 0.5, "p95_words" -> 0.95))
      val removed = withWords.groupBy(col("source"))
        .agg(sum(col("n_removed")).as("segs_removed"))
      prof.join(removed, Seq("source"))
        .select(col("source"), col("n").as("n_docs"), col("segs_removed"),
          col("p50_words"), col("p95_words"))
        .orderBy(col("source"))
    }),

    // S14: split-leakage audit — hash-assigned train/val/test splits,
    // then count content-identical pairs straddling split boundaries
    // (the held-out contamination check). Dups are synthesized (s10
    // pattern: shifted-id copies of every 13th doc) since the corpus
    // itself is exact-dup-free at sf0.01.
    "s14_split_leakage" -> ((s, dir) => {
      import graft.functions.PolyHash64
      val base = Tables.documents(s, dir)
      val extended = base.unionByName(
        base.where(pmod(col("doc_id"), lit(13)) === 0)
          .withColumn("doc_id", col("doc_id") + 1000000))
      val bucket = PolyHash64.polyHash64(
        concat(col("doc_id").cast("string"), lit("/"), col("source"))) % 10
      val split = when(bucket < 8, "train")
        .when(bucket === 8, "val").otherwise("test")
      graft.operators.Quality.splitLeakage(extended, split, md5(col("text")))
    }),

    // S7: sequence packing — greedy contiguous fill of documents into
    // fixed token budgets (a doc's pack = its starting offset's budget
    // slot, so packs stay ≤ budget + one overflowing doc, the standard
    // streaming pack). Packing is inherently an ordered scan: the global
    // cumsum window is single-partition by nature; at scale you shard
    // first (pack within shard) — that form is s15_sharded_packing;
    // this global-order variant stays as the one-shard ground truth.
    "s7_token_packing" -> ((s, dir) => {
      import graft.functions.{TextFunctions => TF}
      val w = Window.orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.documents(s, dir)
        .select(col("doc_id"), TF.tokenCount(col("text")).cast("long").as("tok"))
        .withColumn("cum", sum(col("tok")).over(w))
        .withColumn("pack", expr("(cum - tok) div 2000"))
        .groupBy(col("pack"))
        .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("tokens"))
        .orderBy(col("pack"))
    }),

    // S15: SHARDED sequence packing — the scale-safe form of s7. Docs are
    // hash-sharded (pmod(doc_id, 8)); each shard packs independently under
    // its own token budget with a PARTITIONED cumulative-sum window, so no
    // task ever scans more than one shard's worth of docs. At 100 TB you
    // raise the shard count with the data; pack ids are (shard, pack)
    // pairs so shards never collide. Slightly different pack boundaries
    // than the global-order s7 — by design: packing only needs ANY
    // deterministic grouping under the budget, not a global order.
    "s15_sharded_packing" -> ((s, dir) => {
      import graft.functions.{TextFunctions => TF}
      val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.documents(s, dir)
        .select(col("doc_id"), TF.tokenCount(col("text")).cast("long").as("tok"))
        .withColumn("shard", pmod(col("doc_id"), lit(8)))
        .withColumn("cum", sum(col("tok")).over(w))
        .withColumn("pack", expr("(cum - tok) div 2000"))
        .groupBy(col("shard"), col("pack"))
        .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("tokens"))
        .orderBy(col("shard"), col("pack"))
    }),

    // S16: token-budget corpus selection — fill a fixed global token
    // budget with the highest-quality documents (lexical diversity as
    // the quality proxy): the "select the best 1T tokens" curation op.
    // The global running sum is EXACT but never single-partition —
    // Ranking.cumsumExact range-partitions on the quality order and
    // broadcasts per-range partial sums as offsets, the same scheme as
    // w5's distributed NTILE (SUM in place of COUNT).
    "s16_token_budget_selection" -> ((s, dir) => {
      import graft.functions.{TextFunctions => TF}
      import graft.operators.Ranking
      val t = TF.wsTokens(col("text"))
      val scored = Tables.documents(s, dir)
        .select(col("doc_id"), size(t).cast("long").as("n_tokens"),
          (size(array_distinct(t)).cast("double") / size(t)).as("diversity"))
        .where(col("n_tokens") > 0)
      Ranking.cumsumExact(scored, Seq(desc("diversity"), col("doc_id")),
          col("n_tokens"), "cum_tokens")
        .where(col("cum_tokens") <= 20000)
        .select(col("doc_id"), col("n_tokens"), col("cum_tokens"))
    }),

    // S24: BPE-TRUE token budgets — s16/c5's accounting defect fixed: a
    // trainer's context window is measured in TOKENIZER tokens, and
    // whitespace counting mis-sizes shards by the fertility ratio. The
    // query trains an 8-merge BPE vocabulary on the slice (Bpe.train —
    // the exact sequential greedy trainer), encodes the same slice with
    // it, and lays the docs into 512-token shards under BOTH counts via
    // the exact distributed cumsum; shard_ws vs shard_bpe diverging in
    // the oracle-checked output IS the mis-sizing, row by row. The SQL
    // twin re-learns the merges data-driven (per-round argmax CTEs) and
    // replays the greedy fold as a gaps-and-islands parity rule
    // (Bpe.trainEncodeSql); sym_fp pins the encoded CONTENT, not just
    // the counts.
    "s24_bpe_token_budget" -> ((s, dir) => {
      import graft.operators.{Bpe, Ranking}
      import graft.functions.PolyHash64
      val subset = Tables.documents(s, dir)
        .where(pmod(col("doc_id"), lit(25)) === 0)
        .select(col("doc_id"), col("text"))
      val (merges, syms) = Bpe.train(subset, nMerges = 8)
      syms.unpersist(blocking = false)
      val enc = Bpe.encode(subset, merges)
        .select(col("doc_id"),
          size(col("syms")).cast("long").as("n_tokens_bpe"),
          aggregate(transform(col("syms"), x => PolyHash64.polyHash64(x)),
            lit(0L), (a, v) => a + v).as("sym_fp"))
      val ws = subset.select(col("doc_id"),
        size(graft.functions.Registry.wsLowerTokens(col("text"))).cast("long").as("n_tokens_ws"))
      val both = ws.join(enc, "doc_id").where(col("n_tokens_ws") >= 1)
      val c1 = Ranking.cumsumExact(both, Seq(col("doc_id")),
        col("n_tokens_bpe"), "cum_bpe")
      val c2 = Ranking.cumsumExact(c1, Seq(col("doc_id")),
        col("n_tokens_ws"), "cum_ws")
      c2.select(col("doc_id"), col("n_tokens_ws"), col("n_tokens_bpe"),
          col("sym_fp"),
          expr("(cum_ws - n_tokens_ws) div 512").as("shard_ws"),
          expr("(cum_bpe - n_tokens_bpe) div 512").as("shard_bpe"))
        .orderBy(col("doc_id"))
    }),

    // C11: the BPE-TRUE shard materializer — s24 PROVED the whitespace
    // mis-sizing row by row; this is the production fix wired end to
    // end: train a vocabulary once on a SAMPLE slice (%25 — production
    // trains on a few hundred MB, never the corpus), FREEZE it as a
    // persisted artifact (Bpe.saveTokenizer), then encode a 5× larger
    // corpus slice under the loaded merges and lay 512-BPE-token
    // shards with the exact distributed cumsum — the shards a trainer
    // actually reads, sized in tokenizer tokens. Per BPE shard the
    // rollup carries the whitespace-rule shard span
    // (ws_shard_lo/hi ≠ shard id) so the boundary drift vs the
    // whitespace c5 rule is IN the oracle-checked output, and fp_sum
    // pins the encoded content per shard. The SQL twin re-learns the
    // same deterministic merges from the same train slice and applies
    // them to the encode slice (Bpe.trainEncodeSplitSql — DuckDB
    // cannot read the scratch artifact; save→load→encode ≡ in-memory
    // encode is BpeTokenizerSpec-pinned, the c9 pattern).
    "c11_bpe_true_shards" -> ((s, dir) => {
      import graft.operators.{Bpe, Ranking}
      import graft.functions.PolyHash64
      val docs = Tables.documents(s, dir)
      val trainSlice = docs.where(pmod(col("doc_id"), lit(25)) === 0)
        .select(col("doc_id"), col("text"))
      val encodeSlice = docs.where(pmod(col("doc_id"), lit(5)) === 0)
        .select(col("doc_id"), col("text"))
      DedupQueries.withIndexScratch(s, "c11_bpe") { path =>
        val (merges, syms) = Bpe.train(trainSlice, nMerges = 8)
        syms.unpersist(blocking = false)
        Bpe.saveTokenizer(s, merges, path)
        val frozen = Bpe.loadTokenizer(s, path)
        val enc = Bpe.encode(encodeSlice, frozen)
          .select(col("doc_id"),
            size(col("syms")).cast("long").as("n_tokens_bpe"),
            aggregate(transform(col("syms"), x => PolyHash64.polyHash64(x)),
              lit(0L), (a, v) => a + v).as("sym_fp"))
        val ws = encodeSlice.select(col("doc_id"),
          size(graft.functions.Registry.wsLowerTokens(col("text"))).cast("long").as("n_tokens_ws"))
        val both = ws.join(enc, "doc_id").where(col("n_tokens_ws") >= 1)
        val c1 = Ranking.cumsumExact(both, Seq(col("doc_id")),
          col("n_tokens_bpe"), "cum_bpe")
        val c2 = Ranking.cumsumExact(c1, Seq(col("doc_id")),
          col("n_tokens_ws"), "cum_ws")
        c2.select(col("doc_id"), col("n_tokens_bpe"), col("sym_fp"),
            expr("(cum_bpe - n_tokens_bpe) div 512").as("shard"),
            expr("(cum_ws - n_tokens_ws) div 512").as("shard_ws"))
          .groupBy(col("shard"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tokens_bpe")).as("tokens_bpe"),
            sum(col("sym_fp")).as("fp_sum"),
            min(col("shard_ws")).as("ws_shard_lo"),
            max(col("shard_ws")).as("ws_shard_hi"))
          .orderBy(col("shard"))
      }
    }),

    // S25: TOKENIZER FERTILITY by language — the standard tokenizer-QA
    // table every multilingual training run reads before committing to
    // a vocabulary: tokens-per-word under the frozen merges, per
    // language (a language the vocabulary serves poorly shows fertility
    // near 1.0 — no merges apply — and burns context window; the
    // sum-of-counts ratio is exact BIGINT/BIGINT in double). Same
    // train-on-sample / encode-corpus shape as c11; the oracle replays
    // the split chain and the ratio.
    "s25_tokenizer_fertility" -> ((s, dir) => {
      import graft.operators.Bpe
      val docs = Tables.documents(s, dir)
      val trainSlice = docs.where(pmod(col("doc_id"), lit(25)) === 0)
        .select(col("doc_id"), col("text"))
      val encodeSlice = docs.where(pmod(col("doc_id"), lit(5)) === 0)
      val (merges, syms) = Bpe.train(trainSlice, nMerges = 8)
      syms.unpersist(blocking = false)
      val enc = Bpe.encode(encodeSlice.select(col("doc_id"), col("text")),
          merges)
        .select(col("doc_id"), size(col("syms")).cast("long").as("n_bpe"))
      val ws = encodeSlice.select(col("doc_id"), col("lang"),
        size(graft.functions.Registry.wsLowerTokens(col("text"))).cast("long").as("n_ws"))
      ws.join(enc, "doc_id").where(col("n_ws") >= 1)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_ws")).as("ws_tokens"),
          sum(col("n_bpe")).as("bpe_tokens"),
          (sum(col("n_bpe")).cast("double") /
            sum(col("n_ws")).cast("double")).as("fertility"))
        .orderBy(col("lang"))
    }),

    // C16: BYTE-LEVEL BPE tokenizer lifecycle — the GPT-2/LLaMA-family
    // alphabet under the same freeze-once/encode-everywhere artifact
    // contract as c11: UTF-8 bytes as symbols (nothing is ever OOV;
    // non-Latin scripts pay their true multi-byte cost), merges
    // learned on the %50 sample WITHIN pre-token boundaries (each
    // whitespace token is its own sequence — a merge never spans
    // words), persisted (Bpe.saveTokenizer — the same merges/ artifact
    // format), reloaded, and applied distributed-map-side to the 5×
    // %10 slice. sym_fp pins the encoded byte-symbol CONTENT per doc.
    // The SQL twin re-learns the same deterministic merges from the
    // same train slice over per-(doc,word,side) window keys
    // (Bpe.trainEncodeBytesSplitSql; save→load→encode ≡ in-memory is
    // BpeTokenizerSpec-pinned, the c9/c11 pattern).
    "c16_byte_bpe_tokenizer" -> ((s, dir) => {
      import graft.operators.Bpe
      import graft.functions.PolyHash64
      val docs = Tables.documents(s, dir)
      val trainSlice = docs.where(pmod(col("doc_id"), lit(50)) === 0)
        .select(col("doc_id"), col("text"))
      val encodeSlice = docs.where(pmod(col("doc_id"), lit(10)) === 0)
        .select(col("doc_id"), col("text"))
      DedupQueries.withIndexScratch(s, "c16_bpe") { path =>
        Bpe.saveTokenizer(s, Bpe.trainBytesLocal(trainSlice, nMerges = 6),
          path)
        val frozen = Bpe.loadTokenizer(s, path)
        // zero-word docs have no byte stream — the twin's enc omits
        // them (no st0 rows), so the engine side drops them too
        Bpe.encodeBytes(encodeSlice, frozen)
          .where(size(col("syms")) >= 1)
          .select(col("doc_id"),
            size(col("syms")).cast("long").as("n_tokens_bpe"),
            aggregate(transform(col("syms"), x => PolyHash64.polyHash64(x)),
              lit(0L), (a, v) => a + v).as("sym_fp"))
          .orderBy(col("doc_id"))
      }
    }),

    // S26: tokenizer fertility under the BYTE-LEVEL vocabulary — the
    // s25 QA table re-read under c16's alphabet, the contrast row the
    // vocabulary-commit decision actually reads: word-symbol fertility
    // (s25) starts at 1.0 and only falls as merges land; byte-level
    // fertility starts at bytes-per-word (multi-byte scripts pay more)
    // and falls toward it — the two tables side by side expose which
    // languages a byte vocabulary actually serves.
    "s26_byte_fertility" -> ((s, dir) => {
      import graft.operators.Bpe
      val docs = Tables.documents(s, dir)
      val trainSlice = docs.where(pmod(col("doc_id"), lit(50)) === 0)
        .select(col("doc_id"), col("text"))
      val encodeSlice = docs.where(pmod(col("doc_id"), lit(10)) === 0)
      val merges = Bpe.trainBytesLocal(trainSlice, nMerges = 6)
      val enc = Bpe.encodeBytes(
          encodeSlice.select(col("doc_id"), col("text")), merges)
        .select(col("doc_id"), size(col("syms")).cast("long").as("n_bpe"))
      val ws = encodeSlice.select(col("doc_id"), col("lang"),
        size(graft.functions.Registry.wsLowerTokens(col("text"))).cast("long").as("n_ws"))
      ws.join(enc, "doc_id").where(col("n_ws") >= 1)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_ws")).as("ws_tokens"),
          sum(col("n_bpe")).as("bpe_tokens"),
          (sum(col("n_bpe")).cast("double") /
            sum(col("n_ws")).cast("double")).as("fertility"))
        .orderBy(col("lang"))
    }),

    // J3: one-to-many nested materialization (main.py:189,554-577) —
    // compared as a deterministic csv (list ordering is engine-defined)
    "j3_orders_per_customer_csv" -> ((s, dir) => {
      Tables.orders(s, dir)
        .groupBy(col("o_custkey"))
        .agg(array_join(transform(array_sort(collect_list(col("o_orderkey"))),
               x => x.cast("string")), ",").as("orders_csv"),
             count(lit(1)).as("n_orders"))
        .orderBy(col("o_custkey"))
    }),

    // J7: correlated-scalar-subquery sort key as groupBy+join
    // (main.py:135-148)
    "j7_first_ship_year" -> ((s, dir) => {
      val firstShip = Tables.lineitem(s, dir)
        .groupBy(col("l_orderkey"))
        .agg(min(col("l_shipdate")).as("first_ship"))
      Tables.orders(s, dir)
        .join(firstShip, col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderstatus"), year(col("first_ship")).as("ship_year"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("o_orderstatus"), col("ship_year"))
    }),

    // A6: distinct-set accumulation per bucket (main.py:264-307)
    "a6_distinct_custs_per_nation" -> ((s, dir) => {
      val c = Tables.customer(s, dir)
      val o = Tables.orders(s, dir)
      c.join(o, col("c_custkey") === col("o_custkey"))
        .groupBy(col("c_nationkey"))
        .agg(
          countDistinct(when(col("o_orderstatus") === "F", col("c_custkey"))).as("n_f"),
          countDistinct(when(col("o_orderstatus") === "O", col("c_custkey"))).as("n_o"),
          countDistinct(col("c_custkey")).as("n_total"))
        .orderBy(col("c_nationkey"))
    }),

    // A13: conditional accuracy-style aggregation (experiment_stats.py:31-35).
    // The per-line counts aggregate below the join (one row per orderkey
    // into the shuffle instead of one per line — at 100× the join input
    // shrinks by the avg lines-per-order factor); integer partial sums
    // re-aggregate exactly, so results are bit-identical to the
    // join-first formulation the oracle uses.
    "a13_return_rate_by_priority" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      val o  = Tables.orders(s, dir)
      val perOrder = li.groupBy(col("l_orderkey")).agg(
        sum(when(col("l_returnflag") === "R", 1).otherwise(0)).as("r"),
        count(lit(1)).as("n"))
      perOrder.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(
          sum(col("r")).as("n_returned"),
          sum(col("n")).as("n_lines"),
          (sum(col("r")).cast("double") / sum(col("n"))).as("return_rate"))
        .orderBy(col("o_orderpriority"))
    }),

    // A14: per-entity rollup, sorted + top-N (experiment_stats.py:163-222)
    "a14_part_rollup_top20" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      val o  = Tables.orders(s, dir)
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_partkey"))
        .agg(
          count(lit(1)).as("n_lines"),
          countDistinct(col("o_orderkey")).as("n_orders"),
          Num.sumExact(col("l_quantity")).as("total_qty"),
          Num.avgExact(col("l_extendedprice")).as("avg_price"))
        .orderBy(desc("total_qty"), col("l_partkey"))
        .limit(20)
    }),

    // A16: per-judge breakdown analog — per-supplier stats incl. exact
    // median (routers/judging.py:111-132; ref median is exact)
    "a16_supplier_breakdown" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .groupBy(col("l_suppkey"))
        .agg(
          count(lit(1)).as("n"),
          Num.avgExact(col("l_discount")).as("avg_disc"),
          median(col("l_quantity")).as("median_qty"))
        .orderBy(col("l_suppkey"))
    }),

    // O4: composite struct sort — (dim asc, measure desc) (main.py:308)
    "o4_nations_by_region_desc_custs" -> ((s, dir) => {
      val n = Tables.nation(s, dir)
      val r = Tables.region(s, dir)
      val c = Tables.customer(s, dir)
      c.groupBy(col("c_nationkey")).agg(count(lit(1)).as("n_custs"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .select(col("r_name"), col("n_name"), col("n_custs"))
        .orderBy(col("r_name"), desc("n_custs"), col("n_name"))
    }),

    // A21: bottom-k (KMV) sketch — custom typed Aggregator (the §2.9
    // UDAF surface): deterministic k-sample per group in content-hash
    // order, mergeable O(k) state. Exact output bytes → hash-matchable.
    "a21_bottomk_sample" -> ((s, dir) => {
      import graft.functions.PolyHash64
      val bk = udaf(new graft.operators.Sketches.BottomK(8))
      Tables.orders(s, dir)
        .select(col("o_orderstatus"), col("o_orderkey").cast("string").as("v"))
        .withColumn("h", PolyHash64.polyHash64(col("v")))
        .groupBy(col("o_orderstatus"))
        .agg(array_join(bk(col("h"), col("v")), ",").as("sample_csv"),
          count(lit(1)).as("n"))
        .orderBy(col("o_orderstatus"))
    }),

    // G1: fixed-point weighted PageRank over the nation trade graph
    // (customer's nation → supplier's nation, weight = lineitem
    // count) — the host-rank quality prior of web-corpus curation,
    // expressed as the generic Pregel-shaped operator; BIGINT
    // arithmetic end to end so 3 unrolled iterations hash-match the
    // recursive oracle (see operators.Graph)
    "g1_nation_pagerank" -> ((s, dir) => {
      val edges = Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir),
          col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .join(Tables.supplier(s, dir), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("c_nationkey").as("src"), col("s_nationkey").as("dst"))
        .agg(count(lit(1)).as("w"))
      graft.operators.Graph.pageRank(edges, iters = 3)
        .join(Tables.nation(s, dir), col("id") === col("n_nationkey"))
        .select(col("n_name"), col("rank_fp"))
        .orderBy(col("rank_fp").desc, col("n_name"))
    }),

    // A23: KMV distinct-count estimate next to the exact count — the
    // cardinality sketch whose output is plain numbers, so unlike HLL
    // it hash-matches an oracle that replays (k−1)/u_(k) on the same
    // portable hash. At 100 TB only k longs per group cross the wire.
    "a23_kmv_distinct" -> ((s, dir) => {
      import graft.functions.PolyHash64
      val k = 64
      val bk = udaf(new graft.operators.Sketches.BottomKLongs(k))
      Tables.orders(s, dir)
        .select(col("o_orderstatus"),
          PolyHash64.polyHash64(col("o_custkey").cast("string")).as("h"))
        .groupBy(col("o_orderstatus"))
        .agg(bk(col("h")).as("hs"), countDistinct(col("h")).as("n_exact"))
        .select(col("o_orderstatus"), col("n_exact"),
          // fewer than k distinct hashes → the sketch IS the set;
          // else (k−1)/u_(k), u = signed hash mapped to (0,1) — the
          // double tree must match the oracle's verbatim
          when(size(col("hs")) < k, size(col("hs")).cast("double"))
            .otherwise(lit((k - 1).toDouble) /
              (element_at(col("hs"), k).cast("double") /
                lit(18446744073709551616.0) + lit(0.5)))
            .as("kmv_estimate"))
        .orderBy(col("o_orderstatus"))
    }),

    // A24: sketch partials → rollup — the pre-aggregation pattern that
    // makes sketches pay at 100 TB: each shard folds its rows into an
    // O(k) KMV partial ONCE (here: 8 shards by order key), and any
    // later rollup merges partials (bottom-k of the union of bottom-ks
    // = bottom-k of the union — the KMV merge law) without ever
    // re-touching rows. The merge reuses the same Aggregator over the
    // exploded partials, so partial and rollup arithmetic cannot
    // diverge; exact global COUNT(DISTINCT) rides alongside as the
    // error witness. Same estimator double-tree as a23.
    "a24_sketch_rollup" -> ((s, dir) => {
      import graft.functions.PolyHash64
      val k = 64
      val bk = udaf(new graft.operators.Sketches.BottomKLongs(k))
      val hashed = Tables.orders(s, dir)
        .select(pmod(col("o_orderkey"), lit(8)).as("shard"),
          PolyHash64.polyHash64(col("o_custkey").cast("string")).as("h"))
      val partials = hashed.groupBy(col("shard")).agg(bk(col("h")).as("hs"))
      val merged = partials
        .select(col("shard"), explode(col("hs")).as("h"))
        .agg(countDistinct(col("shard")).as("n_shards"), bk(col("h")).as("hs"))
      merged
        .crossJoin(hashed.agg(countDistinct(col("h")).as("n_exact")))
        .select(col("n_shards"), col("n_exact"),
          when(size(col("hs")) < k, size(col("hs")).cast("double"))
            .otherwise(lit((k - 1).toDouble) /
              (element_at(col("hs"), k).cast("double") /
                lit(18446744073709551616.0) + lit(0.5)))
            .as("kmv_estimate"))
    }),

    // A25: grouped top-k WITHOUT a window sort — `row_number() OVER
    // (PARTITION BY g ORDER BY v DESC) <= k` shuffles and sorts every
    // row of every group; the bounded-heap Aggregator
    // (Ranking.TopKLongPairs) keeps k pairs per buffer, rides map-side
    // partial aggregation (k pairs per group per input partition cross
    // the wire, nothing is globally sorted), and its finished buffer IS
    // the ranked answer. Money ranked in exact cents (decimal → long)
    // so both engines compare identical integers.
    "a25_grouped_topk" -> ((s, dir) => {
      val topk = udaf(new graft.operators.Ranking.TopKLongPairs(3))
      Tables.orders(s, dir)
        .select(col("o_orderpriority"),
          (graft.functions.Num.dec(col("o_totalprice")) * 100)
            .cast("long").as("cents"),
          col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(topk(col("cents"), col("o_orderkey")).as("top"))
        .select(col("o_orderpriority"), posexplode(col("top")))
        .select(col("o_orderpriority"), (col("pos") + 1).cast("long").as("rnk"),
          col("col._2").as("o_orderkey"), col("col._1").as("cents"))
        .orderBy(col("o_orderpriority"), col("rnk"))
    }),

    // O6: keyset (cursor) pagination — OFFSET's at-scale replacement:
    // the composite (date, key) cursor predicate pushes to the scan and
    // the global TopK materializes only one page, where o3's OFFSET
    // must sort past every skipped row on every page request
    "o6_keyset_page" -> ((s, dir) => {
      Tables.orders(s, dir)
        .where(col("o_orderdate") < lit("1995-06-17").cast("timestamp_ntz") ||
          (col("o_orderdate") === lit("1995-06-17").cast("timestamp_ntz") &&
            col("o_orderkey") > 1000))
        .orderBy(desc("o_orderdate"), col("o_orderkey"))
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .limit(50)
    }),

    // U1: union + distinct count (main.py:293)
    "u1_union_distinct_custs" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      val c = Tables.customer(s, dir)
      val building = c.where(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
      val negative = c.where(col("c_acctbal") < 0).select(col("c_custkey"))
      building.union(negative).distinct().agg(count(lit(1)).as("n_custs"))
    }),

    // U4: INTERSECT / EXCEPT — the set-op family members u1/u2 leave
    // out: customers active in both 1995 and 1996 but gone by 1997
    // (retention-churn set algebra on distinct key sets)
    "u4_intersect_except" -> ((s, dir) => {
      def active(y: Int) = Tables.orders(s, dir)
        .where(year(col("o_orderdate")) === y)
        .select(col("o_custkey")).distinct()
      active(1995).intersect(active(1996)).except(active(1997))
        .agg(count(lit(1)).as("n_custs"))
    }),

    // U3: config-family membership (Dashboard.jsx:578-580)
    "u3_priority_family" -> ((s, dir) => {
      Tables.orders(s, dir)
        .withColumn("family",
          when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), "urgent_family")
            .otherwise("normal_family"))
        .groupBy(col("family")).agg(count(lit(1)).as("n"),
          Num.sumExact(col("o_totalprice")).as("total_price"))
        .orderBy(col("family"))
    }),

    // X3: gold index → letter (letter_extract.py:4-6)
    "x3_gold_to_letter" -> ((s, dir) => {
      Tables.part(s, dir)
        .withColumn("letter", TF.goldToLetter(pmod(col("p_size"), lit(26))))
        .groupBy(col("letter")).agg(count(lit(1)).as("n"))
        .orderBy(col("letter"))
    }),

    // X5: choices array → "A) …" block (generation.py:12-19)
    "x5_format_choices" -> ((s, dir) => {
      Tables.part(s, dir)
        .where(pmod(col("p_partkey"), lit(50)) === 0)
        .withColumn("choices", split(col("p_name"), " "))
        .select(col("p_partkey"), TF.formatChoices(col("choices")).as("block"))
        .orderBy(col("p_partkey"))
    }),

    // X6: prompt template substitution (generation.py:22-37)
    "x6_build_prompt" -> ((s, dir) => {
      Tables.part(s, dir)
        .where(pmod(col("p_partkey"), lit(50)) === 0)
        .select(col("p_partkey"),
          TF.buildPrompt(
            lit("You are taking an exam in {course_name}.\n\nQuestion: {question}\n\nAnswer:"),
            col("p_type"), col("p_name")).as("prompt"))
        .orderBy(col("p_partkey"))
    }),

    // X9/X10: rounding + percent formatting (experiment_stats.py:95;
    // main.py:385)
    "x10_percent_by_flag" -> ((s, dir) => {
      // the corpus total is the sum of the group counts — an empty
      // window frame keeps it in-plan (one job; no separate count()
      // action pre-scanning lineitem before the query even runs)
      val total = sum(col("n")).over(Window.partitionBy()).cast("double")
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"))
        .withColumn("pct", concat(round(col("n") * 100.0 / total).cast("int"), lit("%")))
        .withColumn("share", round(col("n") / total, 4))
        .orderBy(col("l_returnflag"))
    }),

    // F6/F7: prefix predicate on joined child rows (generation.py:24,93)
    "f6_promo_parts_by_brand" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      val p  = Tables.part(s, dir)
      li.join(broadcast(p.where(col("p_type").startsWith("PROMO"))),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand")).agg(count(lit(1)).as("n"))
        .orderBy(col("p_brand"))
    }),

    // F8: one-pass row partition (experiment_stats.py:32,38)
    "f8_split_counts" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .agg(
          sum(when(col("l_returnflag") === "N", 1).otherwise(0)).as("n_kept"),
          sum(when(col("l_returnflag") =!= "N", 1).otherwise(0)).as("n_returned_or_ack"))
    }),

    // Beyond the reference: ROLLUP subtotals (grouping-sets family)
    "a18_rollup_flag_status" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), Num.sumExact(col("l_quantity")).as("qty"))
        .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))
    }),

    // Z1: Morton/z-value arithmetic for two-dimensional data-skipping
    // layout — the interleave must be bit-exact across engines (the
    // layout benefit itself is asserted in ZOrderSpec; this oracles
    // the kernel the layout sorts by)
    "z1_zorder_values" -> ((s, dir) => {
      import graft.operators.ZOrder
      Tables.lineitem(s, dir)
        .where(pmod(col("l_orderkey"), lit(500)) === 0)
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          ZOrder.zValue(col("l_partkey"), col("l_suppkey")).as("z"))
        .orderBy(col("l_orderkey"), col("l_partkey"), col("l_suppkey"))
    }),

    // M1: multimodal binary-payload plumbing with an oracle — media
    // rows are (id, source, payload: binary, byte-level metadata); the
    // aggregate proves byte lengths, binary slicing and binary-key
    // distinct counting agree with DuckDB's BLOB semantics. (The codec
    // path over real payloads is operators.Multimodal + its spec; this
    // covers the relational side of the media table at scale: pure
    // map-side derivation + one small per-source aggregate.)
    "m1_binary_payloads" -> ((s, dir) => {
      val media = Tables.documents(s, dir)
        .select(col("doc_id").as("media_id"), col("source"),
          col("text").cast("binary").as("payload"),
          // tag = the first CHARACTER's UTF-8 bytes (not the first raw
          // byte: DuckDB cannot slice blobs, and slicing the string
          // before encoding keeps both engines byte-exact on
          // multi-byte leading characters)
          hex(encode(substring(col("text"), 1, 1), "UTF-8")).as("first_char"))
      media.groupBy(col("source"))
        .agg(count(lit(1)).as("n_media"),
          sum(length(col("payload"))).as("total_bytes"),
          max(length(col("payload"))).cast("long").as("max_bytes"),
          countDistinct(col("first_char")).as("n_first_chars"))
        .orderBy(col("source"))
    }),

    // M2: REAL compressed-image decode — deterministic synthetic PNGs
    // (pixel (x,y) of image id is a pure integer formula) go through an
    // actual ImageIO encode → deflate-compressed payload → ImageIO
    // decode, and the query emits geometry + a position-weighted pixel
    // checksum. The oracle never sees a PNG: it computes the same
    // checksum directly from the generating formula, so a hash match
    // proves the decode recovered every pixel at its position from the
    // compressed bytes. Pure map-side at any scale (decode is
    // mapPartitions; the only ordering is the result orderBy).
    "m2_png_decode" -> ((s, dir) => {
      import graft.operators.Multimodal
      val ids = Tables.documents(s, dir)
        .where(pmod(col("doc_id"), lit(50)) === 0)
        .select(col("doc_id").as("media_id"))
      Multimodal.pngDecodeStats(Multimodal.synthPngMedia(ids))
        .orderBy(col("media_id"))
    }),

    // M4: REAL image resize — ImageIO-decoded PNGs nearest-neighbor
    // resampled to a fixed 4×4 target with integer src mapping
    // (x·w div tw), position-weighted checksum of the RESIZED raster;
    // the oracle replays the resample rule from the pixel formula
    // without decoding anything. Different cohort than m2 so the two
    // share no subtree.
    "m4_image_resize" -> ((s, dir) => {
      import graft.operators.Multimodal
      val ids = Tables.documents(s, dir)
        .where(pmod(col("doc_id"), lit(47)) === 0)
        .select(col("doc_id").as("media_id"))
      Multimodal.pngResizeStats(Multimodal.synthPngMedia(ids), tw = 4, th = 4)
        .orderBy(col("media_id"))
    }),

    // M5: REAL frame sampling — house RAWV containers parsed
    // byte-for-byte, every 2nd frame kept up to 3, checksum weighted by
    // frame index so wrong frames/offsets can't pass; sampled-only
    // decode cost is the stride-sampling point at scale.
    "m5_frame_sample" -> ((s, dir) => {
      import graft.operators.Multimodal
      val ids = Tables.documents(s, dir)
        .where(pmod(col("doc_id"), lit(53)) === 0)
        .select(col("doc_id").as("media_id"))
      Multimodal.rawVideoFrameSample(
          Multimodal.synthRawVideoMedia(ids), stride = 2, maxFrames = 3)
        .orderBy(col("media_id"))
    }),

    // M6: PERCEPTUAL image near-dup — the LAION-style stage a 100 TB
    // image-text corpus needs: real PNG decode → m4's nearest-neighbor
    // resample to a 9×7 integer-luma grid → 56-bit dHash (one bit per
    // horizontal luma gradient) → Hamming-band candidate buckets (the
    // d3/d14 banding machinery, 4×14 bits — candidates never leave
    // their band bucket) → exact XOR-popcount verify (≤3) → d7
    // components. Payloads are planted brightness-shifted twins
    // (media 2k/2k+1 render base k at +0/+3 per channel, clamped):
    // a uniform shift preserves every strict gradient except where
    // clamping binds, so twins pair while distinct bases stay ~28 bits
    // apart. The oracle never decodes a PNG — it replays hash, bands,
    // verify and the reachability fixpoint from the generating pixel
    // formula, so a hash match proves the whole chain bit-for-bit.
    "m6_perceptual_near_dup" -> ((s, dir) => {
      import graft.operators.{Multimodal, Dedup}
      val ids = Tables.documents(s, dir)
        .where(pmod(col("doc_id"), lit(31)) === 0)
        .select(explode(array(col("doc_id") * 2,
          col("doc_id") * 2 + 1)).as("media_id"))
      val hashes = Multimodal.pngDHash(Multimodal.synthPngVariantMedia(ids))
      val pairs = Dedup.hammingNearDupPairs(hashes, "media_id", "dhash",
        bits = 56, maxDist = 3, bands = 4)
      val comps = Dedup.connectedComponents(
        pairs.select(col("id1"), col("id2")), assumeDistinctPairs = true)
      pairs.join(comps.withColumnRenamed("id", "id1"), "id1")
        .select(col("id1"), col("id2"), col("dist"), col("comp"))
        .orderBy(col("id1"), col("id2"))
    }),

    // M7: persisted Hamming-band index LIFECYCLE — the d14 "build once,
    // probe every batch" shape applied to m6's perceptual dHashes, run
    // end-to-end ON DISK: save the role-0 media corpus index, then for
    // three successive batches probe (DPP-pruned band scan, exact
    // XOR-popcount verify), append the survivors, and compact — the
    // nightly loop a LAION-scale image corpus runs. Roles come from
    // media_id % 4, which SPLITS each brightness-twin pair (media 2k /
    // 2k+1 render base k at +0/+3): even bases land in roles {0, 1}
    // (batch-1 dups against the initial corpus), odd bases in {2, 3}
    // (batch-3 dups against batch-2 SURVIVORS — the append is load-
    // bearing). Each probe materializes to parquet before its append
    // (the c6 barrier: a lazy probe evaluated after the append would
    // see its own batch). The banding/bucketing layout is invisible to
    // the result (pigeonhole: dist ≤ 3 < 4 bands guarantees a
    // colliding band; the verify is exact), so the oracle replays the
    // growing-corpus lifecycle as plain popcount ≤ 3 containment — the
    // d15 stance — over dHashes derived from the generating pixel
    // formula, with no PNG and no index.
    "m7_hamming_index_lifecycle" -> ((s, dir) => {
      import graft.operators.{Multimodal, Dedup}
      val ids = Tables.documents(s, dir)
        .where(pmod(col("doc_id"), lit(31)) === 0)
        .select(explode(array(col("doc_id") * 2,
          col("doc_id") * 2 + 1)).as("media_id"))
      // scope-bounded cache: the hash frame feeds the save, three
      // probes, and three appends — decode cost paid once
      val hashes = Multimodal.pngDHash(Multimodal.synthPngVariantMedia(ids))
        .cache()
      try DedupQueries.withIndexScratch(s, "m7_hidx") { idx =>
        Dedup.saveHammingIndex(
          hashes.where(pmod(col("media_id"), lit(4)) === 0),
          "media_id", "dhash", bits = 56, bands = 4, idx, nBucketParts = 16)
        val probes = (1 to 3).map { b =>
          val batch = hashes.where(pmod(col("media_id"), lit(4)) === b)
          Dedup.dedupAgainstHammingIndex(batch, "media_id", "dhash", idx,
              maxDist = 3)
            .write.mode("overwrite").parquet(s"$idx/probe_$b")
          val probed = s.read.parquet(s"$idx/probe_$b")
          Dedup.appendToHammingIndex(
            batch.join(probed.where(!col("is_dup")).select(col("media_id")),
              "media_id"), "media_id", "dhash", idx)
          Dedup.compactHammingBands(s, idx, maxFilesPerPart = 1)
          probed.withColumn("batch", lit(b))
        }
        probes.reduce(_ unionByName _)
          .select(col("batch"), col("media_id"), col("n_matches"),
            col("match_id"), col("is_dup"))
          .orderBy(col("batch"), col("media_id"))
      } finally hashes.unpersist(blocking = false)
    }),

    // S18: JSONL corpus ingest round trip — docs serialize to JSON
    // lines in-engine, parse back through from_json with the explicit
    // nested schema, and the aggregate reads PARSED columns only; the
    // oracle computes the same numbers straight from the table, so a
    // parse defect cannot hash-match (see sources.JsonIngest)
    "s18_json_ingest" -> ((s, dir) => {
      import graft.sources.JsonIngest
      val parsed = JsonIngest.parseDocs(
        JsonIngest.toJsonLines(Tables.documents(s, dir)))
      parsed.groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"),
          sum(size(col("head_tokens")).cast("long")).as("head_token_count"),
          sum(length(col("text")).cast("long")).as("text_len_sum"))
        .orderBy(col("lang"), col("source"))
    }),

    // S20: seeded epoch shuffle — the deterministic global shuffle
    // that fixes a training run's data order: shuffle key = portable
    // hash of (epoch seed, doc id), position = exact distributed rank
    // (Ranking.globalRank — range partition + broadcast offsets, no
    // single-partition sort), shard = position div SHARD_SIZE. Seed
    // in, identical order out on any cluster/partitioning — the
    // reproducibility contract a 100 TB training job needs; re-keying
    // by epoch reshuffles without re-reading anything else.
    "s20_epoch_shuffle" -> ((s, dir) => {
      import graft.functions.PolyHash64
      val keyed = Tables.documents(s, dir).select(col("doc_id"),
        PolyHash64.polyHash64(
          concat(lit("epoch7|"), col("doc_id").cast("string"))).as("k"))
      graft.operators.Ranking
        .globalRank(keyed, Seq(col("k"), col("doc_id")), "pos")
        .select(col("doc_id"), col("pos"),
          expr("(pos - 1) div 128").as("shard"))
        .orderBy(col("pos"))
    }),

    // M3: real audio-container decode — synthesized RIFF/PCM WAV bytes
    // parsed back through javax.sound.sampled, stats in integer
    // arithmetic so the oracle recomputes them from the sample formula
    // without ever seeing a WAV
    "m3_wav_decode" -> ((s, dir) => {
      import graft.operators.Multimodal
      val ids = Tables.documents(s, dir)
        .where(pmod(col("doc_id"), lit(40)) === 0)
        .select(col("doc_id").as("media_id"))
      Multimodal.wavDecodeStats(Multimodal.synthWavMedia(ids))
        .orderBy(col("media_id"))
    }),

    // S11: incremental aggregate maintenance — the merged state of a
    // base refresh and a later delta batch must equal the full
    // recompute the oracle runs. Partials are count + decimal sum
    // (re-aggregatable exactly); the merge shuffles |keys| rows, not
    // |orders| rows — the property that makes daily refreshes at 100 TB
    // touch only the delta.
    "s11_incremental_agg" -> ((s, dir) => {
      import graft.operators.Cdc
      val o = Tables.orders(s, dir)
      def state(df: DataFrame) = df.groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), sum(Num.dec(col("o_totalprice"))).as("total"))
      val base  = state(o.where(year(col("o_orderdate")) <  1997))
      val delta = state(o.where(year(col("o_orderdate")) >= 1997))
      Cdc.mergeAggStates(base, delta, Seq("o_orderstatus"))
        .select(col("o_orderstatus"), col("n"),
          col("total").cast("double").as("total"))
        .orderBy(col("o_orderstatus"))
    }),

    // S12: CDC changelog apply (set-based upsert/delete compaction) —
    // a synthetic I/U/D log over orders is compacted latest-wins; the
    // oracle states the expected FINAL state directly (deletes gone,
    // updates applied), independent of the window mechanics.
    "s12_cdc_apply" -> ((s, dir) => {
      import graft.operators.Cdc
      val o = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_orderstatus"),
          Num.dec(col("o_totalprice")).as("price"))
      val inserts = o
        .select(col("o_orderkey"), lit(1L).as("seq"), lit("I").as("op"),
          col("o_orderstatus"), col("price"))
      val updates = o.where(pmod(col("o_orderkey"), lit(5)) === 0)
        .select(col("o_orderkey"), lit(2L).as("seq"), lit("U").as("op"),
          col("o_orderstatus"),
          // cast back so all three log branches union with one schema
          (col("price") + lit(1000)).cast("decimal(18,2)").as("price"))
      val deletes = o.where(pmod(col("o_orderkey"), lit(7)) === 0)
        .select(col("o_orderkey"), lit(3L).as("seq"), lit("D").as("op"),
          col("o_orderstatus"), col("price"))
      Cdc.applyChangelog(inserts.unionByName(updates).unionByName(deletes),
          key = "o_orderkey", seq = "seq")
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          sum(col("price")).cast("double").as("total_price"))
        .orderBy(col("o_orderstatus"))
    }),

    // A20: unpivot (wide → long, a4's inverse) — pivot then unpivot
    // round-trips to the plain long-form GROUP BY the oracle runs
    "a20_unpivot_year_status" -> ((s, dir) => {
      val wide = Tables.orders(s, dir)
        .withColumn("o_year", year(col("o_orderdate")))
        .groupBy(col("o_year"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .na.fill(0, Seq("F", "O", "P"))
      wide.unpivot(Array(col("o_year")), Array(col("F"), col("O"), col("P")),
          "o_orderstatus", "n")
        .where(col("n") > 0)
        .orderBy(col("o_year"), col("o_orderstatus"))
    }),

    // Q1: declarative data-quality report (Deequ-style) — one shared
    // check list drives both engines; see operators.Quality
    "q1_dq_report" -> ((s, dir) => {
      graft.operators.Quality.report(Tables.orders(s, dir), DqChecks,
        parents = Map("customer" -> Tables.customer(s, dir)))
    }),

    // Q4: cross-snapshot drift report — the promotion gate between
    // dataset versions (q1 audits one snapshot against static rules;
    // this audits the NEW snapshot against the previous one). Injected
    // drift: the new snapshot drops every 11th order, adds 50000.00 to
    // 'F'-status totals (an upstream money-unit bug) (exact decimal add — no rounding-mode hazard),
    // and nulls o_custkey for every 7th order key; the report must
    // flag o_totalprice's mean shift and surface the null-count jump.
    "q4_drift_report" -> ((s, dir) => {
      import graft.functions.Num
      val orders = Tables.orders(s, dir)
      val oldSnap = orders.where(pmod(col("o_orderkey"), lit(5)) =!= 4)
      val newSnap = orders.where(pmod(col("o_orderkey"), lit(11)) =!= 3)
        .withColumn("o_totalprice",
          when(col("o_orderstatus") === "F",
            (Num.dec(col("o_totalprice")) +
              lit(java.math.BigDecimal.valueOf(50000))).cast("double"))
            .otherwise(col("o_totalprice")))
        .withColumn("o_custkey",
          when(pmod(col("o_orderkey"), lit(7)) === 0, lit(null).cast("bigint"))
            .otherwise(col("o_custkey")))
      graft.operators.Quality.driftReport(oldSnap, newSnap,
        Seq("o_totalprice", "o_custkey", "o_orderkey"))
    }),

    // Q2: robust per-group outlier screen — modified z-score on exact
    // histogram-median/MAD (scale-safe exact median for integral
    // domains; see Quality.robustOutliers)
    "q2_robust_outliers" -> ((s, dir) =>
      graft.operators.Quality.robustOutliers(
          Tables.documents(s, dir).select(
            col("doc_id"), col("lang"), col("source"), col("n_chars")),
          valueCol = "n_chars", groupCols = Seq("lang", "source"),
          zThreshold = 2.5)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
          col("med"), col("mad"), col("z"))
        .orderBy(col("doc_id"))),

    // Q3: exact per-group quantile profile — the dataset-card p25/50/
    // 75/95 table, read off a (group, value, cnt) histogram's
    // cumulative counts; interpolation replays DuckDB quantile_cont
    // bit for bit (see Quality.quantileProfile)
    "q3_quantile_profile" -> ((s, dir) =>
      graft.operators.Quality.quantileProfile(
          Tables.orders(s, dir), valueCol = "o_totalprice",
          groupCols = Seq("o_orderpriority"),
          qs = Seq("p25" -> 0.25, "p50" -> 0.5, "p75" -> 0.75, "p95" -> 0.95))
        .orderBy(col("o_orderpriority"))),

    // A22: per-group argmax (majority vote) — the self-consistency
    // "modal answer per question" shape (reference: most frequent
    // extracted letter across n_answers runs), with a deterministic
    // tiebreak so engines can't disagree on equal counts
    "a22_majority_flag" -> ((s, dir) => {
      val counts = Tables.lineitem(s, dir)
        .where(pmod(col("l_orderkey"), lit(500)) === 0)
        .groupBy(col("l_orderkey"), col("l_returnflag"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(col("l_orderkey"))
        .orderBy(desc("n"), col("l_returnflag"))
      counts.withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select(col("l_orderkey"), col("l_returnflag").as("majority_flag"), col("n"))
        .orderBy(col("l_orderkey"))
    }),

    // Beyond the reference: CUBE over two dims with explicit grouping
    // flags (grouping-sets family, a18's rollup sibling). The flags are
    // spelled grouping(a)*2 + grouping(b) rather than grouping_id() so
    // the bit convention is pinned in the query, not in engine defaults.
    "a19_cube_status_priority" -> ((s, dir) => {
      Tables.orders(s, dir)
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg((grouping(col("o_orderstatus")) * 2 + grouping(col("o_orderpriority")))
               .cast("int").as("gid"),
          count(lit(1)).as("n"),
          Num.sumExact(col("o_totalprice")).as("total_price"))
        .orderBy(col("gid"),
          asc_nulls_first("o_orderstatus"), asc_nulls_first("o_orderpriority"))
    }),

    // J-family at scale: two-phase SALTED aggregation (operators.Skew) —
    // a hot supplier key is spread over 8 deterministic content-hash
    // salts in phase 1, then re-reduced exactly in phase 2. Integer/
    // decimal partials re-aggregate losslessly, so the result is
    // bit-identical to the plain one-phase oracle GROUP BY.
    "j9_salted_supplier_rollup" -> ((s, dir) => {
      import org.apache.spark.sql.Column
      graft.operators.Skew.saltedAggregate(
          Tables.lineitem(s, dir).select(col("l_suppkey"), col("l_quantity")),
          keys = Seq("l_suppkey"), salts = 8,
          partials = Seq(
            ("total_qty", sum(Num.dec(col("l_quantity"))),
              (c: Column) => sum(c).cast("double")),
            ("n_lines", count(lit(1)),
              (c: Column) => sum(c).cast("bigint"))))
        .orderBy(col("l_suppkey"))
    }),

    // Window: percent_rank + cume_dist — relative standing of each
    // customer inside its segment (both are pure rank arithmetic over
    // the per-partition sort; the custkey tiebreak pins tied balances)
    "w6_balance_standing" -> ((s, dir) => {
      val w = Window.partitionBy(col("c_mktsegment"))
        .orderBy(col("c_acctbal"), col("c_custkey"))
      Tables.customer(s, dir)
        .where(pmod(col("c_custkey"), lit(100)) === 0)
        .select(col("c_mktsegment"), col("c_custkey"),
          percent_rank().over(w).as("pct_rank"),
          cume_dist().over(w).as("cume"))
        .orderBy(col("c_mktsegment"), col("c_custkey"))
    }),

    // Window: running sum in event-time order (streaming-adjacent)
    "w1_running_customer_spend" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.orders(s, dir)
        .where(col("o_custkey") <= 50)
        .select(col("o_custkey"), col("o_orderkey"),
          sum(Num.dec(col("o_totalprice"))).over(w).cast("double").as("running_spend"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    }),

    // Window: lag delta — exact integer micros between consecutive
    // orders per customer (inter-arrival time analysis)
    "w3_order_gap" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      Tables.orders(s, dir)
        .where(pmod(col("o_custkey"), lit(100)) === 0)
        .select(col("o_custkey"), col("o_orderkey"),
          // o_orderdate is TIMESTAMP_NTZ; UTC session makes the cast a
          // pure reinterpretation, matching DuckDB's naive-as-UTC epoch
          (unix_micros(col("o_orderdate").cast("timestamp")) -
            lag(unix_micros(col("o_orderdate").cast("timestamp")), 1).over(w))
            .as("micros_since_prev"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    }),

    // Window: bounded sliding frame — decimal-exact 3-order moving spend
    "w4_moving_spend" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(-2, Window.currentRow)
      Tables.orders(s, dir)
        .where(pmod(col("o_custkey"), lit(100)) === 0)
        .select(col("o_custkey"), col("o_orderkey"),
          sum(Num.dec(col("o_totalprice"))).over(w).cast("double").as("moving_spend"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    }),

    // Window: ntile quartile assignment, computed distributed — NTILE over
    // a bare ORDER BY would funnel the whole per-customer spend frame
    // through one task (millions of rows at 100x this sf). Ranking
    // .ntileExact range-partitions on the sort key, ranks locally, and
    // applies the exact NTILE group-size formula, so the plan has no
    // single-partition Window while staying hash-identical to the NTILE
    // oracle. Per-quartile outputs are count/min/max (order-independent,
    // no float-sum hazard).
    "w5_spend_quartiles" -> ((s, dir) => {
      val spend = Tables.orders(s, dir)
        .groupBy(col("o_custkey"))
        .agg(Num.sumExact(col("o_totalprice")).as("spend"))
      graft.operators.Ranking.ntileExact(spend, 4,
          Seq(desc("spend"), col("o_custkey")), "quartile")
        .groupBy(col("quartile"))
        .agg(count(lit(1)).as("n_cust"),
          min(col("spend")).as("min_spend"),
          max(col("spend")).as("max_spend"))
        .orderBy(col("quartile"))
    }),

    // Window: value-based RANGE frame — trailing 7-DAY spend per
    // customer (w4's ROWS sibling: the frame is defined by the ORDER
    // key's VALUES, so gaps in the order history matter). Day numbers
    // are integer epoch-days; rangeBetween(-6, 0) = this day and the
    // six before it, whether or not orders exist on them.
    "w7_trailing_week_spend" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("day"))
        .rangeBetween(-6, Window.currentRow)
      Tables.orders(s, dir)
        .where(pmod(col("o_custkey"), lit(100)) === 0)
        .withColumn("day", datediff(col("o_orderdate").cast("date"),
          lit("1992-01-01").cast("date")))
        .select(col("o_custkey"), col("o_orderkey"), col("day"),
          sum(Num.dec(col("o_totalprice"))).over(w).cast("double").as("week_spend"))
        .orderBy(col("o_custkey"), col("day"), col("o_orderkey"))
    }),

    // Window: rank with deterministic tiebreak
    "w2_top2_orders_per_customer" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(desc("o_totalprice"), col("o_orderkey"))
      Tables.orders(s, dir)
        .withColumn("rnk", row_number().over(w))
        .where(col("rnk") <= 2)
        .select(col("o_custkey"), col("rnk"), col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_custkey"), col("rnk"))
    })
  )

  def oracles: Map[String, String] = Map(
    "s4_derived_isin_flag" ->
      """SELECT p_brand IN ('Brand#11','Brand#22','Brand#33') AS premium_brand,
        |       COUNT(*) AS n
        |FROM part GROUP BY 1 ORDER BY 1""".stripMargin,

    "s5_substring_cast" ->
      """SELECT CAST(substring(p_brand, 7, 2) AS INT) AS brand_num, COUNT(*) AS n
        |FROM part GROUP BY 1 ORDER BY 1""".stripMargin,

    "s8_epoch_mix" -> {
      val copies = graft.operators.Sampling.epochMixCopiesSql("source",
        "(CAST(doc_id AS VARCHAR) || '/' || source)", EpochWeights,
        defaultWeight = 1.0)
      s"""SELECT source, CAST(SUM(c) AS BIGINT) AS n_emitted,
         |       CAST(SUM(doc_id * c) AS BIGINT) AS id_weighted
         |FROM (SELECT source, doc_id, $copies AS c FROM documents) t
         |GROUP BY source HAVING SUM(c) > 0 ORDER BY source""".stripMargin
    },

    "s10_snapshot_diff" ->
      """WITH base AS (SELECT doc_id, text FROM documents),
        |next AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id % 17 = 0 THEN text || ' v2' ELSE text END AS text
        |  FROM base WHERE doc_id % 31 <> 0
        |  UNION ALL
        |  SELECT doc_id + 1000000, text FROM base WHERE doc_id % 41 = 0),
        |d AS (
        |  SELECT CASE WHEN a.doc_id IS NULL THEN 'added'
        |              WHEN b.doc_id IS NULL THEN 'removed'
        |              WHEN md5(a.text) IS DISTINCT FROM md5(b.text) THEN 'changed'
        |              ELSE 'unchanged' END AS status
        |  FROM base a FULL OUTER JOIN next b ON a.doc_id = b.doc_id)
        |SELECT status, COUNT(*) AS n FROM d GROUP BY status ORDER BY status""".stripMargin,

    "s9_token_chunks" -> {
      import graft.functions.PolyHash64
      val cte = graft.operators.TextAnalysis
        .chunkTokensCte(chunk = 64, overlap = 16, "WHERE doc_id % 25 = 0")
      s"""$cte
         |SELECT doc_id, chunk_idx,
         |       CAST(len(chunk) AS BIGINT) AS chunk_tokens,
         |       ${PolyHash64.sql("array_to_string(chunk, ' ')")} AS fp
         |FROM chunks ORDER BY doc_id, chunk_idx""".stripMargin
    },

    "c5_training_shards" -> {
      import graft.functions.PolyHash64
      val cte = graft.operators.TextAnalysis
        .chunkTokensCte(chunk = 64, overlap = 16, "WHERE doc_id % 5 = 0")
      s"""$cte,
         |ch AS (
         |  SELECT doc_id, chunk_idx,
         |         CAST(len(chunk) AS BIGINT) AS tok,
         |         ${PolyHash64.sql("array_to_string(chunk, ' ')")} AS fp,
         |         ${PolyHash64.sql(
                     "'e3|' || CAST(doc_id AS VARCHAR) || '|' || CAST(chunk_idx AS VARCHAR)")} AS k
         |  FROM chunks),
         |cum AS (
         |  SELECT doc_id, chunk_idx, tok, fp,
         |         SUM(tok) OVER (ORDER BY k, doc_id, chunk_idx
         |                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM ch)
         |SELECT CAST((cum - tok) // 2000 AS BIGINT) AS shard,
         |       COUNT(*) AS n_chunks,
         |       CAST(SUM(tok) AS BIGINT) AS tokens,
         |       CAST(SUM(fp) AS BIGINT) AS fp_sum
         |FROM cum GROUP BY 1 ORDER BY 1""".stripMargin
    },

    "s13_importance_sample" -> {
      val pred = graft.operators.Sampling.importanceSampleSql(
        "n_chars / 2000.0", "(CAST(doc_id AS VARCHAR) || '/' || source)")
      s"""SELECT lang, COUNT(*) AS n_kept,
         |       CAST(SUM(doc_id) AS BIGINT) AS id_checksum
         |FROM documents WHERE $pred
         |GROUP BY lang ORDER BY lang""".stripMargin
    },

    "s17_temperature_mix" -> {
      import graft.functions.PolyHash64
      import graft.operators.Sampling
      val ph = PolyHash64.sql("(CAST(d.doc_id AS VARCHAR) || '/' || d.source)")
      s"""WITH ${Sampling.temperatureMixRatesSql("documents", "source", 4L)}
         |SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_kept,
         |       CAST(SUM(d.doc_id) AS BIGINT) AS id_checksum
         |FROM documents d JOIN _tm_rates r ON r._tm_s = d.source
         |WHERE ($ph) % ${Sampling.Buckets} < r.cutoff
         |GROUP BY d.source ORDER BY d.source""".stripMargin
    },

    "c4_ingest_curation" ->
      """WITH w AS (
        |  SELECT doc_id, source, string_split(text, ' ') AS w
        |  FROM documents),
        |segs AS (
        |  SELECT w.doc_id, s.i AS seg_idx,
        |         array_to_string(w.w[(s.i - 1) * 8 + 1 : s.i * 8], ' ') AS seg
        |  FROM w, LATERAL (
        |    SELECT unnest(range(1,
        |      CAST(ceil(len(w.w) / 8.0) AS BIGINT) + 1)) AS i) s),
        |freq AS (
        |  SELECT seg FROM segs GROUP BY seg
        |  HAVING COUNT(DISTINCT doc_id) > 1),
        |fl AS (
        |  SELECT s.doc_id, s.seg_idx, s.seg, f.seg IS NOT NULL AS rm
        |  FROM segs s LEFT JOIN freq f ON s.seg = f.seg),
        |cln AS (
        |  SELECT doc_id,
        |         COALESCE(string_agg(CASE WHEN NOT rm THEN seg END,
        |                             ' ' ORDER BY seg_idx), '') AS clean_text,
        |         SUM(CASE WHEN rm THEN 1 ELSE 0 END) AS n_removed
        |  FROM fl GROUP BY doc_id),
        |wc AS (
        |  SELECT c.doc_id, w.source,
        |         CASE WHEN c.clean_text = '' THEN 0
        |              ELSE len(string_split(c.clean_text, ' ')) END AS n_words,
        |         c.n_removed
        |  FROM cln c JOIN w ON c.doc_id = w.doc_id)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |       CAST(SUM(n_removed) AS BIGINT) AS segs_removed,
        |       quantile_cont(CAST(n_words AS DOUBLE), 0.5) AS p50_words,
        |       quantile_cont(CAST(n_words AS DOUBLE), 0.95) AS p95_words
        |FROM wc GROUP BY source ORDER BY source""".stripMargin,

    "c3_curation_v2" -> {
      import graft.functions.PolyHash64
      import graft.operators.{Dedup, Sampling}
      val ph = PolyHash64.sql("(CAST(d.doc_id AS VARCHAR) || '/' || d.source)")
      val toks = TF.wsTokensSql("clean_text")
      s"""WITH ${Sampling.temperatureMixRatesSql("documents", "source", 4L)},
         |mixed AS (
         |  SELECT d.* FROM documents d JOIN _tm_rates r ON r._tm_s = d.source
         |  WHERE ($ph) % ${Sampling.Buckets} < r.cutoff),
         |sr AS (SELECT * FROM (
         |${Dedup.duplicatedSpanRemovalSql(k = 13, from = "mixed")}
         |)),
         |scored AS (
         |  SELECT doc_id, CAST(len($toks) AS BIGINT) AS n_tokens,
         |         CAST(len(list_distinct($toks)) AS DOUBLE) / len($toks)
         |           AS diversity
         |  FROM sr WHERE clean_text <> '' AND len($toks) > 0),
         |sel AS (
         |  SELECT doc_id, n_tokens,
         |         SUM(n_tokens) OVER (ORDER BY diversity DESC, doc_id
         |                             ROWS UNBOUNDED PRECEDING) AS cum_tokens
         |  FROM scored)
         |SELECT m.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |       CAST(SUM(sel.n_tokens) AS BIGINT) AS tokens
         |FROM sel JOIN mixed m USING (doc_id)
         |WHERE sel.cum_tokens <= 4000
         |GROUP BY m.source ORDER BY m.source""".stripMargin
    },

    "s14_split_leakage" -> {
      import graft.functions.PolyHash64
      val ph = PolyHash64.sql("(CAST(doc_id AS VARCHAR) || '/' || source)")
      val splitSql = s"(CASE WHEN ($ph) % 10 < 8 THEN 'train' " +
        s"WHEN ($ph) % 10 = 8 THEN 'val' ELSE 'test' END)"
      s"""WITH rows_x AS (
         |  SELECT doc_id, text, source FROM documents
         |  UNION ALL
         |  SELECT doc_id + 1000000, text, source FROM documents
         |  WHERE doc_id % 13 = 0),
         |${graft.operators.Quality.splitLeakageSql("rows_x", "md5(text)", splitSql)}""".stripMargin
    },

    // every stage replayed in one WITH chain: synthesis, the t14
    // signal gate, exact decon containment (doc_id-disjoint slices, so
    // gated+bench share one shingle pipeline), the nested LSH pair
    // query over the kept docs, the reachability fixpoint, the
    // hash-bucket splits, and the per-source QUALIFY quota. The
    // multiply-referenced CTEs are AS MATERIALIZED: DuckDB inlines
    // plain CTEs per reference, and the nested LSH query alone reads
    // `kept` several times — inlined, every read re-runs the whole
    // shingle+decon chain (measured >10 min vs 7 s at the gate SF)
    "c7_curation_pipeline" -> {
      import graft.operators.{Dedup, Sampling, TextAnalysis}
      val rep12 = "array_to_string(string_split(text, ' ')[1:12], ' ')"
      val sigSql = TextAnalysis.repetitionSignalsSql(
        topNs = Seq(2), dupNs = Seq(10), from = "corpus")
      val pairsSql = Dedup.minhashLshSql(k = 3, bands = 8, rowsPerBand = 4,
        threshold = 0.05, from = "kept")
      val splitSql = Sampling.componentSplitSql("COALESCE(cm.comp, kk.doc_id)")
      val capQualify = Sampling.groupCapSql("source", "doc_id",
        "(CAST(doc_id AS VARCHAR) || '/' || source)", cap = 5)
      // decon shingles: the SAME generated CTE chain as the d15/d8
      // oracles (Dedup.shingleCtesSql), over gated ∪ the benchmark
      // slice; the final dsh CTE is MATERIALIZED (read twice below)
      val dShingles = Dedup.shingleCtesSql(k = 8,
        from = "(SELECT doc_id, text FROM gated UNION ALL " +
          "SELECT doc_id, text FROM documents WHERE doc_id % 3 = 1)",
        prefix = "d", materializedSh = true)
      s"""WITH RECURSIVE corpus AS MATERIALIZED (
         |  SELECT doc_id, source, CASE WHEN doc_id % 30 = 0
         |    THEN text || ' ' || $rep12 || ' ' || $rep12 ELSE text END AS text
         |  FROM documents WHERE doc_id % 3 = 0),
         |sig AS (
         |$sigSql),
         |gated AS MATERIALIZED (
         |  SELECT c.* FROM corpus c JOIN sig ON sig.doc_id = c.doc_id
         |  WHERE sig.dup10_char_frac < 0.10),
         |$dShingles,
         |bhash AS (SELECT DISTINCT h FROM dsh WHERE doc_id % 3 = 1),
         |contaminated AS (
         |  SELECT doc_id FROM (
         |    SELECT b.doc_id,
         |           CAST(COUNT(c.h) AS DOUBLE) / COUNT(*) AS containment
         |    FROM (SELECT doc_id, h FROM dsh WHERE doc_id % 3 = 0) b
         |    LEFT JOIN bhash c ON c.h = b.h GROUP BY b.doc_id)
         |  WHERE containment >= 0.5),
         |kept AS MATERIALIZED (
         |  SELECT g.* FROM gated g
         |  WHERE g.doc_id NOT IN (SELECT doc_id FROM contaminated)),
         |pairs AS MATERIALIZED (
         |$pairsSql),
         |edges AS (SELECT id1 AS src, id2 AS dst FROM pairs
         |          UNION SELECT id2, id1 FROM pairs),
         |walk(id, comp) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e.src, w.comp FROM edges e JOIN walk w ON w.id = e.dst),
         |comps AS (SELECT id, MIN(comp) AS comp FROM walk GROUP BY id),
         |labeled AS (
         |  SELECT kk.doc_id, kk.source, kk.text, $splitSql AS split
         |  FROM kept kk LEFT JOIN comps cm ON cm.id = kk.doc_id),
         |capped AS (SELECT * FROM labeled $capQualify)
         |SELECT source, split, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |       CAST(SUM(LENGTH(text)) AS BIGINT) AS chars,
         |       CAST(SUM(doc_id) AS BIGINT) AS id_checksum
         |FROM capped GROUP BY source, split ORDER BY source, split""".stripMargin
    },

    // c7's chain with the CCNet bucket stage spliced between the rule
    // gate and decon: the q7 PER-LANGUAGE scoring CTEs run over
    // `gated` (+lang from documents), `lmkept` (head+middle) replaces
    // `gated` as the decon input, and everything downstream is c7's
    // oracle verbatim over lmkept.
    "c10_lm_gated_curation" -> {
      import graft.operators.{Dedup, Sampling, TextAnalysis, LmScore}
      val rep12 = "array_to_string(string_split(text, ' ')[1:12], ' ')"
      val sigSql = TextAnalysis.repetitionSignalsSql(
        topNs = Seq(2), dupNs = Seq(10), from = "corpus")
      val pairsSql = Dedup.minhashLshSql(k = 3, bands = 8, rowsPerBand = 4,
        threshold = 0.05, from = "kept")
      val splitSql = Sampling.componentSplitSql("COALESCE(cm.comp, kk.doc_id)")
      val capQualify = Sampling.groupCapSql("source", "doc_id",
        "(CAST(doc_id AS VARCHAR) || '/' || source)", cap = 5)
      val dShingles = Dedup.shingleCtesSql(k = 8,
        from = "(SELECT doc_id, text FROM lmkept UNION ALL " +
          "SELECT doc_id, text FROM documents WHERE doc_id % 3 = 1)",
        prefix = "d", materializedSh = true)
      s"""WITH RECURSIVE corpus AS MATERIALIZED (
         |  SELECT doc_id, source, CASE WHEN doc_id % 30 = 0
         |    THEN text || ' ' || $rep12 || ' ' || $rep12 ELSE text END AS text
         |  FROM documents WHERE doc_id % 3 = 0),
         |sig AS (
         |$sigSql),
         |gated AS MATERIALIZED (
         |  SELECT c.* FROM corpus c JOIN sig ON sig.doc_id = c.doc_id
         |  WHERE sig.dup10_char_frac < 0.10),
         |${LmScore.surprisalPerLangSql(
                "(SELECT g.doc_id, g.text, dd.lang FROM gated g " +
                  "JOIN documents dd ON dd.doc_id = g.doc_id) gl")},
         |scored_lang AS (
         |  SELECT doc_id, lang, surprisal FROM scored_pl),
         |bucketed AS (${LmScore.ccnetBucketsSql("scored_lang")}),
         |lmkept AS MATERIALIZED (
         |  SELECT g.* FROM gated g
         |  JOIN bucketed bk ON bk.doc_id = g.doc_id
         |  WHERE bk.bucket <> 'tail'),
         |$dShingles,
         |bhash AS (SELECT DISTINCT h FROM dsh WHERE doc_id % 3 = 1),
         |contaminated AS (
         |  SELECT doc_id FROM (
         |    SELECT b.doc_id,
         |           CAST(COUNT(c.h) AS DOUBLE) / COUNT(*) AS containment
         |    FROM (SELECT doc_id, h FROM dsh WHERE doc_id % 3 = 0) b
         |    LEFT JOIN bhash c ON c.h = b.h GROUP BY b.doc_id)
         |  WHERE containment >= 0.5),
         |kept AS MATERIALIZED (
         |  SELECT g.* FROM lmkept g
         |  WHERE g.doc_id NOT IN (SELECT doc_id FROM contaminated)),
         |pairs AS MATERIALIZED (
         |$pairsSql),
         |edges AS (SELECT id1 AS src, id2 AS dst FROM pairs
         |          UNION SELECT id2, id1 FROM pairs),
         |walk(id, comp) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e.src, w.comp FROM edges e JOIN walk w ON w.id = e.dst),
         |comps AS (SELECT id, MIN(comp) AS comp FROM walk GROUP BY id),
         |labeled AS (
         |  SELECT kk.doc_id, kk.source, kk.text, $splitSql AS split
         |  FROM kept kk LEFT JOIN comps cm ON cm.id = kk.doc_id),
         |capped AS (SELECT * FROM labeled $capQualify)
         |SELECT source, split, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |       CAST(SUM(LENGTH(text)) AS BIGINT) AS chars,
         |       CAST(SUM(doc_id) AS BIGINT) AS id_checksum
         |FROM capped GROUP BY source, split ORDER BY source, split""".stripMargin
    },

    // c10's oracle with the IMAGE-DEDUP block spliced between `gated`
    // and the LM stage: the m6 pixel formula at media_id = doc_id//3,
    // dHash reassembly via LEAD, plain popcount ≤ 3 pairs (banding
    // invisible by pigeonhole — dist ≤ 3 < 4 bands), the reachability
    // fixpoint, and the min-id survivor drop — then c10's text
    // verbatim over `imgkept`.
    "c18_image_dedup_curation" -> {
      import graft.operators.{Dedup, Sampling, TextAnalysis, LmScore}
      val rep12 = "array_to_string(string_split(text, ' ')[1:12], ' ')"
      val sigSql = TextAnalysis.repetitionSignalsSql(
        topNs = Seq(2), dupNs = Seq(10), from = "corpus")
      val pairsSql = Dedup.minhashLshSql(k = 3, bands = 8, rowsPerBand = 4,
        threshold = 0.05, from = "kept")
      val splitSql = Sampling.componentSplitSql("COALESCE(cm.comp, kk.doc_id)")
      val capQualify = Sampling.groupCapSql("source", "doc_id",
        "(CAST(doc_id AS VARCHAR) || '/' || source)", cap = 5)
      val dShingles = Dedup.shingleCtesSql(k = 8,
        from = "(SELECT doc_id, text FROM lmkept UNION ALL " +
          "SELECT doc_id, text FROM documents WHERE doc_id % 3 = 1)",
        prefix = "d", materializedSh = true)
      s"""WITH RECURSIVE corpus AS MATERIALIZED (
         |  SELECT doc_id, source, CASE WHEN doc_id % 30 = 0
         |    THEN text || ' ' || $rep12 || ' ' || $rep12 ELSE text END AS text
         |  FROM documents WHERE doc_id % 3 = 0),
         |sig AS (
         |$sigSql),
         |gated AS MATERIALIZED (
         |  SELECT c.* FROM corpus c JOIN sig ON sig.doc_id = c.doc_id
         |  WHERE sig.dup10_char_frac < 0.10),
         |img AS (
         |  SELECT media_id, media_id // 2 AS base, (media_id % 2) * 3 AS delta,
         |         8 + (media_id // 2) % 9 AS w, 8 + (media_id // 2) % 7 AS h
         |  FROM (SELECT doc_id // 3 AS media_id FROM gated)),
         |ig AS (
         |  SELECT media_id, gy.y AS y, gx.x AS x,
         |    299*LEAST((base*31 + 7)*(((x*w)//9) + 3)*(((y*h)//7) + 5) % 256 + delta, 255)
         |  + 587*LEAST((base*17 + 5)*(((x*w)//9) + 11)*(((y*h)//7) + 2) % 256 + delta, 255)
         |  + 114*LEAST((base*7 + 13)*(((x*w)//9) + 2)*(((y*h)//7) + 7) % 256 + delta, 255)
         |      AS luma
         |  FROM img, LATERAL (SELECT unnest(range(0, 9)) AS x) gx,
         |            LATERAL (SELECT unnest(range(0, 7)) AS y) gy),
         |ihs AS (
         |  SELECT media_id,
         |         CAST(SUM(CASE WHEN nl > luma
         |                       THEN (CAST(1 AS BIGINT) << CAST(y*8 + x AS INTEGER))
         |                       ELSE 0 END) AS BIGINT) AS dhash
         |  FROM (SELECT media_id, y, x, luma,
         |               lead(luma) OVER (PARTITION BY media_id, y ORDER BY x) AS nl
         |        FROM ig) z
         |  WHERE x < 8 GROUP BY media_id),
         |ipairs AS MATERIALIZED (
         |  SELECT a.media_id AS id1, b.media_id AS id2
         |  FROM ihs a JOIN ihs b
         |    ON a.media_id < b.media_id
         |   AND bit_count(xor(a.dhash, b.dhash)) <= 3),
         |iedges AS (SELECT id1 AS src, id2 AS dst FROM ipairs
         |           UNION SELECT id2, id1 FROM ipairs),
         |iwalk(id, comp) AS (
         |  SELECT src, src FROM iedges
         |  UNION
         |  SELECT e.src, w.comp FROM iedges e JOIN iwalk w ON w.id = e.dst),
         |icomps AS (SELECT id, MIN(comp) AS comp FROM iwalk GROUP BY id),
         |imgkept AS MATERIALIZED (
         |  SELECT g.* FROM gated g
         |  WHERE (g.doc_id // 3) NOT IN
         |        (SELECT id FROM icomps WHERE id <> comp)),
         |${LmScore.surprisalPerLangSql(
                "(SELECT g.doc_id, g.text, dd.lang FROM imgkept g " +
                  "JOIN documents dd ON dd.doc_id = g.doc_id) gl")},
         |scored_lang AS (
         |  SELECT doc_id, lang, surprisal FROM scored_pl),
         |bucketed AS (${LmScore.ccnetBucketsSql("scored_lang")}),
         |lmkept AS MATERIALIZED (
         |  SELECT g.* FROM imgkept g
         |  JOIN bucketed bk ON bk.doc_id = g.doc_id
         |  WHERE bk.bucket <> 'tail'),
         |$dShingles,
         |bhash AS (SELECT DISTINCT h FROM dsh WHERE doc_id % 3 = 1),
         |contaminated AS (
         |  SELECT doc_id FROM (
         |    SELECT b.doc_id,
         |           CAST(COUNT(c.h) AS DOUBLE) / COUNT(*) AS containment
         |    FROM (SELECT doc_id, h FROM dsh WHERE doc_id % 3 = 0) b
         |    LEFT JOIN bhash c ON c.h = b.h GROUP BY b.doc_id)
         |  WHERE containment >= 0.5),
         |kept AS MATERIALIZED (
         |  SELECT g.* FROM lmkept g
         |  WHERE g.doc_id NOT IN (SELECT doc_id FROM contaminated)),
         |pairs AS MATERIALIZED (
         |$pairsSql),
         |edges AS (SELECT id1 AS src, id2 AS dst FROM pairs
         |          UNION SELECT id2, id1 FROM pairs),
         |walk(id, comp) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e.src, w.comp FROM edges e JOIN walk w ON w.id = e.dst),
         |comps AS (SELECT id, MIN(comp) AS comp FROM walk GROUP BY id),
         |labeled AS (
         |  SELECT kk.doc_id, kk.source, kk.text, $splitSql AS split
         |  FROM kept kk LEFT JOIN comps cm ON cm.id = kk.doc_id),
         |capped AS (SELECT * FROM labeled $capQualify)
         |SELECT source, split, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |       CAST(SUM(LENGTH(text)) AS BIGINT) AS chars,
         |       CAST(SUM(doc_id) AS BIGINT) AS id_checksum
         |FROM capped GROUP BY source, split ORDER BY source, split""".stripMargin
    },

    // c10's oracle with the host-prior block spliced between `gated`
    // and the LM stage: messy-URL synthesis, the d18 canonical host,
    // the two-edges-per-doc co-citation graph, g1's integer PageRank
    // recurrence as a nested-WITH subquery, the integer-mean cut —
    // then c10's text verbatim over `hostkept`.
    "c14_host_prior_curation" -> {
      import graft.operators.{Dedup, Graph, Sampling, TextAnalysis, LmScore}
      val rep12 = "array_to_string(string_split(text, ' ')[1:12], ' ')"
      val sigSql = TextAnalysis.repetitionSignalsSql(
        topNs = Seq(2), dupNs = Seq(10), from = "corpus")
      val pairsSql = Dedup.minhashLshSql(k = 3, bands = 8, rowsPerBand = 4,
        threshold = 0.05, from = "kept")
      val splitSql = Sampling.componentSplitSql("COALESCE(cm.comp, kk.doc_id)")
      val capQualify = Sampling.groupCapSql("source", "doc_id",
        "(CAST(doc_id AS VARCHAR) || '/' || source)", cap = 5)
      val dShingles = Dedup.shingleCtesSql(k = 8,
        from = "(SELECT doc_id, text FROM lmkept UNION ALL " +
          "SELECT doc_id, text FROM documents WHERE doc_id % 3 = 1)",
        prefix = "d", materializedSh = true)
      s"""WITH RECURSIVE corpus AS MATERIALIZED (
         |  SELECT doc_id, source, CASE WHEN doc_id % 30 = 0
         |    THEN text || ' ' || $rep12 || ' ' || $rep12 ELSE text END AS text
         |  FROM documents WHERE doc_id % 3 = 0),
         |sig AS (
         |$sigSql),
         |gated AS MATERIALIZED (
         |  SELECT c.* FROM corpus c JOIN sig ON sig.doc_id = c.doc_id
         |  WHERE sig.dup10_char_frac < 0.10),
         |hurl AS (
         |  SELECT doc_id,
         |         (CASE WHEN doc_id % 4 = 0 THEN 'http://'
         |               WHEN doc_id % 4 = 1 THEN 'https://www.'
         |               WHEN doc_id % 4 = 2 THEN 'HTTPS://'
         |               ELSE 'https://WWW.' END)
         |         || 'H' || CAST(doc_id % 37 AS VARCHAR) || '.CoM/p/'
         |         || CAST(doc_id % 10 AS VARCHAR)
         |         || (CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END)
         |         || (CASE WHEN doc_id % 3 = 0 THEN '?utm_source=x&b=2&a=1'
         |                  WHEN doc_id % 3 = 1 THEN '?b=2&a=1'
         |                  ELSE '#frag' END) AS url
         |  FROM gated),
         |hh AS (SELECT doc_id, ${Dedup.urlHostSql("url")} AS host FROM hurl),
         |hedges AS (
         |  SELECT 'h' || CAST(doc_id % 37 AS VARCHAR) || '.com' AS src,
         |         'h' || CAST((doc_id % 37 * 3 + 1) % 37 AS VARCHAR)
         |           || '.com' AS dst
         |  FROM documents
         |  UNION ALL
         |  SELECT 'h' || CAST(doc_id % 37 AS VARCHAR) || '.com',
         |         'h' || CAST((doc_id % 37 * 5 + 2) % 37 AS VARCHAR) || '.com'
         |  FROM documents),
         |hew AS (SELECT src, dst, count(*) AS w FROM hedges GROUP BY 1, 2),
         |hrank AS (SELECT id, rank_fp
         |          FROM (${Graph.pageRankSql(
                       "SELECT src, dst, w FROM hew", iters = 3)}) pr),
         |havg AS (SELECT SUM(rank_fp) // COUNT(*) AS avg_fp FROM hrank),
         |hostkept AS MATERIALIZED (
         |  SELECT g.* FROM gated g
         |  JOIN hh ON hh.doc_id = g.doc_id
         |  JOIN hrank r ON r.id = hh.host
         |  CROSS JOIN havg
         |  WHERE r.rank_fp >= havg.avg_fp),
         |${LmScore.surprisalPerLangSql(
                "(SELECT g.doc_id, g.text, dd.lang FROM hostkept g " +
                  "JOIN documents dd ON dd.doc_id = g.doc_id) gl")},
         |scored_lang AS (
         |  SELECT doc_id, lang, surprisal FROM scored_pl),
         |bucketed AS (${LmScore.ccnetBucketsSql("scored_lang")}),
         |lmkept AS MATERIALIZED (
         |  SELECT g.* FROM hostkept g
         |  JOIN bucketed bk ON bk.doc_id = g.doc_id
         |  WHERE bk.bucket <> 'tail'),
         |$dShingles,
         |bhash AS (SELECT DISTINCT h FROM dsh WHERE doc_id % 3 = 1),
         |contaminated AS (
         |  SELECT doc_id FROM (
         |    SELECT b.doc_id,
         |           CAST(COUNT(c.h) AS DOUBLE) / COUNT(*) AS containment
         |    FROM (SELECT doc_id, h FROM dsh WHERE doc_id % 3 = 0) b
         |    LEFT JOIN bhash c ON c.h = b.h GROUP BY b.doc_id)
         |  WHERE containment >= 0.5),
         |kept AS MATERIALIZED (
         |  SELECT g.* FROM lmkept g
         |  WHERE g.doc_id NOT IN (SELECT doc_id FROM contaminated)),
         |pairs AS MATERIALIZED (
         |$pairsSql),
         |edges AS (SELECT id1 AS src, id2 AS dst FROM pairs
         |          UNION SELECT id2, id1 FROM pairs),
         |walk(id, comp) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e.src, w.comp FROM edges e JOIN walk w ON w.id = e.dst),
         |comps AS (SELECT id, MIN(comp) AS comp FROM walk GROUP BY id),
         |labeled AS (
         |  SELECT kk.doc_id, kk.source, kk.text, $splitSql AS split
         |  FROM kept kk LEFT JOIN comps cm ON cm.id = kk.doc_id),
         |capped AS (SELECT * FROM labeled $capQualify)
         |SELECT source, split, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |       CAST(SUM(LENGTH(text)) AS BIGINT) AS chars,
         |       CAST(SUM(doc_id) AS BIGINT) AS id_checksum
         |FROM capped GROUP BY source, split ORDER BY source, split""".stripMargin
    },

    // c15's oracle with the self-trained KN CTEs swapped for the
    // TRAIN/SCORE SPLIT form (models re-derived from the %3==1 target
    // slice — DuckDB cannot read the persisted artifact); downstream
    // is c10's text verbatim.
    "c17_target_kn_curation" -> {
      import graft.operators.{Dedup, Sampling, TextAnalysis, LmScore}
      val rep12 = "array_to_string(string_split(text, ' ')[1:12], ' ')"
      val sigSql = TextAnalysis.repetitionSignalsSql(
        topNs = Seq(2), dupNs = Seq(10), from = "corpus")
      val pairsSql = Dedup.minhashLshSql(k = 3, bands = 8, rowsPerBand = 4,
        threshold = 0.05, from = "kept")
      val splitSql = Sampling.componentSplitSql("COALESCE(cm.comp, kk.doc_id)")
      val capQualify = Sampling.groupCapSql("source", "doc_id",
        "(CAST(doc_id AS VARCHAR) || '/' || source)", cap = 5)
      val dShingles = Dedup.shingleCtesSql(k = 8,
        from = "(SELECT doc_id, text FROM lmkept UNION ALL " +
          "SELECT doc_id, text FROM documents WHERE doc_id % 3 = 1)",
        prefix = "d", materializedSh = true)
      s"""WITH RECURSIVE corpus AS MATERIALIZED (
         |  SELECT doc_id, source, CASE WHEN doc_id % 30 = 0
         |    THEN text || ' ' || $rep12 || ' ' || $rep12 ELSE text END AS text
         |  FROM documents WHERE doc_id % 3 = 0),
         |sig AS (
         |$sigSql),
         |gated AS MATERIALIZED (
         |  SELECT c.* FROM corpus c JOIN sig ON sig.doc_id = c.doc_id
         |  WHERE sig.dup10_char_frac < 0.10),
         |${LmScore.surprisalKnPerLangTrainScoreSql(
                "(SELECT doc_id, lang, text FROM documents " +
                  "WHERE doc_id % 3 = 1) tgt",
                "(SELECT g.doc_id, g.text, dd.lang FROM gated g " +
                  "JOIN documents dd ON dd.doc_id = g.doc_id) gl")},
         |scored_lang AS (
         |  SELECT doc_id, lang, surprisal FROM kscored_pl),
         |bucketed AS (${LmScore.ccnetBucketsSql("scored_lang")}),
         |lmkept AS MATERIALIZED (
         |  SELECT g.* FROM gated g
         |  JOIN bucketed bk ON bk.doc_id = g.doc_id
         |  WHERE bk.bucket <> 'tail'),
         |$dShingles,
         |bhash AS (SELECT DISTINCT h FROM dsh WHERE doc_id % 3 = 1),
         |contaminated AS (
         |  SELECT doc_id FROM (
         |    SELECT b.doc_id,
         |           CAST(COUNT(c.h) AS DOUBLE) / COUNT(*) AS containment
         |    FROM (SELECT doc_id, h FROM dsh WHERE doc_id % 3 = 0) b
         |    LEFT JOIN bhash c ON c.h = b.h GROUP BY b.doc_id)
         |  WHERE containment >= 0.5),
         |kept AS MATERIALIZED (
         |  SELECT g.* FROM lmkept g
         |  WHERE g.doc_id NOT IN (SELECT doc_id FROM contaminated)),
         |pairs AS MATERIALIZED (
         |$pairsSql),
         |edges AS (SELECT id1 AS src, id2 AS dst FROM pairs
         |          UNION SELECT id2, id1 FROM pairs),
         |walk(id, comp) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e.src, w.comp FROM edges e JOIN walk w ON w.id = e.dst),
         |comps AS (SELECT id, MIN(comp) AS comp FROM walk GROUP BY id),
         |labeled AS (
         |  SELECT kk.doc_id, kk.source, kk.text, $splitSql AS split
         |  FROM kept kk LEFT JOIN comps cm ON cm.id = kk.doc_id),
         |capped AS (SELECT * FROM labeled $capQualify)
         |SELECT source, split, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |       CAST(SUM(LENGTH(text)) AS BIGINT) AS chars,
         |       CAST(SUM(doc_id) AS BIGINT) AS id_checksum
         |FROM capped GROUP BY source, split ORDER BY source, split""".stripMargin
    },

    // c17's oracle with the per-language KN CTEs swapped for the
    // MODIFIED-KN ones (mscored_pl — per-language count-of-count
    // discounts with KenLM's 0.5/1/1.5 fallback); everything
    // downstream is c17's text verbatim.
    "c19_target_mkn_curation" -> {
      import graft.operators.{Dedup, Sampling, TextAnalysis, LmScore}
      val rep12 = "array_to_string(string_split(text, ' ')[1:12], ' ')"
      val sigSql = TextAnalysis.repetitionSignalsSql(
        topNs = Seq(2), dupNs = Seq(10), from = "corpus")
      val pairsSql = Dedup.minhashLshSql(k = 3, bands = 8, rowsPerBand = 4,
        threshold = 0.05, from = "kept")
      val splitSql = Sampling.componentSplitSql("COALESCE(cm.comp, kk.doc_id)")
      val capQualify = Sampling.groupCapSql("source", "doc_id",
        "(CAST(doc_id AS VARCHAR) || '/' || source)", cap = 5)
      val dShingles = Dedup.shingleCtesSql(k = 8,
        from = "(SELECT doc_id, text FROM lmkept UNION ALL " +
          "SELECT doc_id, text FROM documents WHERE doc_id % 3 = 1)",
        prefix = "d", materializedSh = true)
      s"""WITH RECURSIVE corpus AS MATERIALIZED (
         |  SELECT doc_id, source, CASE WHEN doc_id % 30 = 0
         |    THEN text || ' ' || $rep12 || ' ' || $rep12 ELSE text END AS text
         |  FROM documents WHERE doc_id % 3 = 0),
         |sig AS (
         |$sigSql),
         |gated AS MATERIALIZED (
         |  SELECT c.* FROM corpus c JOIN sig ON sig.doc_id = c.doc_id
         |  WHERE sig.dup10_char_frac < 0.10),
         |${LmScore.surprisalMknPerLangTrainScoreSql(
                "(SELECT doc_id, lang, text FROM documents " +
                  "WHERE doc_id % 3 = 1) tgt",
                "(SELECT g.doc_id, g.text, dd.lang FROM gated g " +
                  "JOIN documents dd ON dd.doc_id = g.doc_id) gl")},
         |scored_lang AS (
         |  SELECT doc_id, lang, surprisal FROM mscored_pl),
         |bucketed AS (${LmScore.ccnetBucketsSql("scored_lang")}),
         |lmkept AS MATERIALIZED (
         |  SELECT g.* FROM gated g
         |  JOIN bucketed bk ON bk.doc_id = g.doc_id
         |  WHERE bk.bucket <> 'tail'),
         |$dShingles,
         |bhash AS (SELECT DISTINCT h FROM dsh WHERE doc_id % 3 = 1),
         |contaminated AS (
         |  SELECT doc_id FROM (
         |    SELECT b.doc_id,
         |           CAST(COUNT(c.h) AS DOUBLE) / COUNT(*) AS containment
         |    FROM (SELECT doc_id, h FROM dsh WHERE doc_id % 3 = 0) b
         |    LEFT JOIN bhash c ON c.h = b.h GROUP BY b.doc_id)
         |  WHERE containment >= 0.5),
         |kept AS MATERIALIZED (
         |  SELECT g.* FROM lmkept g
         |  WHERE g.doc_id NOT IN (SELECT doc_id FROM contaminated)),
         |pairs AS MATERIALIZED (
         |$pairsSql),
         |edges AS (SELECT id1 AS src, id2 AS dst FROM pairs
         |          UNION SELECT id2, id1 FROM pairs),
         |walk(id, comp) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e.src, w.comp FROM edges e JOIN walk w ON w.id = e.dst),
         |comps AS (SELECT id, MIN(comp) AS comp FROM walk GROUP BY id),
         |labeled AS (
         |  SELECT kk.doc_id, kk.source, kk.text, $splitSql AS split
         |  FROM kept kk LEFT JOIN comps cm ON cm.id = kk.doc_id),
         |capped AS (SELECT * FROM labeled $capQualify)
         |SELECT source, split, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |       CAST(SUM(LENGTH(text)) AS BIGINT) AS chars,
         |       CAST(SUM(doc_id) AS BIGINT) AS id_checksum
         |FROM capped GROUP BY source, split ORDER BY source, split""".stripMargin
    },

    // c10's oracle with the scored_pl block swapped for the
    // per-language KNESER-NEY CTEs (kscored_pl); everything
    // downstream is c10's text verbatim.
    "c15_kn_gated_curation" -> {
      import graft.operators.{Dedup, Sampling, TextAnalysis, LmScore}
      val rep12 = "array_to_string(string_split(text, ' ')[1:12], ' ')"
      val sigSql = TextAnalysis.repetitionSignalsSql(
        topNs = Seq(2), dupNs = Seq(10), from = "corpus")
      val pairsSql = Dedup.minhashLshSql(k = 3, bands = 8, rowsPerBand = 4,
        threshold = 0.05, from = "kept")
      val splitSql = Sampling.componentSplitSql("COALESCE(cm.comp, kk.doc_id)")
      val capQualify = Sampling.groupCapSql("source", "doc_id",
        "(CAST(doc_id AS VARCHAR) || '/' || source)", cap = 5)
      val dShingles = Dedup.shingleCtesSql(k = 8,
        from = "(SELECT doc_id, text FROM lmkept UNION ALL " +
          "SELECT doc_id, text FROM documents WHERE doc_id % 3 = 1)",
        prefix = "d", materializedSh = true)
      s"""WITH RECURSIVE corpus AS MATERIALIZED (
         |  SELECT doc_id, source, CASE WHEN doc_id % 30 = 0
         |    THEN text || ' ' || $rep12 || ' ' || $rep12 ELSE text END AS text
         |  FROM documents WHERE doc_id % 3 = 0),
         |sig AS (
         |$sigSql),
         |gated AS MATERIALIZED (
         |  SELECT c.* FROM corpus c JOIN sig ON sig.doc_id = c.doc_id
         |  WHERE sig.dup10_char_frac < 0.10),
         |${LmScore.surprisalKnPerLangSql(
                "(SELECT g.doc_id, g.text, dd.lang FROM gated g " +
                  "JOIN documents dd ON dd.doc_id = g.doc_id) gl")},
         |scored_lang AS (
         |  SELECT doc_id, lang, surprisal FROM kscored_pl),
         |bucketed AS (${LmScore.ccnetBucketsSql("scored_lang")}),
         |lmkept AS MATERIALIZED (
         |  SELECT g.* FROM gated g
         |  JOIN bucketed bk ON bk.doc_id = g.doc_id
         |  WHERE bk.bucket <> 'tail'),
         |$dShingles,
         |bhash AS (SELECT DISTINCT h FROM dsh WHERE doc_id % 3 = 1),
         |contaminated AS (
         |  SELECT doc_id FROM (
         |    SELECT b.doc_id,
         |           CAST(COUNT(c.h) AS DOUBLE) / COUNT(*) AS containment
         |    FROM (SELECT doc_id, h FROM dsh WHERE doc_id % 3 = 0) b
         |    LEFT JOIN bhash c ON c.h = b.h GROUP BY b.doc_id)
         |  WHERE containment >= 0.5),
         |kept AS MATERIALIZED (
         |  SELECT g.* FROM lmkept g
         |  WHERE g.doc_id NOT IN (SELECT doc_id FROM contaminated)),
         |pairs AS MATERIALIZED (
         |$pairsSql),
         |edges AS (SELECT id1 AS src, id2 AS dst FROM pairs
         |          UNION SELECT id2, id1 FROM pairs),
         |walk(id, comp) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e.src, w.comp FROM edges e JOIN walk w ON w.id = e.dst),
         |comps AS (SELECT id, MIN(comp) AS comp FROM walk GROUP BY id),
         |labeled AS (
         |  SELECT kk.doc_id, kk.source, kk.text, $splitSql AS split
         |  FROM kept kk LEFT JOIN comps cm ON cm.id = kk.doc_id),
         |capped AS (SELECT * FROM labeled $capQualify)
         |SELECT source, split, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |       CAST(SUM(LENGTH(text)) AS BIGINT) AS chars,
         |       CAST(SUM(doc_id) AS BIGINT) AS id_checksum
         |FROM capped GROUP BY source, split ORDER BY source, split""".stripMargin
    },

    // c10's oracle with the scored_pl CTEs swapped for the
    // train/score SPLIT form: models re-derived from the %3==1 target
    // slice (DuckDB cannot read the persisted artifact), scored over
    // gated(+lang); everything downstream is c10's text verbatim.
    "c12_target_lm_curation" -> {
      import graft.operators.{Dedup, Sampling, TextAnalysis, LmScore}
      val rep12 = "array_to_string(string_split(text, ' ')[1:12], ' ')"
      val sigSql = TextAnalysis.repetitionSignalsSql(
        topNs = Seq(2), dupNs = Seq(10), from = "corpus")
      val pairsSql = Dedup.minhashLshSql(k = 3, bands = 8, rowsPerBand = 4,
        threshold = 0.05, from = "kept")
      val splitSql = Sampling.componentSplitSql("COALESCE(cm.comp, kk.doc_id)")
      val capQualify = Sampling.groupCapSql("source", "doc_id",
        "(CAST(doc_id AS VARCHAR) || '/' || source)", cap = 5)
      val dShingles = Dedup.shingleCtesSql(k = 8,
        from = "(SELECT doc_id, text FROM lmkept UNION ALL " +
          "SELECT doc_id, text FROM documents WHERE doc_id % 3 = 1)",
        prefix = "d", materializedSh = true)
      s"""WITH RECURSIVE corpus AS MATERIALIZED (
         |  SELECT doc_id, source, CASE WHEN doc_id % 30 = 0
         |    THEN text || ' ' || $rep12 || ' ' || $rep12 ELSE text END AS text
         |  FROM documents WHERE doc_id % 3 = 0),
         |sig AS (
         |$sigSql),
         |gated AS MATERIALIZED (
         |  SELECT c.* FROM corpus c JOIN sig ON sig.doc_id = c.doc_id
         |  WHERE sig.dup10_char_frac < 0.10),
         |${LmScore.surprisalPerLangTrainScoreSql(
                "(SELECT doc_id, lang, text FROM documents " +
                  "WHERE doc_id % 3 = 1) tgt",
                "(SELECT g.doc_id, g.text, dd.lang FROM gated g " +
                  "JOIN documents dd ON dd.doc_id = g.doc_id) gl")},
         |scored_lang AS (
         |  SELECT doc_id, lang, surprisal FROM scored_pl),
         |bucketed AS (${LmScore.ccnetBucketsSql("scored_lang")}),
         |lmkept AS MATERIALIZED (
         |  SELECT g.* FROM gated g
         |  JOIN bucketed bk ON bk.doc_id = g.doc_id
         |  WHERE bk.bucket <> 'tail'),
         |$dShingles,
         |bhash AS (SELECT DISTINCT h FROM dsh WHERE doc_id % 3 = 1),
         |contaminated AS (
         |  SELECT doc_id FROM (
         |    SELECT b.doc_id,
         |           CAST(COUNT(c.h) AS DOUBLE) / COUNT(*) AS containment
         |    FROM (SELECT doc_id, h FROM dsh WHERE doc_id % 3 = 0) b
         |    LEFT JOIN bhash c ON c.h = b.h GROUP BY b.doc_id)
         |  WHERE containment >= 0.5),
         |kept AS MATERIALIZED (
         |  SELECT g.* FROM lmkept g
         |  WHERE g.doc_id NOT IN (SELECT doc_id FROM contaminated)),
         |pairs AS MATERIALIZED (
         |$pairsSql),
         |edges AS (SELECT id1 AS src, id2 AS dst FROM pairs
         |          UNION SELECT id2, id1 FROM pairs),
         |walk(id, comp) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e.src, w.comp FROM edges e JOIN walk w ON w.id = e.dst),
         |comps AS (SELECT id, MIN(comp) AS comp FROM walk GROUP BY id),
         |labeled AS (
         |  SELECT kk.doc_id, kk.source, kk.text, $splitSql AS split
         |  FROM kept kk LEFT JOIN comps cm ON cm.id = kk.doc_id),
         |capped AS (SELECT * FROM labeled $capQualify)
         |SELECT source, split, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |       CAST(SUM(LENGTH(text)) AS BIGINT) AS chars,
         |       CAST(SUM(doc_id) AS BIGINT) AS id_checksum
         |FROM capped GROUP BY source, split ORDER BY source, split""".stripMargin
    },

    // c10's oracle with the language key coming from the LangId CTEs
    // (li_pred, trained on the %3==1 labeled slice, scored over gated)
    // instead of the documents table.
    "c13_langid_curation" -> {
      import graft.operators.{Dedup, Sampling, TextAnalysis, LmScore, LangId}
      val rep12 = "array_to_string(string_split(text, ' ')[1:12], ' ')"
      val sigSql = TextAnalysis.repetitionSignalsSql(
        topNs = Seq(2), dupNs = Seq(10), from = "corpus")
      val pairsSql = Dedup.minhashLshSql(k = 3, bands = 8, rowsPerBand = 4,
        threshold = 0.05, from = "kept")
      val splitSql = Sampling.componentSplitSql("COALESCE(cm.comp, kk.doc_id)")
      val capQualify = Sampling.groupCapSql("source", "doc_id",
        "(CAST(doc_id AS VARCHAR) || '/' || source)", cap = 5)
      val dShingles = Dedup.shingleCtesSql(k = 8,
        from = "(SELECT doc_id, text FROM lmkept UNION ALL " +
          "SELECT doc_id, text FROM documents WHERE doc_id % 3 = 1)",
        prefix = "d", materializedSh = true)
      val liChain = LangId.trainPredictSql(
        "(SELECT doc_id, lang, text FROM documents WHERE doc_id % 3 = 1) tr",
        "(SELECT doc_id, text FROM gated) sc")
      s"""WITH RECURSIVE corpus AS MATERIALIZED (
         |  SELECT doc_id, source, CASE WHEN doc_id % 30 = 0
         |    THEN text || ' ' || $rep12 || ' ' || $rep12 ELSE text END AS text
         |  FROM documents WHERE doc_id % 3 = 0),
         |sig AS (
         |$sigSql),
         |gated AS MATERIALIZED (
         |  SELECT c.* FROM corpus c JOIN sig ON sig.doc_id = c.doc_id
         |  WHERE sig.dup10_char_frac < 0.10),
         |$liChain,
         |${LmScore.surprisalPerLangSql(
                "(SELECT g.doc_id, g.text, p.pred_lang AS lang FROM gated g " +
                  "JOIN li_pred p ON p.doc_id = g.doc_id) gl")},
         |scored_lang AS (
         |  SELECT doc_id, lang, surprisal FROM scored_pl),
         |bucketed AS (${LmScore.ccnetBucketsSql("scored_lang")}),
         |lmkept AS MATERIALIZED (
         |  SELECT g.* FROM gated g
         |  JOIN bucketed bk ON bk.doc_id = g.doc_id
         |  WHERE bk.bucket <> 'tail'),
         |$dShingles,
         |bhash AS (SELECT DISTINCT h FROM dsh WHERE doc_id % 3 = 1),
         |contaminated AS (
         |  SELECT doc_id FROM (
         |    SELECT b.doc_id,
         |           CAST(COUNT(c.h) AS DOUBLE) / COUNT(*) AS containment
         |    FROM (SELECT doc_id, h FROM dsh WHERE doc_id % 3 = 0) b
         |    LEFT JOIN bhash c ON c.h = b.h GROUP BY b.doc_id)
         |  WHERE containment >= 0.5),
         |kept AS MATERIALIZED (
         |  SELECT g.* FROM lmkept g
         |  WHERE g.doc_id NOT IN (SELECT doc_id FROM contaminated)),
         |pairs AS MATERIALIZED (
         |$pairsSql),
         |edges AS (SELECT id1 AS src, id2 AS dst FROM pairs
         |          UNION SELECT id2, id1 FROM pairs),
         |walk(id, comp) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e.src, w.comp FROM edges e JOIN walk w ON w.id = e.dst),
         |comps AS (SELECT id, MIN(comp) AS comp FROM walk GROUP BY id),
         |labeled AS (
         |  SELECT kk.doc_id, kk.source, kk.text, $splitSql AS split
         |  FROM kept kk LEFT JOIN comps cm ON cm.id = kk.doc_id),
         |capped AS (SELECT * FROM labeled $capQualify)
         |SELECT source, split, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |       CAST(SUM(LENGTH(text)) AS BIGINT) AS chars,
         |       CAST(SUM(doc_id) AS BIGINT) AS id_checksum
         |FROM capped GROUP BY source, split ORDER BY source, split""".stripMargin
    },

    // c13's oracle VERBATIM: DuckDB cannot read the persisted
    // model dir, so the twin re-derives the SAME deterministic
    // classifier from the same labeled slice (save≡train is
    // LangIdSpec-pinned — the c12/c17/c19 pattern).
    "c20_target_langid_curation" -> {
      import graft.operators.{Dedup, Sampling, TextAnalysis, LmScore, LangId}
      val rep12 = "array_to_string(string_split(text, ' ')[1:12], ' ')"
      val sigSql = TextAnalysis.repetitionSignalsSql(
        topNs = Seq(2), dupNs = Seq(10), from = "corpus")
      val pairsSql = Dedup.minhashLshSql(k = 3, bands = 8, rowsPerBand = 4,
        threshold = 0.05, from = "kept")
      val splitSql = Sampling.componentSplitSql("COALESCE(cm.comp, kk.doc_id)")
      val capQualify = Sampling.groupCapSql("source", "doc_id",
        "(CAST(doc_id AS VARCHAR) || '/' || source)", cap = 5)
      val dShingles = Dedup.shingleCtesSql(k = 8,
        from = "(SELECT doc_id, text FROM lmkept UNION ALL " +
          "SELECT doc_id, text FROM documents WHERE doc_id % 3 = 1)",
        prefix = "d", materializedSh = true)
      val liChain = LangId.trainPredictSql(
        "(SELECT doc_id, lang, text FROM documents WHERE doc_id % 3 = 1) tr",
        "(SELECT doc_id, text FROM gated) sc")
      s"""WITH RECURSIVE corpus AS MATERIALIZED (
         |  SELECT doc_id, source, CASE WHEN doc_id % 30 = 0
         |    THEN text || ' ' || $rep12 || ' ' || $rep12 ELSE text END AS text
         |  FROM documents WHERE doc_id % 3 = 0),
         |sig AS (
         |$sigSql),
         |gated AS MATERIALIZED (
         |  SELECT c.* FROM corpus c JOIN sig ON sig.doc_id = c.doc_id
         |  WHERE sig.dup10_char_frac < 0.10),
         |$liChain,
         |${LmScore.surprisalPerLangSql(
                "(SELECT g.doc_id, g.text, p.pred_lang AS lang FROM gated g " +
                  "JOIN li_pred p ON p.doc_id = g.doc_id) gl")},
         |scored_lang AS (
         |  SELECT doc_id, lang, surprisal FROM scored_pl),
         |bucketed AS (${LmScore.ccnetBucketsSql("scored_lang")}),
         |lmkept AS MATERIALIZED (
         |  SELECT g.* FROM gated g
         |  JOIN bucketed bk ON bk.doc_id = g.doc_id
         |  WHERE bk.bucket <> 'tail'),
         |$dShingles,
         |bhash AS (SELECT DISTINCT h FROM dsh WHERE doc_id % 3 = 1),
         |contaminated AS (
         |  SELECT doc_id FROM (
         |    SELECT b.doc_id,
         |           CAST(COUNT(c.h) AS DOUBLE) / COUNT(*) AS containment
         |    FROM (SELECT doc_id, h FROM dsh WHERE doc_id % 3 = 0) b
         |    LEFT JOIN bhash c ON c.h = b.h GROUP BY b.doc_id)
         |  WHERE containment >= 0.5),
         |kept AS MATERIALIZED (
         |  SELECT g.* FROM lmkept g
         |  WHERE g.doc_id NOT IN (SELECT doc_id FROM contaminated)),
         |pairs AS MATERIALIZED (
         |$pairsSql),
         |edges AS (SELECT id1 AS src, id2 AS dst FROM pairs
         |          UNION SELECT id2, id1 FROM pairs),
         |walk(id, comp) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e.src, w.comp FROM edges e JOIN walk w ON w.id = e.dst),
         |comps AS (SELECT id, MIN(comp) AS comp FROM walk GROUP BY id),
         |labeled AS (
         |  SELECT kk.doc_id, kk.source, kk.text, $splitSql AS split
         |  FROM kept kk LEFT JOIN comps cm ON cm.id = kk.doc_id),
         |capped AS (SELECT * FROM labeled $capQualify)
         |SELECT source, split, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |       CAST(SUM(LENGTH(text)) AS BIGINT) AS chars,
         |       CAST(SUM(doc_id) AS BIGINT) AS id_checksum
         |FROM capped GROUP BY source, split ORDER BY source, split""".stripMargin
    },


    "s22_group_caps" -> {
      val qualify = graft.operators.Sampling.groupCapSql("lang", "doc_id",
        "(CAST(doc_id AS VARCHAR) || '/' || lang)", cap = 100)
      s"""WITH capped AS (
         |  SELECT lang, doc_id FROM documents
         |  $qualify),
         |tot AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs
         |        FROM documents GROUP BY lang)
         |SELECT t.lang, t.n_docs, CAST(COUNT(*) AS BIGINT) AS n_kept,
         |       CAST(SUM(c.doc_id) AS BIGINT) AS id_checksum
         |FROM tot t JOIN capped c ON c.lang = t.lang
         |GROUP BY t.lang, t.n_docs ORDER BY t.lang""".stripMargin
    },

    "s6_stratified_sample" -> {
      val pred = graft.operators.Sampling.stratifiedSampleSql("lang",
        "(CAST(doc_id AS VARCHAR) || '/' || lang)",
        Map("en" -> 0.5, "de" -> 0.3), defaultFraction = 0.1)
      s"""SELECT lang, COUNT(*) AS n_sampled,
         |       CAST(SUM(doc_id) AS BIGINT) AS id_checksum
         |FROM documents WHERE $pred
         |GROUP BY lang ORDER BY lang""".stripMargin
    },

    "s7_token_packing" -> {
      import graft.functions.{TextFunctions => TF}
      s"""WITH t AS (
         |  SELECT doc_id, CAST(${TF.tokenCountSql("text")} AS BIGINT) AS tok
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, tok,
         |         SUM(tok) OVER (ORDER BY doc_id
         |                        ROWS UNBOUNDED PRECEDING) AS cum
         |  FROM t)
         |SELECT CAST((cum - tok) // 2000 AS BIGINT) AS pack,
         |       CAST(COUNT(*) AS BIGINT) AS n_docs,
         |       CAST(SUM(tok) AS BIGINT) AS tokens
         |FROM c GROUP BY 1 ORDER BY 1""".stripMargin
    },

    "s15_sharded_packing" -> {
      import graft.functions.{TextFunctions => TF}
      s"""WITH t AS (
         |  SELECT doc_id, doc_id % 8 AS shard,
         |         CAST(${TF.tokenCountSql("text")} AS BIGINT) AS tok
         |  FROM documents),
         |c AS (
         |  SELECT shard, doc_id, tok,
         |         SUM(tok) OVER (PARTITION BY shard ORDER BY doc_id
         |                        ROWS UNBOUNDED PRECEDING) AS cum
         |  FROM t)
         |SELECT CAST(shard AS BIGINT) AS shard,
         |       CAST((cum - tok) // 2000 AS BIGINT) AS pack,
         |       CAST(COUNT(*) AS BIGINT) AS n_docs,
         |       CAST(SUM(tok) AS BIGINT) AS tokens
         |FROM c GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    },

    "s16_token_budget_selection" -> {
      import graft.functions.{TextFunctions => TF}
      val toks = TF.wsTokensSql("text")
      s"""WITH s AS (
         |  SELECT doc_id, CAST(len($toks) AS BIGINT) AS n_tokens,
         |         CAST(len(list_distinct($toks)) AS DOUBLE) / len($toks)
         |           AS diversity
         |  FROM documents WHERE len($toks) > 0),
         |c AS (
         |  SELECT doc_id, n_tokens,
         |         SUM(n_tokens) OVER (ORDER BY diversity DESC, doc_id
         |                             ROWS UNBOUNDED PRECEDING) AS cum_tokens
         |  FROM s)
         |SELECT doc_id, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens
         |FROM c WHERE cum_tokens <= 20000""".stripMargin
    },

    "s24_bpe_token_budget" -> {
      val chain = graft.operators.Bpe.trainEncodeSql(
        "(SELECT doc_id, text FROM documents WHERE doc_id % 25 = 0) src", 8)
      val toks = TF.wsTokensSql("lower(text)")
      s"""WITH $chain,
         |ws AS (SELECT doc_id, CAST(len($toks) AS BIGINT) AS n_tokens_ws
         |       FROM documents
         |       WHERE doc_id % 25 = 0 AND len($toks) >= 1),
         |b AS (SELECT doc_id, n_tokens_ws, n_tokens_bpe, sym_fp
         |      FROM ws JOIN enc USING (doc_id)),
         |c AS (SELECT *,
         |        SUM(n_tokens_ws) OVER (ORDER BY doc_id
         |          ROWS UNBOUNDED PRECEDING) AS cum_ws,
         |        SUM(n_tokens_bpe) OVER (ORDER BY doc_id
         |          ROWS UNBOUNDED PRECEDING) AS cum_bpe
         |      FROM b)
         |SELECT doc_id, n_tokens_ws, n_tokens_bpe, sym_fp,
         |       CAST((cum_ws - n_tokens_ws) // 512 AS BIGINT) AS shard_ws,
         |       CAST((cum_bpe - n_tokens_bpe) // 512 AS BIGINT) AS shard_bpe
         |FROM c ORDER BY doc_id""".stripMargin
    },

    "c11_bpe_true_shards" -> {
      val chain = graft.operators.Bpe.trainEncodeSplitSql(
        "(SELECT doc_id, text FROM documents WHERE doc_id % 25 = 0) tr",
        "(SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0) en", 8)
      val toks = TF.wsTokensSql("lower(text)")
      s"""WITH $chain,
         |ws AS (SELECT doc_id, CAST(len($toks) AS BIGINT) AS n_tokens_ws
         |       FROM documents
         |       WHERE doc_id % 5 = 0 AND len($toks) >= 1),
         |b AS (SELECT doc_id, n_tokens_ws, n_tokens_bpe, sym_fp
         |      FROM ws JOIN enc USING (doc_id)),
         |c AS (SELECT *,
         |        SUM(n_tokens_bpe) OVER (ORDER BY doc_id
         |          ROWS UNBOUNDED PRECEDING) AS cum_bpe,
         |        SUM(n_tokens_ws) OVER (ORDER BY doc_id
         |          ROWS UNBOUNDED PRECEDING) AS cum_ws
         |      FROM b),
         |sh AS (SELECT doc_id, n_tokens_bpe, sym_fp,
         |         CAST((cum_bpe - n_tokens_bpe) // 512 AS BIGINT) AS shard,
         |         CAST((cum_ws - n_tokens_ws) // 512 AS BIGINT) AS shard_ws
         |       FROM c)
         |SELECT shard, COUNT(*) AS n_docs,
         |       CAST(SUM(n_tokens_bpe) AS BIGINT) AS tokens_bpe,
         |       CAST(SUM(sym_fp) AS BIGINT) AS fp_sum,
         |       MIN(shard_ws) AS ws_shard_lo,
         |       MAX(shard_ws) AS ws_shard_hi
         |FROM sh GROUP BY shard ORDER BY shard""".stripMargin
    },

    "s25_tokenizer_fertility" -> {
      val chain = graft.operators.Bpe.trainEncodeSplitSql(
        "(SELECT doc_id, text FROM documents WHERE doc_id % 25 = 0) tr",
        "(SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0) en", 8)
      val toks = TF.wsTokensSql("lower(text)")
      s"""WITH $chain,
         |ws AS (SELECT doc_id, lang, CAST(len($toks) AS BIGINT) AS n_ws
         |       FROM documents
         |       WHERE doc_id % 5 = 0 AND len($toks) >= 1),
         |j AS (SELECT lang, n_ws, n_tokens_bpe
         |      FROM ws JOIN enc USING (doc_id))
         |SELECT lang, COUNT(*) AS n_docs,
         |       CAST(SUM(n_ws) AS BIGINT) AS ws_tokens,
         |       CAST(SUM(n_tokens_bpe) AS BIGINT) AS bpe_tokens,
         |       CAST(SUM(n_tokens_bpe) AS DOUBLE) /
         |         CAST(SUM(n_ws) AS DOUBLE) AS fertility
         |FROM j GROUP BY lang ORDER BY lang""".stripMargin
    },

    "c16_byte_bpe_tokenizer" -> {
      val chain = graft.operators.Bpe.trainEncodeBytesSplitSql(
        "(SELECT doc_id, text FROM documents WHERE doc_id % 50 = 0) tr",
        "(SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0) en", 6)
      s"""WITH $chain
         |SELECT doc_id, n_tokens_bpe, sym_fp
         |FROM enc ORDER BY doc_id""".stripMargin
    },

    "s26_byte_fertility" -> {
      val chain = graft.operators.Bpe.trainEncodeBytesSplitSql(
        "(SELECT doc_id, text FROM documents WHERE doc_id % 50 = 0) tr",
        "(SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0) en", 6)
      val toks = TF.wsTokensSql("lower(text)")
      s"""WITH $chain,
         |ws AS (SELECT doc_id, lang, CAST(len($toks) AS BIGINT) AS n_ws
         |       FROM documents
         |       WHERE doc_id % 10 = 0 AND len($toks) >= 1),
         |j AS (SELECT lang, n_ws, n_tokens_bpe
         |      FROM ws JOIN enc USING (doc_id))
         |SELECT lang, COUNT(*) AS n_docs,
         |       CAST(SUM(n_ws) AS BIGINT) AS ws_tokens,
         |       CAST(SUM(n_tokens_bpe) AS BIGINT) AS bpe_tokens,
         |       CAST(SUM(n_tokens_bpe) AS DOUBLE) /
         |         CAST(SUM(n_ws) AS DOUBLE) AS fertility
         |FROM j GROUP BY lang ORDER BY lang""".stripMargin
    },

    "j3_orders_per_customer_csv" ->
      """SELECT o_custkey,
        |       string_agg(CAST(o_orderkey AS VARCHAR), ',' ORDER BY o_orderkey) AS orders_csv,
        |       COUNT(*) AS n_orders
        |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,

    "j7_first_ship_year" ->
      """SELECT o_orderstatus, YEAR(first_ship) AS ship_year, COUNT(*) AS n
        |FROM orders JOIN (SELECT l_orderkey, MIN(l_shipdate) AS first_ship
        |                  FROM lineitem GROUP BY l_orderkey) f
        |  ON o_orderkey = l_orderkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "a6_distinct_custs_per_nation" ->
      """SELECT c_nationkey,
        |  COUNT(DISTINCT CASE WHEN o_orderstatus = 'F' THEN c_custkey END) AS n_f,
        |  COUNT(DISTINCT CASE WHEN o_orderstatus = 'O' THEN c_custkey END) AS n_o,
        |  COUNT(DISTINCT c_custkey) AS n_total
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,

    "a13_return_rate_by_priority" ->
      """SELECT o_orderpriority,
        |  CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS n_returned,
        |  COUNT(*) AS n_lines,
        |  CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS return_rate
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "a14_part_rollup_top20" ->
      s"""SELECT l_partkey, COUNT(*) AS n_lines,
         |  COUNT(DISTINCT o_orderkey) AS n_orders,
         |  ${Num.sqlSumExact("l_quantity")} AS total_qty,
         |  ${Num.sqlAvgExact("l_extendedprice")} AS avg_price
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |GROUP BY l_partkey ORDER BY total_qty DESC, l_partkey LIMIT 20""".stripMargin,

    "a16_supplier_breakdown" ->
      s"""SELECT l_suppkey, COUNT(*) AS n,
         |  ${Num.sqlAvgExact("l_discount")} AS avg_disc,
         |  median(l_quantity) AS median_qty
         |FROM lineitem GROUP BY l_suppkey ORDER BY l_suppkey""".stripMargin,

    "o4_nations_by_region_desc_custs" ->
      """SELECT r_name, n_name, COUNT(*) AS n_custs
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name
        |ORDER BY r_name, n_custs DESC, n_name""".stripMargin,

    "a21_bottomk_sample" -> {
      import graft.functions.PolyHash64
      s"""WITH t AS (
         |  SELECT o_orderstatus, CAST(o_orderkey AS VARCHAR) AS v,
         |         ${PolyHash64.sql("CAST(o_orderkey AS VARCHAR)")} AS h
         |  FROM orders),
         |r AS (
         |  SELECT o_orderstatus, v, h,
         |         ROW_NUMBER() OVER (PARTITION BY o_orderstatus
         |                            ORDER BY h, v) AS rn
         |  FROM t)
         |SELECT o_orderstatus,
         |       string_agg(CASE WHEN rn <= 8 THEN v END, ',' ORDER BY h, v)
         |         AS sample_csv,
         |       COUNT(*) AS n
         |FROM r GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin
    },

    "g1_nation_pagerank" -> {
      val edgesCte =
        """SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
          |       COUNT(*) AS w
          |FROM lineitem l
          |JOIN orders o ON l.l_orderkey = o.o_orderkey
          |JOIN customer c ON o.o_custkey = c.c_custkey
          |JOIN supplier s ON l.l_suppkey = s.s_suppkey
          |GROUP BY 1, 2""".stripMargin
      s"""SELECT n.n_name, pr.rank_fp
         |FROM (${graft.operators.Graph.pageRankSql(edgesCte, iters = 3)}) pr
         |JOIN nation n ON pr.id = n.n_nationkey
         |ORDER BY pr.rank_fp DESC, n.n_name""".stripMargin
    },

    "a23_kmv_distinct" -> {
      import graft.functions.PolyHash64
      s"""WITH t AS (
         |  SELECT o_orderstatus,
         |         ${PolyHash64.sql("CAST(o_custkey AS VARCHAR)")} AS h
         |  FROM orders),
         |d AS (SELECT DISTINCT o_orderstatus, h FROM t),
         |r AS (
         |  SELECT o_orderstatus, h,
         |         ROW_NUMBER() OVER (PARTITION BY o_orderstatus
         |                            ORDER BY h) AS rn,
         |         COUNT(*) OVER (PARTITION BY o_orderstatus) AS nd
         |  FROM d)
         |SELECT o_orderstatus,
         |       CAST(MAX(nd) AS BIGINT) AS n_exact,
         |       CASE WHEN MAX(nd) < 64 THEN CAST(MAX(nd) AS DOUBLE)
         |            ELSE CAST(63 AS DOUBLE) /
         |                 (CAST(MAX(CASE WHEN rn = 64 THEN h END) AS DOUBLE)
         |                  / CAST(18446744073709551616 AS DOUBLE) + 0.5)
         |       END AS kmv_estimate
         |FROM r GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin
    },

    "a24_sketch_rollup" -> {
      import graft.functions.PolyHash64
      s"""WITH t AS (
         |  SELECT o_orderkey % 8 AS shard,
         |         ${PolyHash64.sql("CAST(o_custkey AS VARCHAR)")} AS h
         |  FROM orders),
         |d AS (SELECT DISTINCT shard, h FROM t),
         |p AS (
         |  SELECT shard, h FROM (
         |    SELECT shard, h,
         |           ROW_NUMBER() OVER (PARTITION BY shard ORDER BY h) AS rn
         |    FROM d) WHERE rn <= 64),
         |u AS (SELECT DISTINCT h FROM p),
         |m AS (
         |  SELECT h, ROW_NUMBER() OVER (ORDER BY h) AS rn,
         |         COUNT(*) OVER () AS nd
         |  FROM u)
         |SELECT (SELECT COUNT(DISTINCT shard) FROM p) AS n_shards,
         |       (SELECT COUNT(DISTINCT h) FROM t) AS n_exact,
         |       CASE WHEN MAX(nd) < 64 THEN CAST(MAX(nd) AS DOUBLE)
         |            ELSE CAST(63 AS DOUBLE) /
         |                 (CAST(MAX(CASE WHEN rn = 64 THEN h END) AS DOUBLE)
         |                  / CAST(18446744073709551616 AS DOUBLE) + 0.5)
         |       END AS kmv_estimate
         |FROM m""".stripMargin
    },

    "a25_grouped_topk" ->
      """SELECT o_orderpriority, rnk, o_orderkey, cents FROM (
        |  SELECT o_orderpriority, o_orderkey,
        |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
        |         CAST(ROW_NUMBER() OVER (
        |           PARTITION BY o_orderpriority
        |           ORDER BY CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) DESC,
        |                    o_orderkey) AS BIGINT) AS rnk
        |  FROM orders) t
        |WHERE rnk <= 3
        |ORDER BY o_orderpriority, rnk""".stripMargin,

    "o6_keyset_page" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_orderdate < TIMESTAMP '1995-06-17'
        |   OR (o_orderdate = TIMESTAMP '1995-06-17' AND o_orderkey > 1000)
        |ORDER BY o_orderdate DESC, o_orderkey LIMIT 50""".stripMargin,

    "u1_union_distinct_custs" ->
      """SELECT COUNT(*) AS n_custs FROM (
        |  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |  UNION
        |  SELECT c_custkey FROM customer WHERE c_acctbal < 0) t""".stripMargin,

    "u4_intersect_except" ->
      """SELECT COUNT(*) AS n_custs FROM (
        |  (SELECT DISTINCT o_custkey FROM orders WHERE YEAR(o_orderdate) = 1995
        |   INTERSECT
        |   SELECT DISTINCT o_custkey FROM orders WHERE YEAR(o_orderdate) = 1996)
        |  EXCEPT
        |  SELECT DISTINCT o_custkey FROM orders WHERE YEAR(o_orderdate) = 1997) t""".stripMargin,

    "u3_priority_family" ->
      s"""SELECT CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
         |  THEN 'urgent_family' ELSE 'normal_family' END AS family,
         |  COUNT(*) AS n, ${Num.sqlSumExact("o_totalprice")} AS total_price
         |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    "x3_gold_to_letter" ->
      """SELECT chr(CAST(65 + p_size % 26 AS INT)) AS letter, COUNT(*) AS n
        |FROM part GROUP BY 1 ORDER BY 1""".stripMargin,

    "x5_format_choices" ->
      """SELECT p_partkey,
        |  array_to_string(list_transform(string_split(p_name, ' ')[1:26],
        |    (c, i) -> chr(CAST(64 + i AS INT)) || ') ' || c), chr(10)) AS block
        |FROM part WHERE p_partkey % 50 = 0 ORDER BY p_partkey""".stripMargin,

    "x6_build_prompt" ->
      """SELECT p_partkey,
        |  replace(replace(
        |    'You are taking an exam in {course_name}.' || chr(10) || chr(10) ||
        |    'Question: {question}' || chr(10) || chr(10) || 'Answer:',
        |    '{course_name}', p_type), '{question}', p_name) AS prompt
        |FROM part WHERE p_partkey % 50 = 0 ORDER BY p_partkey""".stripMargin,

    "x10_percent_by_flag" ->
      """SELECT l_returnflag, COUNT(*) AS n,
        |  CAST(round(COUNT(*) * 100.0 / (SELECT CAST(COUNT(*) AS DOUBLE) FROM lineitem)) AS INT) || '%' AS pct,
        |  round(COUNT(*) / (SELECT CAST(COUNT(*) AS DOUBLE) FROM lineitem), 4) AS share
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "f6_promo_parts_by_brand" ->
      """SELECT p_brand, COUNT(*) AS n
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_type LIKE 'PROMO%'
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,

    "f8_split_counts" ->
      """SELECT
        |  CAST(SUM(CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(SUM(CASE WHEN l_returnflag <> 'N' THEN 1 ELSE 0 END) AS BIGINT) AS n_returned_or_ack
        |FROM lineitem""".stripMargin,

    "a18_rollup_flag_status" ->
      s"""SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
         |  ${Num.sqlSumExact("l_quantity")} AS qty
         |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
         |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,

    "z1_zorder_values" -> {
      val z = graft.operators.ZOrder.zValueSql("l_partkey", "l_suppkey")
      s"""SELECT l_orderkey, l_partkey, l_suppkey, $z AS z
         |FROM lineitem WHERE l_orderkey % 500 = 0
         |ORDER BY l_orderkey, l_partkey, l_suppkey""".stripMargin
    },

    "m1_binary_payloads" ->
      """WITH media AS (
        |  SELECT doc_id AS media_id, source, encode(text) AS payload,
        |         hex(encode(substring(text, 1, 1))) AS first_char
        |  FROM documents)
        |SELECT source, COUNT(*) AS n_media,
        |       CAST(SUM(octet_length(payload)) AS BIGINT) AS total_bytes,
        |       CAST(MAX(octet_length(payload)) AS BIGINT) AS max_bytes,
        |       COUNT(DISTINCT first_char) AS n_first_chars
        |FROM media GROUP BY source ORDER BY source""".stripMargin,

    "s20_epoch_shuffle" -> {
      import graft.functions.PolyHash64
      s"""WITH t AS (
         |  SELECT doc_id,
         |         ${PolyHash64.sql("'epoch7|' || CAST(doc_id AS VARCHAR)")} AS k
         |  FROM documents)
         |SELECT doc_id, pos, (pos - 1) // 128 AS shard FROM (
         |  SELECT doc_id,
         |         CAST(ROW_NUMBER() OVER (ORDER BY k, doc_id) AS BIGINT) AS pos
         |  FROM t)
         |ORDER BY pos""".stripMargin
    },

    "s18_json_ingest" ->
      """SELECT lang, source,
        |       COUNT(*) AS n_docs,
        |       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
        |       CAST(SUM(LEAST(5, len(string_split(text, ' ')))) AS BIGINT)
        |         AS head_token_count,
        |       CAST(SUM(length(text)) AS BIGINT) AS text_len_sum
        |FROM documents GROUP BY lang, source ORDER BY lang, source""".stripMargin,

    "m3_wav_decode" ->
      """WITH m AS (
        |  SELECT doc_id AS media_id, 200 + doc_id % 100 AS n
        |  FROM documents WHERE doc_id % 40 = 0),
        |s AS (
        |  SELECT media_id, n, i.i AS i,
        |         (media_id * 131 + i.i * 17) % 65536 - 32768 AS v
        |  FROM m, LATERAL (SELECT unnest(range(0, n)) AS i) i)
        |SELECT media_id,
        |       CAST(8000 AS INTEGER) AS sample_rate,
        |       CAST(MIN(n) AS INTEGER) AS n_samples,
        |       CAST(SUM((1 + i) * v) AS BIGINT) AS pos_checksum,
        |       CAST(SUM(v * v) AS BIGINT) AS energy
        |FROM s GROUP BY media_id ORDER BY media_id""".stripMargin,

    // replicates synthPngBytes' dimension and pixel formulas; the
    // lateral range pair enumerates every pixel of every image
    "m2_png_decode" ->
      """WITH m AS (
        |  SELECT doc_id AS media_id, 8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h
        |  FROM documents WHERE doc_id % 50 = 0),
        |px AS (
        |  SELECT media_id, w, h, gx.x AS x, gy.y AS y
        |  FROM m, LATERAL (SELECT unnest(range(0, w)) AS x) gx,
        |          LATERAL (SELECT unnest(range(0, h)) AS y) gy)
        |SELECT media_id,
        |       CAST(MIN(w) AS INTEGER) AS width,
        |       CAST(MIN(h) AS INTEGER) AS height,
        |       CAST(3 AS INTEGER) AS channels,
        |       CAST(SUM((1 + x + y*w) * ((media_id*31 + x*7 + y*13) % 256
        |             + 2*((media_id*17 + x*11 + y*5) % 256)
        |             + 3*((media_id*7 + x*3 + y*19) % 256))) AS BIGINT) AS checksum
        |FROM px GROUP BY media_id ORDER BY media_id""".stripMargin,

    "m4_image_resize" ->
      """WITH m AS (
        |  SELECT doc_id AS media_id, 8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h
        |  FROM documents WHERE doc_id % 47 = 0),
        |px AS (
        |  SELECT media_id, w, h, gx.x AS x, gy.y AS y
        |  FROM m, LATERAL (SELECT unnest(range(0, 4)) AS x) gx,
        |          LATERAL (SELECT unnest(range(0, 4)) AS y) gy),
        |sp AS (
        |  SELECT media_id, w, h, x, y, (x * w) // 4 AS sx, (y * h) // 4 AS sy
        |  FROM px)
        |SELECT media_id,
        |       CAST(MIN(w) AS INTEGER) AS src_width,
        |       CAST(MIN(h) AS INTEGER) AS src_height,
        |       CAST(4 AS INTEGER) AS out_width,
        |       CAST(4 AS INTEGER) AS out_height,
        |       CAST(SUM((1 + x + y*4) * ((media_id*31 + sx*7 + sy*13) % 256
        |             + 2*((media_id*17 + sx*11 + sy*5) % 256)
        |             + 3*((media_id*7 + sx*3 + sy*19) % 256))) AS BIGINT) AS checksum
        |FROM sp GROUP BY media_id ORDER BY media_id""".stripMargin,

    "m5_frame_sample" ->
      """WITH m AS (
        |  SELECT doc_id AS media_id, 3 + doc_id % 5 AS f,
        |         4 + doc_id % 3 AS w, 4 + doc_id % 4 AS h
        |  FROM documents WHERE doc_id % 53 = 0),
        |fr AS (
        |  SELECT media_id, f, w, h, gf.fi AS fi
        |  FROM m, LATERAL (SELECT unnest(range(0, f)) AS fi) gf
        |  WHERE fi % 2 = 0 AND fi // 2 < 3),
        |px AS (
        |  SELECT media_id, f, w, h, fi, gx.x AS x, gy.y AS y
        |  FROM fr, LATERAL (SELECT unnest(range(0, w)) AS x) gx,
        |           LATERAL (SELECT unnest(range(0, h)) AS y) gy)
        |SELECT media_id,
        |       CAST(MIN(f) AS INTEGER) AS n_frames,
        |       CAST(MIN(w) AS INTEGER) AS width,
        |       CAST(MIN(h) AS INTEGER) AS height,
        |       CAST(COUNT(DISTINCT fi) AS INTEGER) AS n_sampled,
        |       CAST(SUM((1 + x + y*w) * (1 + fi) * ((media_id*31 + fi*29 + x*7 + y*13) % 256
        |             + 2*((media_id*17 + fi*23 + x*11 + y*5) % 256)
        |             + 3*((media_id*7 + fi*19 + x*3 + y*19) % 256))) AS BIGINT) AS checksum
        |FROM px GROUP BY media_id ORDER BY media_id""".stripMargin,

    // replays synthPngVariantBytes' clamped-brightness pixel formula at
    // the dHash grid's resample positions, reassembles the 56-bit hash
    // via LEAD over grid x, then the band join + popcount verify + the
    // d7 reachability fixpoint — the full perceptual chain with no PNG
    "m6_perceptual_near_dup" ->
      """WITH RECURSIVE m AS (
        |  SELECT doc_id*2 + j.j AS media_id, doc_id AS base, j.j*3 AS delta,
        |         8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h
        |  FROM documents, LATERAL (SELECT unnest([0, 1]) AS j) j
        |  WHERE doc_id % 31 = 0),
        |g AS (
        |  SELECT media_id, gy.y AS y, gx.x AS x,
        |    299*LEAST((base*31 + 7)*(((x*w)//9) + 3)*(((y*h)//7) + 5) % 256 + delta, 255)
        |  + 587*LEAST((base*17 + 5)*(((x*w)//9) + 11)*(((y*h)//7) + 2) % 256 + delta, 255)
        |  + 114*LEAST((base*7 + 13)*(((x*w)//9) + 2)*(((y*h)//7) + 7) % 256 + delta, 255)
        |      AS luma
        |  FROM m, LATERAL (SELECT unnest(range(0, 9)) AS x) gx,
        |          LATERAL (SELECT unnest(range(0, 7)) AS y) gy),
        |hs AS (
        |  SELECT media_id,
        |         CAST(SUM(CASE WHEN nl > luma
        |                       THEN (CAST(1 AS BIGINT) << CAST(y*8 + x AS INTEGER))
        |                       ELSE 0 END) AS BIGINT) AS dhash
        |  FROM (SELECT media_id, y, x, luma,
        |               lead(luma) OVER (PARTITION BY media_id, y ORDER BY x) AS nl
        |        FROM g) z
        |  WHERE x < 8 GROUP BY media_id),
        |banded AS (
        |  SELECT media_id, dhash, b.b AS band,
        |         (dhash >> CAST(b.b*14 AS INTEGER)) & 16383 AS bucket
        |  FROM hs, LATERAL (SELECT unnest(range(0, 4)) AS b) b),
        |pairs AS MATERIALIZED (
        |  SELECT DISTINCT a.media_id AS id1, b.media_id AS id2,
        |         CAST(bit_count(xor(a.dhash, b.dhash)) AS INTEGER) AS dist
        |  FROM banded a JOIN banded b
        |    ON a.band = b.band AND a.bucket = b.bucket
        |       AND a.media_id < b.media_id
        |  WHERE bit_count(xor(a.dhash, b.dhash)) <= 3),
        |edges AS (SELECT id1 AS src, id2 AS dst FROM pairs
        |          UNION SELECT id2, id1 FROM pairs),
        |walk(id, comp) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT e.src, w.comp FROM edges e JOIN walk w ON w.id = e.dst),
        |comps AS (SELECT id, MIN(comp) AS comp FROM walk GROUP BY id)
        |SELECT p.id1, p.id2, p.dist, c.comp
        |FROM pairs p JOIN comps c ON c.id = p.id1
        |ORDER BY p.id1, p.id2""".stripMargin,

    // replays the m6 dHash pixel formula, then the growing-corpus probe
    // lifecycle as plain popcount ≤ 3 containment (banding is invisible
    // to the RESULT: dist ≤ 3 < 4 bands pigeonholes a colliding band,
    // and the verify is exact — the d15 "layout is invisible" stance);
    // corpus grows by each batch's NON-dup survivors, the c6 unroll
    "m7_hamming_index_lifecycle" -> {
      val steps = (1 to 3).map { b =>
        s"""b$b AS (SELECT media_id, dhash FROM hs WHERE media_id % 4 = $b),
           |p$b AS (
           |  SELECT b.media_id,
           |         COALESCE(m.n_matches, 0) AS n_matches,
           |         m.match_id,
           |         m.match_id IS NOT NULL AS is_dup
           |  FROM b$b b
           |  LEFT JOIN (SELECT x.media_id, COUNT(*) AS n_matches,
           |                    MIN(c.media_id) AS match_id
           |             FROM b$b x JOIN c${b - 1} c
           |               ON bit_count(xor(x.dhash, c.dhash)) <= 3
           |             GROUP BY x.media_id) m ON m.media_id = b.media_id),
           |c$b AS (SELECT media_id, dhash FROM c${b - 1} UNION ALL
           |        SELECT b.media_id, b.dhash FROM b$b b
           |        JOIN p$b p ON p.media_id = b.media_id AND NOT p.is_dup)"""
          .stripMargin
      }
      val union = (1 to 3)
        .map(b => s"SELECT $b AS batch, media_id, n_matches, match_id, " +
          s"is_dup FROM p$b")
        .mkString("\nUNION ALL\n")
      s"""WITH m AS (
         |  SELECT doc_id*2 + j.j AS media_id, doc_id AS base, j.j*3 AS delta,
         |         8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h
         |  FROM documents, LATERAL (SELECT unnest([0, 1]) AS j) j
         |  WHERE doc_id % 31 = 0),
         |g AS (
         |  SELECT media_id, gy.y AS y, gx.x AS x,
         |    299*LEAST((base*31 + 7)*(((x*w)//9) + 3)*(((y*h)//7) + 5) % 256 + delta, 255)
         |  + 587*LEAST((base*17 + 5)*(((x*w)//9) + 11)*(((y*h)//7) + 2) % 256 + delta, 255)
         |  + 114*LEAST((base*7 + 13)*(((x*w)//9) + 2)*(((y*h)//7) + 7) % 256 + delta, 255)
         |      AS luma
         |  FROM m, LATERAL (SELECT unnest(range(0, 9)) AS x) gx,
         |          LATERAL (SELECT unnest(range(0, 7)) AS y) gy),
         |hs AS (
         |  SELECT media_id,
         |         CAST(SUM(CASE WHEN nl > luma
         |                       THEN (CAST(1 AS BIGINT) << CAST(y*8 + x AS INTEGER))
         |                       ELSE 0 END) AS BIGINT) AS dhash
         |  FROM (SELECT media_id, y, x, luma,
         |               lead(luma) OVER (PARTITION BY media_id, y ORDER BY x) AS nl
         |        FROM g) z
         |  WHERE x < 8 GROUP BY media_id),
         |c0 AS (SELECT media_id, dhash FROM hs WHERE media_id % 4 = 0),
         |${steps.mkString(",\n")}
         |SELECT batch, media_id, n_matches, match_id, is_dup FROM (
         |$union
         |) r ORDER BY batch, media_id""".stripMargin
    },

    "s11_incremental_agg" ->
      s"""SELECT o_orderstatus, COUNT(*) AS n,
         |  ${Num.sqlSumExact("o_totalprice")} AS total
         |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    "s12_cdc_apply" ->
      """SELECT o_orderstatus, COUNT(*) AS n,
        |  CAST(SUM(CASE WHEN o_orderkey % 5 = 0
        |                THEN CAST(o_totalprice AS DECIMAL(18,2)) + 1000
        |                ELSE CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE)
        |    AS total_price
        |FROM orders WHERE o_orderkey % 7 <> 0
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "a20_unpivot_year_status" ->
      """SELECT YEAR(o_orderdate) AS o_year, o_orderstatus, COUNT(*) AS n
        |FROM orders GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q1_dq_report" ->
      graft.operators.Quality.reportSql("orders", DqChecks),

    "q4_drift_report" ->
      graft.operators.Quality.driftReportSql(
        "SELECT o_totalprice, o_custkey, o_orderkey FROM orders WHERE o_orderkey % 5 <> 4",
        """SELECT
          |  CASE WHEN o_orderstatus = 'F'
          |       THEN CAST(CAST(o_totalprice AS DECIMAL(18,2)) + 50000.00 AS DOUBLE)
          |       ELSE o_totalprice END AS o_totalprice,
          |  CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_custkey END AS o_custkey,
          |  o_orderkey
          |FROM orders WHERE o_orderkey % 11 <> 3""".stripMargin,
        Seq("o_totalprice", "o_custkey", "o_orderkey")),

    "q2_robust_outliers" ->
      graft.operators.Quality.robustOutliersSql("documents", "n_chars",
        Seq("lang", "source"), zThreshold = 2.5,
        selectCols = Seq("doc_id", "lang", "source", "n_chars"),
        orderBy = Seq("doc_id")),

    "q3_quantile_profile" ->
      graft.operators.Quality.quantileProfileSql("orders", "o_totalprice",
        Seq("o_orderpriority"),
        Seq("p25" -> 0.25, "p50" -> 0.5, "p75" -> 0.75, "p95" -> 0.95),
        orderBy = Seq("o_orderpriority")),

    "a22_majority_flag" ->
      """SELECT l_orderkey, majority_flag, n FROM (
        |  SELECT l_orderkey, l_returnflag AS majority_flag, COUNT(*) AS n,
        |         ROW_NUMBER() OVER (PARTITION BY l_orderkey
        |                            ORDER BY COUNT(*) DESC, l_returnflag) AS rn
        |  FROM lineitem WHERE l_orderkey % 500 = 0
        |  GROUP BY l_orderkey, l_returnflag) t
        |WHERE rn = 1 ORDER BY l_orderkey""".stripMargin,

    "a19_cube_status_priority" ->
      s"""SELECT o_orderstatus, o_orderpriority,
         |  CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS INT) AS gid,
         |  COUNT(*) AS n, ${Num.sqlSumExact("o_totalprice")} AS total_price
         |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
         |ORDER BY gid, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,

    "j9_salted_supplier_rollup" ->
      s"""SELECT l_suppkey, ${Num.sqlSumExact("l_quantity")} AS total_qty,
         |  COUNT(*) AS n_lines
         |FROM lineitem GROUP BY l_suppkey ORDER BY l_suppkey""".stripMargin,

    "w6_balance_standing" ->
      """SELECT c_mktsegment, c_custkey,
        |  percent_rank() OVER
        |    (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey) AS pct_rank,
        |  cume_dist() OVER
        |    (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey) AS cume
        |FROM customer WHERE c_custkey % 100 = 0
        |ORDER BY c_mktsegment, c_custkey""".stripMargin,

    "w1_running_customer_spend" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
        |    OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend
        |FROM orders WHERE o_custkey <= 50
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    "w3_order_gap" ->
      """SELECT o_custkey, o_orderkey,
        |  epoch_us(o_orderdate) - LAG(epoch_us(o_orderdate), 1)
        |    OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |    AS micros_since_prev
        |FROM orders WHERE o_custkey % 100 = 0
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    "w5_spend_quartiles" ->
      s"""WITH spend AS (
         |  SELECT o_custkey, ${Num.sqlSumExact("o_totalprice")} AS spend
         |  FROM orders GROUP BY o_custkey),
         |q AS (
         |  SELECT spend,
         |         NTILE(4) OVER (ORDER BY spend DESC, o_custkey) AS quartile
         |  FROM spend)
         |SELECT CAST(quartile AS INT) AS quartile, COUNT(*) AS n_cust,
         |       MIN(spend) AS min_spend, MAX(spend) AS max_spend
         |FROM q GROUP BY quartile ORDER BY quartile""".stripMargin,

    "w4_moving_spend" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
        |    OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |          ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) AS moving_spend
        |FROM orders WHERE o_custkey % 100 = 0
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    "w7_trailing_week_spend" ->
      """SELECT o_custkey, o_orderkey,
        |  date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS day,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
        |    OVER (PARTITION BY o_custkey
        |          ORDER BY date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE))
        |          RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE) AS week_spend
        |FROM orders WHERE o_custkey % 100 = 0
        |ORDER BY o_custkey, day, o_orderkey""".stripMargin,

    "w2_top2_orders_per_customer" ->
      """SELECT o_custkey, rnk, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    ROW_NUMBER() OVER (PARTITION BY o_custkey
        |                       ORDER BY o_totalprice DESC, o_orderkey) AS rnk
        |  FROM orders) t
        |WHERE rnk <= 2 ORDER BY o_custkey, rnk""".stripMargin
  )
}
