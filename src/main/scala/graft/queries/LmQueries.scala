package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.operators.LmScore
import graft.operators.LmScore.{LmSpec, Smoothing}

/** LM-quality extension queries (SURVEY §2.10): CCNet-style bigram-LM
  * surprisal scoring + head/middle/tail bucketing, and DSIR hashed-ngram
  * importance weights. All log-probabilities are integer micro-nats
  * (see [[LmScore]]) so every aggregate is an order-independent BIGINT
  * sum and the DuckDB twins hash-match exactly.
  */
object LmQueries {

  /** `docs` scored under the model `spec` trains on `train`. */
  private def scored(spec: LmSpec, train: DataFrame,
                     docs: DataFrame): DataFrame =
    LmScore.score(LmScore.train(spec, train), docs)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Q5: per-doc bigram-LM surprisal (train = score = the corpus) —
    // the CCNet/KenLM quality signal; sampled rows keep the oracle
    // volume bounded while the model still trains on EVERY document
    "q5_bigram_surprisal" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      scored(LmSpec(Smoothing.AddHalf, perLang = false), docs, docs)
        .where(pmod(col("doc_id"), lit(25)) === 0)
        .orderBy(col("doc_id"))
    }),

    // Q6: CCNet head/middle/tail thirds per language by surprisal —
    // ONE global exact rank (lang leading the sort), no per-language
    // single-partition window; summary = per (lang, bucket) counts +
    // id checksum + the exact surprisal span of the bucket
    "q6_ccnet_buckets" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val byLang = scored(LmSpec(Smoothing.AddHalf, perLang = false), docs, docs)
        .join(docs.select(col("doc_id"), col("lang")), "doc_id")
        .select(col("doc_id"), col("lang"), col("surprisal"))
      LmScore.ccnetBuckets(byLang)
        .groupBy(col("lang"), col("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("doc_id")).as("id_checksum"),
          min(col("surprisal")).as("min_surprisal"),
          max(col("surprisal")).as("max_surprisal"))
        .orderBy(col("lang"), col("bucket"))
    }),

    // Q7: CCNet-faithful PER-LANGUAGE LMs — one model per language in
    // the SAME two hash-agg shuffles as one model (lang joins the
    // aggregation keys; no per-language loop, no per-language hot
    // partition), each doc scored under its own language's model.
    // q6's single cross-language model lets the dominant language's
    // phrasing set the scale for every other language's scores; this
    // is the per-language form CCNet actually prescribes
    "q7_per_lang_surprisal" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      scored(LmSpec(Smoothing.AddHalf, perLang = true), docs, docs)
        .where(pmod(col("doc_id"), lit(25)) === 0)
        .orderBy(col("doc_id"))
    }),

    // Q8: TRAINED language identification — the classifier CCNet runs
    // ahead of its per-language stages (fastText-style hashed char
    // n-grams; here the deterministic multinomial-NB form of the same
    // linear family, so the whole train→score→argmax chain has an
    // exact oracle — see LangId). Train on the labeled %3≠2 slice,
    // predict the held-out %3==2 slice, roll up the confusion matrix
    // against the table's lang with id + score checksums. NOTE the
    // synthetic corpus draws every language's text from the same
    // vocabulary (lang is metadata), so the honest prediction here is
    // the prior-dominant class for nearly every doc — the query pins
    // the exact train→score→argmax arithmetic cross-engine;
    // ACCURACY on separable fixtures is LangIdSpec's job.
    "q8_trained_langid" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val labeled = docs.where(pmod(col("doc_id"), lit(3)) =!= 2)
        .select(col("doc_id"), col("lang"), col("text"))
      val held = docs.where(pmod(col("doc_id"), lit(3)) === 2)
      graft.operators.LangId
        .trainPredict(labeled, held.select(col("doc_id"), col("text")))
        .join(held.select(col("doc_id"), col("lang")), "doc_id")
        .groupBy(col("lang"), col("pred_lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("doc_id")).as("id_checksum"),
          sum(col("score_micro")).as("score_checksum"))
        .orderBy(col("lang"), col("pred_lang"))
    }),

    // Q9: the q8 classifier COMPOSED with q7 — predicted language (not
    // the table column) keys the per-language LMs, i.e. the actual
    // CCNet front half: langid → per-language model per doc. Sampled
    // per-doc surprisals so the oracle volume stays bounded.
    "q9_langid_surprisal" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val labeled = docs.where(pmod(col("doc_id"), lit(3)) =!= 2)
        .select(col("lang"), col("text"))
      val held = docs.where(pmod(col("doc_id"), lit(3)) === 2)
        .select(col("doc_id"), col("text"))
      val pred = graft.operators.LangId.trainPredict(labeled, held)
      val keyed = held.join(pred.select(col("doc_id"),
        col("pred_lang").as("lang")), "doc_id")
      scored(LmSpec(Smoothing.AddHalf, perLang = true), keyed, keyed)
        .where(pmod(col("doc_id"), lit(5)) === 0)
        .orderBy(col("doc_id"))
    }),

    // Q10: TRIGRAM surprisal with bigram→unigram backoff — one order
    // closer to the 5-gram KenLM CCNet actually runs: each transition
    // scored by the highest-order model with an opinion (seen
    // (w1,w2,w3) context → trigram; else seen (w2,w3) → bigram; else
    // seen w2 → UNK mass; else uniform), all tiers integer micro-nats.
    // Train/score SPLIT (model on even docs, scored docs odd) so every
    // backoff tier genuinely fires at the gate SFs — self-trained, the
    // top tier always hits and the cascade would be dead code.
    "q10_trigram_surprisal" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      LmScore.surprisalTrigram(
          docs.where(pmod(col("doc_id"), lit(2)) === 0),
          docs.where(pmod(col("doc_id"), lit(2)) === 1))
        .where(pmod(col("doc_id"), lit(25)) === 1)
        .orderBy(col("doc_id"))
    }),

    // Q11: interpolated KNESER-NEY bigram surprisal — the KenLM
    // ESTIMATOR CCNet actually runs (q5/q10's add-½ + stupid backoff
    // is the right skeleton with the wrong estimator: a word seen
    // 1000× in one document gets the same backoff mass as one spread
    // over 1000 documents; KN redistributes discounted mass by
    // CONTINUATION counts — how many distinct contexts a word
    // follows). Same train/score split as q10 so the
    // unseen-context/unseen-word interpolation arms genuinely fire;
    // d = 3/4 rational, all terms exact-integer-valued doubles, one
    // floor-quantized micro-nat per transition, BIGINT sums — the
    // whole recurrence hash-matches DuckDB. The bursty-vs-spread
    // ranking flip add-½ cannot express is LmScoreSpec-pinned.
    "q11_kn_surprisal" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      scored(LmSpec(Smoothing.Kn, perLang = false),
          docs.where(pmod(col("doc_id"), lit(2)) === 0),
          docs.where(pmod(col("doc_id"), lit(2)) === 1))
        .where(pmod(col("doc_id"), lit(25)) === 1)
        .orderBy(col("doc_id"))
    }),

    // Q12: TRIGRAM interpolated Kneser-Ney — q11's estimator at q10's
    // order, i.e. the full KenLM recurrence shape: top-level trigram
    // counts, CONTINUATION-count bigram and unigram levels (the KN
    // signature — how many distinct contexts a word continues), one
    // rational discount, interpolation instead of a backoff cliff.
    // Same train/score split so every interpolation arm fires; the
    // per-level scaled numerators telescope exactly (LmScoreSpec pins
    // the identities on hand counts).
    "q12_kn_trigram_surprisal" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      LmScore.surprisalKnTrigram(
          docs.where(pmod(col("doc_id"), lit(2)) === 0),
          docs.where(pmod(col("doc_id"), lit(2)) === 1))
        .where(pmod(col("doc_id"), lit(25)) === 1)
        .orderBy(col("doc_id"))
    }),

    // Q13: MODIFIED Kneser-Ney bigram surprisal — q11's estimator with
    // KenLM's DEFAULT discount configuration: three discounts D1/D2/D3+
    // derived from the corpus's own count-of-counts instead of the
    // single rational d = 3/4, each seen bigram discounted by its own
    // count tier's D, redistributed mass per-w1 tier-weighted. The
    // discounts are rationals of integer count-of-counts evaluated with
    // identical IEEE association on both engines. Same train/score
    // split; the modified-vs-interpolated ranking flip is
    // LmScoreSpec-pinned.
    "q13_mkn_surprisal" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      scored(LmSpec(Smoothing.Mkn, perLang = false),
          docs.where(pmod(col("doc_id"), lit(2)) === 0),
          docs.where(pmod(col("doc_id"), lit(2)) === 1))
        .where(pmod(col("doc_id"), lit(25)) === 1)
        .orderBy(col("doc_id"))
    }),

    // S23: DSIR importance weights — target = the English slice,
    // raw = the whole corpus; hashed-bigram log-likelihood ratios in
    // micro-nats (Xie et al. importance resampling, the data-mixing
    // refinement of s13's scalar importance sampling)
    "s23_dsir_weights" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      LmScore.dsirWeights(docs, docs.where(col("lang") === "en"))
        .where(pmod(col("doc_id"), lit(25)) === 0)
        .orderBy(col("doc_id"))
    }),

    // C8: the c2 cluster stage composed with q5's LM score as the
    // survivor rule — the LM, not a length heuristic, decides which
    // near-duplicate copy enters the training set (CCNet-style)
    "c8_lm_survivor_clusters" -> ((s, dir) =>
      graft.operators.Dedup.lmSurvivorClusters(Tables.documents(s, dir),
        k = 3, bands = 8, rowsPerBand = 4, threshold = 0.05)),

    // C9: c8 with the CCNet-faithful TARGET-domain LM — the model is
    // trained on the English slice, PERSISTED (LmScore.save), and
    // survivor selection scores every cluster member against the loaded
    // artifact, so a duplicate-heavy cluster
    // cannot inflate its own phrasing's probability. The full persisted
    // lifecycle (train → save → load → score) runs inside the query;
    // the oracle re-derives the same deterministic model from the same
    // slice (DuckDB cannot see the scratch path — save≡train is
    // LmScoreSpec-pinned)
    "c9_target_lm_survivors" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      DedupQueries.withIndexScratch(s, "c9_lm") { path =>
        LmScore.save(LmSpec(Smoothing.AddHalf, perLang = false),
          docs.where(col("lang") === "en"), path)
        graft.operators.Dedup.lmSurvivorClustersAgainstLm(docs, s, path,
          k = 3, bands = 8, rowsPerBand = 4, threshold = 0.05)
      }
    })
  )

  def oracles: Map[String, String] = Map(

    "q5_bigram_surprisal" ->
      s"""WITH ${LmScore.surprisalSql("documents")}
         |SELECT doc_id, n_bigrams, logp_micro, surprisal
         |FROM scored WHERE doc_id % 25 = 0 ORDER BY doc_id""".stripMargin,

    "q6_ccnet_buckets" ->
      s"""WITH ${LmScore.surprisalSql("documents")},
         |scored_lang AS (
         |  SELECT s.doc_id, d.lang, s.surprisal
         |  FROM scored s JOIN documents d ON s.doc_id = d.doc_id),
         |bucketed AS (${LmScore.ccnetBucketsSql("scored_lang")})
         |SELECT lang, bucket, count(*) AS n_docs,
         |  CAST(sum(doc_id) AS BIGINT) AS id_checksum,
         |  min(surprisal) AS min_surprisal,
         |  max(surprisal) AS max_surprisal
         |FROM bucketed GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q7_per_lang_surprisal" ->
      s"""WITH ${LmScore.surprisalPerLangSql("documents")}
         |SELECT doc_id, lang, n_bigrams, logp_micro, surprisal
         |FROM scored_pl WHERE doc_id % 25 = 0 ORDER BY doc_id""".stripMargin,

    "q8_trained_langid" -> {
      val chain = graft.operators.LangId.trainPredictSql(
        "(SELECT doc_id, lang, text FROM documents WHERE doc_id % 3 <> 2) tr",
        "(SELECT doc_id, text FROM documents WHERE doc_id % 3 = 2) sc")
      s"""WITH $chain
         |SELECT d.lang, p.pred_lang, COUNT(*) AS n_docs,
         |       CAST(SUM(d.doc_id) AS BIGINT) AS id_checksum,
         |       CAST(SUM(p.score_micro) AS BIGINT) AS score_checksum
         |FROM li_pred p JOIN documents d ON d.doc_id = p.doc_id
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    },

    "q9_langid_surprisal" -> {
      val liChain = graft.operators.LangId.trainPredictSql(
        "(SELECT doc_id, lang, text FROM documents WHERE doc_id % 3 <> 2) tr",
        "(SELECT doc_id, text FROM documents WHERE doc_id % 3 = 2) sc")
      val plChain = LmScore.surprisalPerLangSql(
        "(SELECT d.doc_id, p.pred_lang AS lang, d.text FROM documents d " +
          "JOIN li_pred p ON p.doc_id = d.doc_id " +
          "WHERE d.doc_id % 3 = 2) pl")
      s"""WITH $liChain,
         |$plChain
         |SELECT doc_id, lang, n_bigrams, logp_micro, surprisal
         |FROM scored_pl WHERE doc_id % 5 = 0 ORDER BY doc_id""".stripMargin
    },

    "q10_trigram_surprisal" ->
      s"""WITH ${LmScore.surprisalTrigramSql(
             "(SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0) tr",
             "(SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1) sc")}
         |SELECT doc_id, n_trigrams, logp_micro, surprisal
         |FROM scored3 WHERE doc_id % 25 = 1 ORDER BY doc_id""".stripMargin,

    "q11_kn_surprisal" ->
      s"""WITH ${LmScore.surprisalKnSql(
             "(SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0) tr",
             "(SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1) sc")}
         |SELECT doc_id, n_bigrams, logp_micro, surprisal
         |FROM kscored WHERE doc_id % 25 = 1 ORDER BY doc_id""".stripMargin,

    "q12_kn_trigram_surprisal" ->
      s"""WITH ${LmScore.surprisalKnTrigramSql(
             "(SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0) tr",
             "(SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1) sc")}
         |SELECT doc_id, n_trigrams, logp_micro, surprisal
         |FROM ktscored WHERE doc_id % 25 = 1 ORDER BY doc_id""".stripMargin,

    "q13_mkn_surprisal" ->
      s"""WITH ${LmScore.surprisalMknSql(
             "(SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0) tr",
             "(SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1) sc")}
         |SELECT doc_id, n_bigrams, logp_micro, surprisal
         |FROM mscored WHERE doc_id % 25 = 1 ORDER BY doc_id""".stripMargin,

    "s23_dsir_weights" ->
      s"""WITH ${LmScore.dsirWeightsSql("documents", "tt.lang = 'en'")}
         |SELECT doc_id, n_feats, weight_micro
         |FROM weights WHERE doc_id % 25 = 0 ORDER BY doc_id""".stripMargin,

    "c8_lm_survivor_clusters" -> graft.operators.Dedup
      .lmSurvivorClustersSql(k = 3, bands = 8, rowsPerBand = 4,
        threshold = 0.05),

    "c9_target_lm_survivors" -> graft.operators.Dedup
      .lmSurvivorClustersAgainstLmSql(
        "(SELECT doc_id, text FROM documents WHERE lang = 'en') tgt",
        k = 3, bands = 8, rowsPerBand = 4, threshold = 0.05)
  )
}
