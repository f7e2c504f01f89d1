package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{PolyHash64, TextFunctions => TF}

/** N-gram language-model quality scoring — the CCNet/KenLM stage the
  * reference pipeline lacks (its quality gates are rule-based; see
  * SURVEY §2.10): train a bigram LM on a reference slice, score every
  * document by average per-token surprisal, and bucket each language's
  * documents into head/middle/tail thirds (CCNet's split) for curation.
  * Also implements DSIR-style hashed-n-gram importance weights (target
  * vs raw log-likelihood ratio) for importance resampling.
  *
  * ONE bigram core serves every estimator and scope. An [[LmSpec]]
  * names the estimator ([[Smoothing]]: add-½, interpolated Kneser–Ney,
  * modified Kneser–Ney) and whether `lang` keys one model per language;
  * a global model is the same plan with an empty key set, its one-row
  * meta table cross-joining as a broadcast scalar. Every consumer —
  * the q5–q13 queries, the c8–c20 curation gates, the streaming
  * enrich — runs the same four steps:
  *
  *   [[train]] (spec, docs)      → [[LmModel]]  count table → u1/cont/meta → lm
  *   [[save]] / [[load]]         ↔ a directory with stated schemas
  *   [[lpRows]] (model, docs)    → (doc_id[, lang], lp) per transition
  *   [[score]] (model, docs)     → (doc_id[, lang], n_bigrams, logp_micro, surprisal)
  *
  * Each estimator contributes only its meta, u1 and seen-bigram lp
  * expressions (in [[train]]) and its per-transition interpolation arms
  * (in [[lpRows]]). The two trigram scorers ([[surprisalTrigram]],
  * [[surprisalKnTrigram]]) keep their own recurrences; the `*Sql`
  * builders are the DuckDB oracle twins and are independent of the core.
  *
  * Relation to t9/t11 (TextQueries): those likelihood scores stay in
  * LINEAR fixed-point space precisely to dodge ln()'s cross-engine ulp
  * drift, at the cost of not being the actual LM quantity (a product of
  * probabilities collapses to its largest terms in linear space). This
  * operator pays the log-domain piper once, with quantization:
  *
  * Engine-exactness design (the part that makes these oracle-gateable):
  * `ln` is the one operation here with no cross-engine bit guarantee
  * (libm vs JVM intrinsics may differ in the last ulp), so every
  * log-probability is quantized ONCE to integer micro-nats —
  * `floor(ln(num/den)*1e6 + 0.5)` — and all downstream aggregation is
  * BIGINT sums (associative, order-independent; a float sum over an
  * arbitrary shuffle order would not hash-match any single-node oracle).
  * An ulp disagreement changes the quantized value only when
  * ln(p)*1e6 lands within ~1e-10 of a rounding boundary; the division
  * num/den itself is IEEE-exact in both engines. The KN family's
  * probabilities are ×4-scaled integer-valued numerators/denominators
  * promoted to DOUBLE with identical association on both engines.
  *
  * Scale shape (100 TB): bigram extraction is map-side (one native
  * word-gram explode, no join); counting is one hash-agg shuffle on
  * (keys, w1, w2) with map-side combine, checkpointed because it feeds
  * every model table; u1/cont/meta re-aggregate that (vocab-bounded)
  * count table, not the corpus. Per-language training is the SAME
  * shuffles as one model (`lang` joins the aggregation keys — no
  * per-language loop, no per-language hot partition). Scoring is two
  * or three left joins that AQE turns into broadcasts whenever the
  * vocabulary fits — no collected LM, no driver loop. Bucketing reuses
  * [[Ranking.globalRank]] with `lang` as the leading sort key, so
  * per-language ranks come out of ONE global range-partitioned rank
  * (rank − per-lang offset) with no per-language single partition.
  */
object LmScore {

  /** The bigram estimators. */
  sealed trait Smoothing
  object Smoothing {

    /** P(w2|w1) = (c12 + ½) / (c1 + ½·V), V = distinct continuations + 1
      * (UNK). An unseen w2 under a seen w1 takes the same formula with
      * c12 = 0 (the per-w1 `lp_unk`); an unseen w1 takes uniform 1/V. */
    case object AddHalf extends Smoothing

    /** Interpolated Kneser–Ney, the KenLM estimator CCNet runs (KenLM
      * uses modified KN at order 5; this is the exact interpolated
      * recurrence at order 2 with one rational discount d = ¾):
      *
      *   P(w2|w1) = max(c(w1,w2) − d, 0)/c(w1) + d·N1+(w1,·)/c(w1) · Pc(w2)
      *   Pc(w2)   = max(N1+(·,w2) − d, 0)/T + d·Du/T · 1/V
      *
      * N1+ are distinct-continuation / distinct-context counts, T the
      * distinct bigram-type total, Du the distinct continuation words,
      * V = Du + 1. Add-½ gives a word seen 1000× in ONE document the
      * same backoff mass as one spread over 1000 documents; KN
      * redistributes discounted mass by HOW MANY DISTINCT CONTEXTS a
      * word follows (Kneser & Ney 1995; Chen & Goodman 1999). Every
      * transition has positive mass — no backoff cliff, no flat penalty. */
    case object Kn extends Smoothing

    /** Modified Kneser–Ney, KenLM's default configuration at the bigram
      * level: three discounts derived from the count-of-counts
      * (nₖ = |{(w1,w2) : c(w1,w2) = k}|, Chen & Goodman 1998)
      *
      *   Y  = n₁ / (n₁ + 2·n₂)
      *   D₁ = 1 − 2·Y·n₂/n₁,  D₂ = 2 − 3·Y·n₃/n₂,  D₃₊ = 3 − 4·Y·n₄/n₃
      *
      * each seen bigram discounted by the D of its own count tier, the
      * redistributed mass γ(w1) = D₁·N₁(w1) + D₂·N₂(w1) + D₃₊·N₃₊(w1)
      * pre-folded into u1. The continuation level is [[Kn]]'s. A
      * spectrum that cannot estimate valid discounts (any nₖ = 0, or a
      * Dⱼ outside [0, j]) takes KenLM's `--discount_fallback`
      * 0.5/1/1.5 — per language when keyed, so a thin language never
      * poisons a rich one; meta's `estimated` flag records which arm
      * ran. Divisions are GREATEST-guarded so the fallback arm never
      * divides by zero (Spark yields Infinity there, DuckDB NULL). */
    case object Mkn extends Smoothing
  }

  /** What to train: an estimator, and whether `lang` keys one model per
    * language (CCNet's prescription) or one model covers every doc. */
  final case class LmSpec(smoothing: Smoothing, perLang: Boolean) {
    def keys: Seq[String] = if (perLang) Seq("lang") else Nil
  }

  /** A trained or loaded model; every table carries the spec's keys.
    *  - `lm`: seen bigrams (w1, w2, lp);
    *  - `u1`: per-w1 backoff — add-½ (w1, lp_unk), KN (w1, c1, n1p),
    *    modified KN (w1, c1, g);
    *  - `cont`: KN family only, continuation numerators (w2, pcnum);
    *  - `meta`: one row per key — add-½ (v, lp_unseen), KN (t, du, v,
    *    pcden, pcnum_unk), modified KN adds (d1, d2, d3, estimated). */
  final case class LmModel(spec: LmSpec, lm: DataFrame, u1: DataFrame,
                           cont: Option[DataFrame], meta: DataFrame) {
    private[LmScore] def tables: Seq[DataFrame] = Seq(lm, u1) ++ cont :+ meta
  }

  /** Stream of adjacent token pairs per document, carrying `keys`
    * (e.g. `lang`) through the map-side explode — no id→key join
    * shuffle. Documents with <2 tokens contribute nothing (a bigram
    * model has no estimate for them; callers LEFT-join scores back
    * when needed). */
  def bigrams(docs: DataFrame, textCol: String = "text",
              keys: Seq[String] = Nil): DataFrame =
    docs.select((col("doc_id") +: keys.map(col)) :+
        explode(graft.functions.Registry.wordGrams(col(textCol), 2)).as("b"): _*)
      .select((col("doc_id") +: keys.map(col)) ++
        Seq(col("b.w1").as("w1"), col("b.w2").as("w2")): _*)

  /** log((num)/(den)) in integer micro-nats. floor(x+0.5) rather than
    * round(): floor is exact on doubles in both engines, while ROUND's
    * half-away-from-zero vs half-up convention differs for negatives. */
  def lpMicro(num: Column, den: Column): Column =
    floor(log(num / den) * lit(1e6) + lit(0.5)).cast("long")

  /** `df` joined to a meta table: a broadcast cross join of its one row
    * when `keys` is empty, a broadcast equi-join on `keys` otherwise. */
  private def joinMeta(df: DataFrame, meta: DataFrame, keys: Seq[String],
                       how: String): DataFrame =
    if (keys.isEmpty) df.crossJoin(broadcast(meta))
    else df.join(broadcast(meta), keys, how)

  /** Train the model `spec` names on `docs` (doc_id[, lang], textCol).
    * The count table is materialized once (`localCheckpoint`): it
    * feeds every model table and, through them, the scorer — without
    * the cut none of those branches share (AQE's broadcast conversions
    * defeat ReusedExchange) and the plan re-reads the whole training
    * corpus once per branch (measured: 14 parquet scans for q5). */
  def train(spec: LmSpec, docs: DataFrame, textCol: String = "text"): LmModel = {
    val k = spec.keys
    def kc(names: String*): Seq[Column] = (k ++ names).map(col)
    def withMeta(df: DataFrame, meta: DataFrame) = joinMeta(df, meta, k, "inner")
    val c12 = bigrams(docs, textCol, k)
      .groupBy(kc("w1", "w2"): _*).agg(count(lit(1)).as("c12"))
      .localCheckpoint()
    spec.smoothing match {
      case Smoothing.AddHalf =>
        val c1 = c12.groupBy(kc("w1"): _*).agg(sum(col("c12")).as("c1"))
        val v = c12.groupBy(kc(): _*)
          .agg((countDistinct(col("w2")) + 1).cast("double").as("v"))
        val lm = withMeta(c12.join(c1, k :+ "w1"), v)
          .select(kc("w1", "w2") :+ lpMicro(col("c12") + lit(0.5),
            col("c1") + lit(0.5) * col("v")).as("lp"): _*)
        val unk = withMeta(c1, v)
          .select(kc("w1") :+ lpMicro(lit(0.5),
            col("c1") + lit(0.5) * col("v")).as("lp_unk"): _*)
        val meta = v.select(kc("v") :+
          lpMicro(lit(1.0), col("v")).as("lp_unseen"): _*)
        LmModel(spec, lm, unk, None, meta)
      case kn =>
        val mkn = kn == Smoothing.Mkn
        def tier(p: Column): Column = sum(when(p, lit(1L)).otherwise(lit(0L)))
        val counts = c12.groupBy(kc(): _*).agg(
          count(lit(1)).cast("double").as("t"),
          (countDistinct(col("w2")).cast("double").as("du") +:
            (if (mkn) (1 to 4).map(i => tier(col("c12") === i).as(s"n$i"))
             else Nil)): _*)
        val knMeta = Seq(col("t"), col("du"), (col("du") + lit(1.0)).as("v"),
          (lit(4.0) * col("t") * (col("du") + lit(1.0))).as("pcden"),
          (lit(3) * col("du")).as("pcnum_unk"))
        val meta =
          if (!mkn) counts.select(k.map(col) ++ knMeta: _*)
          else counts
            .withColumn("y",
              col("n1") / greatest(col("n1") + lit(2.0) * col("n2"), lit(1.0)))
            .withColumn("d1r", lit(1.0) -
              lit(2.0) * col("y") * col("n2") / greatest(col("n1"), lit(1L)))
            .withColumn("d2r", lit(2.0) -
              lit(3.0) * col("y") * col("n3") / greatest(col("n2"), lit(1L)))
            .withColumn("d3r", lit(3.0) -
              lit(4.0) * col("y") * col("n4") / greatest(col("n3"), lit(1L)))
            .withColumn("ok",
              col("n1") > 0 && col("n2") > 0 && col("n3") > 0 && col("n4") > 0 &&
                col("d1r") >= 0 && col("d1r") <= 1 &&
                col("d2r") >= 0 && col("d2r") <= 2 &&
                col("d3r") >= 0 && col("d3r") <= 3)
            .select(k.map(col) ++ knMeta ++ Seq(
              when(col("ok"), col("d1r")).otherwise(lit(0.5)).as("d1"),
              when(col("ok"), col("d2r")).otherwise(lit(1.0)).as("d2"),
              when(col("ok"), col("d3r")).otherwise(lit(1.5)).as("d3"),
              col("ok").as("estimated")): _*)
        val u1 =
          if (!mkn) c12.groupBy(kc("w1"): _*)
            .agg(sum(col("c12")).as("c1"), count(lit(1)).as("n1p"))
          else withMeta(
            c12.groupBy(kc("w1"): _*).agg(sum(col("c12")).as("c1"),
              tier(col("c12") === 1).as("nn1"), tier(col("c12") === 2).as("nn2"),
              tier(col("c12") >= 3).as("nn3")),
            meta.select(kc("d1", "d2", "d3"): _*))
            .select(kc("w1", "c1") :+ (col("d1") * col("nn1") +
              col("d2") * col("nn2") + col("d3") * col("nn3")).as("g"): _*)
        // ×4·T·V-scaled continuation numerator — precomputed per w2 so
        // the scorer's per-row arithmetic is one multiply-add
        val cont = withMeta(
            c12.groupBy(kc("w2"): _*).agg(count(lit(1)).as("nc")),
            meta.select(kc("v", "du"): _*))
          .select(kc("w2") :+ ((lit(4) * col("nc") - lit(3)) * col("v") +
            lit(3) * col("du")).as("pcnum"): _*)
        val lp =
          if (!mkn) lpMicro(
            (lit(4) * col("c12") - lit(3)) * col("pcden") +
              lit(3) * col("n1p") * col("pcnum"),
            lit(4) * col("c1") * col("pcden"))
          else lpMicro(
            (col("c12") - when(col("c12") === 1, col("d1"))
              .when(col("c12") === 2, col("d2"))
              .otherwise(col("d3"))) * col("pcden") +
              col("g") * col("pcnum"),
            col("c1") * col("pcden"))
        val lm = withMeta(c12.join(u1, k :+ "w1").join(cont, k :+ "w2"), meta)
          .select(kc("w1", "w2") :+ lp.as("lp"): _*)
        LmModel(spec, lm, u1, Some(cont), meta)
    }
  }

  /** The persisted layout of an [[LmModel]], in `tables` order, meta
    * last as the commit marker. Model tables are lang-PARTITIONED when
    * keyed (a scorer for one language prunes to its own partition); the
    * meta table is one small file with `lang` first. `lang STRING`
    * keeps a numeric-looking code ("001") from loading as an integer
    * partition column the string-keyed join would silently miss. */
  private[graft] def artifact(spec: LmSpec): graft.sources.Artifact = {
    val bigram = "w1 STRING, w2 STRING, lp BIGINT"
    val cont = "w2 STRING, pcnum DOUBLE"
    val knMeta = "t DOUBLE, du DOUBLE, v DOUBLE, pcden DOUBLE, pcnum_unk DOUBLE"
    val tables = spec.smoothing match {
      case Smoothing.AddHalf => Seq("bigrams" -> bigram,
        "unigrams" -> "w1 STRING, lp_unk BIGINT",
        "meta" -> "v DOUBLE, lp_unseen BIGINT")
      case Smoothing.Kn => Seq("kn_bigrams" -> bigram,
        "kn_u1" -> "w1 STRING, c1 BIGINT, n1p BIGINT",
        "kn_cont" -> cont, "kn_meta" -> knMeta)
      case Smoothing.Mkn => Seq("mkn_bigrams" -> bigram,
        "mkn_u1" -> "w1 STRING, c1 BIGINT, g DOUBLE",
        "mkn_cont" -> cont, "mkn_meta" ->
          s"$knMeta, d1 DOUBLE, d2 DOUBLE, d3 DOUBLE, estimated BOOLEAN")
    }
    val stated =
      if (!spec.perLang) tables.map { case (d, ddl) => graft.sources.Table(d, ddl) }
      else tables.init.map { case (d, ddl) =>
        graft.sources.Table(d, s"$ddl, lang STRING", "lang")
      } :+ graft.sources.Table(tables.last._1, s"lang STRING, ${tables.last._2}")
    graft.sources.Artifact("n-gram LM", "LmScore.save", stated.last.dir)(stated: _*)
  }

  /** Train `spec` on `train` and persist it at `path` in [[artifact]].
    * An n-gram LM is retrained, not patched — counts are corpus
    * globals, so no partial update preserves the smoothing
    * denominators — hence plain overwrite semantics, no merge log;
    * atomic replacement of a LIVE model dir rides
    * [[Maintenance.retrainAndSwap]]. */
  def save(spec: LmSpec, train: DataFrame, path: String,
           textCol: String = "text"): Unit = {
    val a = artifact(spec)
    a.tables.zip(this.train(spec, train, textCol).tables).foreach { case (st, t) =>
      st.writer(if (st.dir == a.marker) t.coalesce(1) else t).mode("overwrite")
        .parquet(st.at(path))
    }
  }

  /** The model `spec` persisted at `path`, read with its stated schemas. */
  def load(spark: SparkSession, spec: LmSpec, path: String): LmModel = {
    val t = artifact(spec).tables.map(_.read(spark, path))
    LmModel(spec, t.head, t(1), if (t.size == 4) Some(t(2)) else None, t.last)
  }

  /** The estimator whose persisted layout sits at a model root, told
    * apart by its seen-bigram directory; `exists` probes a directory
    * name under the root. */
  def persistedSmoothing(exists: String => Boolean): Option[Smoothing] =
    Seq(Smoothing.AddHalf, Smoothing.Kn, Smoothing.Mkn)
      .find(s => exists(artifact(LmSpec(s, perLang = false)).tables.head.dir))

  /** Per-transition log-prob stream of `docs` (doc_id[, lang], textCol)
    * under `model`: (doc_id[, lang], lp). The one scoring join
    * skeleton — seen-bigram table, per-w1 table, continuation table
    * (KN family), meta — with each estimator's interpolation arms:
    *  - add-½: seen bigram → lp; seen w1 → lp_unk; else uniform 1/V;
    *  - KN: seen bigram → lp; seen w1 → the continuation-weighted
    *    backoff; else the continuation distribution itself (an OOV w2
    *    takes the UNK continuation share);
    *  - modified KN: KN's arms with γ(w1) as the backoff weight.
    * A keyed model adds a trailing 0L arm for a document whose language
    * has NO model — reachable only when train and score corpora differ
    * (a persisted target model): lp 0 per transition, "no opinion",
    * rather than a NULL-poisoned sum. The SQL twins carry the same arm.
    *
    * Shared by [[score]] and the streaming enrich
    * (graft.streaming.DocStreams), so the two cannot drift: on a stream
    * the final per-doc sum runs in a stateless group shell instead of
    * groupBy, but every lp this emits is identical.
    *
    * Join strategy is deliberately left to AQE rather than hinted: a
    * saturated real-corpus vocabulary keeps the model tables far under
    * the broadcast threshold (AQE converts the joins — PlanSpec-pinned
    * at realistic vocab), while the synthetic vocab-grows-with-corpus
    * ramp (PipelineScaleBench's per-token rewrite) legitimately needs
    * the shuffle fallback; a forced broadcast() would OOM exactly
    * there. The fallback shuffles on (w1, w2), whose hottest keys are
    * the most frequent bigrams — functional, and the documented cost
    * of an unsaturated vocab. */
  def lpRows(model: LmModel, docs: DataFrame, textCol: String = "text"): DataFrame = {
    val k = model.spec.keys
    val seen = bigrams(docs, textCol, k)
      .join(model.lm, k ++ Seq("w1", "w2"), "left")
      .join(model.u1, k :+ "w1", "left")
    val withMeta = joinMeta(
      model.cont.fold(seen)(seen.join(_, k :+ "w2", "left")), model.meta, k, "left")
    val pcnumC = coalesce(col("pcnum"), col("pcnum_unk"))
    val lp = model.spec.smoothing match {
      case Smoothing.AddHalf =>
        coalesce(col("lp"), col("lp_unk"), col("lp_unseen"))
      case Smoothing.Kn =>
        when(col("lp").isNotNull, col("lp"))
          .when(col("c1").isNotNull,
            lpMicro(lit(3) * col("n1p") * pcnumC,
              lit(4) * col("c1") * col("pcden")))
          .otherwise(lpMicro(pcnumC, col("pcden")))
      case Smoothing.Mkn =>
        when(col("lp").isNotNull, col("lp"))
          .when(col("c1").isNotNull,
            lpMicro(col("g") * pcnumC, col("c1") * col("pcden")))
          .otherwise(lpMicro(pcnumC, col("pcden")))
    }
    withMeta.select((col("doc_id") +: k.map(col)) :+
      (if (k.isEmpty) lp else coalesce(lp, lit(0L))).as("lp"): _*)
  }

  /** Per-document (doc_id[, lang], n_bigrams, logp_micro BIGINT,
    * surprisal DOUBLE = −logp_micro/n_bigrams, i.e. mean micro-nats per
    * transition; lower is more fluent) of `docs` under `model` — the
    * BIGINT fold over [[lpRows]]. */
  def score(model: LmModel, docs: DataFrame, textCol: String = "text"): DataFrame =
    lpRows(model, docs, textCol)
      .groupBy(col("doc_id") +: model.spec.keys.map(col): _*)
      .agg(count(lit(1)).as("n_bigrams"), sum(col("lp")).as("logp_micro"))
      .withColumn("surprisal",
        -col("logp_micro").cast("double") / col("n_bigrams"))

  // ------------------------------------------------ trigram scorers (q10/q12)

  /** Adjacent token TRIPLES per document: map-side, same shape as
    * [[bigrams]] one order up. Documents with <3 tokens contribute
    * nothing (the trigram analog of the <2 bigram rule). */
  private def trigrams(docs: DataFrame, textCol: String): DataFrame =
    docs.select(col("doc_id"),
        explode(graft.functions.Registry.wordGrams(col(textCol), 3)).as("g"))
      .select(col("doc_id"), col("g.w1").as("w1"),
        col("g.w2").as("w2"), col("g.w3").as("w3"))

  /** Stupid-backoff penalty in integer micro-nats: ln(0.4)·10⁶,
    * quantized with the same floor(x+0.5) rule as [[lpMicro]]. Brants
    * et al. 2007's α≈0.4 — a transition scored by a lower-order tier
    * pays this fixed cost relative to one the top tier covered, so
    * falling out of the trigram table is never free (without it the
    * surprisal spread the CCNet gate buckets on is compressed). A pure
    * integer add, so the BIGINT-sum discipline is untouched. */
  val BackoffPenaltyMicro: Long = -916291L

  /** TRIGRAM surprisal with bigram→unigram backoff (q10) — one order
    * closer to the 5-gram KenLM CCNet actually runs than add-½ [[score]]:
    * P(w3|w1w2) add-½-smoothed for trigrams OBSERVED in training
    * (the table has rows only for seen (w1,w2,w3); any unseen trigram
    * — even under a seen context — backs off), falling back to the
    * BIGRAM estimate P(w3|w2) (the same add-½ table [[train]]
    * builds), then to the per-w2 UNK mass, then to uniform 1/V — each
    * transition scored by the HIGHEST-order model with an opinion,
    * with every backed-off tier paying the fixed
    * [[BackoffPenaltyMicro]] (stupid backoff's α=0.4; one level of
    * backoff here, since the bigram/UNK/uniform arms are all "the
    * bigram model's opinion"). Exact integer micro-nats at every tier
    * (one ln per model row, BIGINT sums everywhere — the whole
    * cascade hash-matches DuckDB). For the principled estimator fix
    * (discounted mass moved to CONTINUATION counts rather than a flat
    * penalty) see [[Smoothing.Kn]].
    * Scale shape: one extra hash-agg shuffle for the trigram count
    * table (context totals re-aggregate THAT table, not the corpus;
    * checkpointed like c12), the scoring join keyed (w1,w2,w3) —
    * broadcast-able at saturated vocab exactly like [[lpRows]], with
    * the same documented shuffle fallback. Output: (doc_id,
    * n_trigrams, logp_micro, surprisal). */
  def surprisalTrigram(train: DataFrame, docs: DataFrame,
                       textCol: String = "text"): DataFrame = {
    val c123 = trigrams(train, textCol)
      .groupBy(col("w1"), col("w2"), col("w3"))
      .agg(count(lit(1)).as("c123"))
      .localCheckpoint()
    val c12t = c123.groupBy(col("w1"), col("w2")).agg(sum(col("c123")).as("ctx"))
    val v3 = c123.agg((countDistinct(col("w3")) + 1).cast("double").as("v3"))
    val lm3 = c123.join(c12t, Seq("w1", "w2")).crossJoin(broadcast(v3))
      .select(col("w1"), col("w2"), col("w3"),
        lpMicro(col("c123") + lit(0.5), col("ctx") + lit(0.5) * col("v3"))
          .as("lp3"))
    val bg = this.train(LmSpec(Smoothing.AddHalf, perLang = false), train, textCol)
    val uni = bg.meta.select(col("lp_unseen"))
    trigrams(docs, textCol)
      .join(lm3, Seq("w1", "w2", "w3"), "left")
      .join(bg.lm.select(col("w1").as("w2"), col("w2").as("w3"),
        col("lp").as("lp2")), Seq("w2", "w3"), "left")
      .join(bg.u1.select(col("w1").as("w2"), col("lp_unk")), Seq("w2"), "left")
      .crossJoin(broadcast(uni))
      .select(col("doc_id"),
        coalesce(col("lp3"), col("lp2") + lit(BackoffPenaltyMicro),
          col("lp_unk") + lit(BackoffPenaltyMicro),
          col("lp_unseen") + lit(BackoffPenaltyMicro)).as("lp"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_trigrams"), sum(col("lp")).as("logp_micro"))
      .withColumn("surprisal",
        -col("logp_micro").cast("double") / col("n_trigrams"))
  }

  /** TRIGRAM interpolated Kneser-Ney (q12) — [[Smoothing.Kn]] one order
    * up, i.e. the actual KenLM recurrence shape at order 3 (KenLM runs
    * modified KN at order 5; this is interpolated KN with a single
    * rational discount d = 3/4 at every level):
    *
    *   P(w3|w1w2) = max(c123−d,0)/c12 + d·N1+(w1w2·)/c12 · Pm(w3|w2)
    *   Pm(w3|w2)  = max(cm−d,0)/cm2  + d·N1+(w2·)m/cm2  · Pb(w3)
    *   Pb(w3)     = max(nb−d,0)/TB   + d·DuB/TB · 1/V
    *
    * with the LOWER levels estimated from CONTINUATION counts, the KN
    * signature: cm(w2,w3) = |{w1 : (w1,w2,w3) seen}| (how many distinct
    * contexts the bigram continues, not how often it occurs), and
    * nb(w3) = |{w2 : cm(w2,w3) ≥ 1}|. Unseen (w1,w2) contexts score
    * Pm directly; unseen w2 scores Pb — a seen top context implies a
    * seen mid context (∃w3 ⇒ (w2,w3) in the mid table), so every arm
    * is total. The ×4-scaled numerators telescope exactly like
    * the KN bigram's (per-level sums equal the level denominator —
    * spec-pinned on hand counts), all products mirrored term for term
    * in the SQL twin. Scale shape: the trigram count table is the one
    * corpus-keyed shuffle (checkpointed, five consumers); mid/bot/meta
    * re-aggregate it; scoring is four left joins, broadcast-able at
    * saturated vocab. Output: (doc_id, n_trigrams, logp_micro,
    * surprisal). */
  def surprisalKnTrigram(train: DataFrame, docs: DataFrame,
                         textCol: String = "text"): DataFrame = {
    val kt3 = trigrams(train, textCol)
      .groupBy(col("w1"), col("w2"), col("w3"))
      .agg(count(lit(1)).as("c123"))
      .localCheckpoint()
    val ktc = kt3.groupBy(col("w1"), col("w2"))
      .agg(sum(col("c123")).as("c12t"), count(lit(1)).as("n1pt"))
    // mid level: continuation counts — distinct contexts per (w2,w3)
    val mid = kt3.groupBy(col("w2"), col("w3"))
      .agg(countDistinct(col("w1")).as("cm"))
    val mc = mid.groupBy(col("w2"))
      .agg(sum(col("cm")).as("cm2"), count(lit(1)).as("n1pm"))
    val metab = mid
      .agg(count(lit(1)).cast("double").as("tb"),
        countDistinct(col("w3")).cast("double").as("dub"))
      .select(col("tb"), col("dub"), (col("dub") + lit(1.0)).as("v"),
        (lit(4.0) * col("tb") * (col("dub") + lit(1.0))).as("pbden"),
        (lit(3) * col("dub")).as("pbnum_unk"))
    val pb = mid.groupBy(col("w3")).agg(count(lit(1)).as("nb"))
      .crossJoin(broadcast(metab.select(col("v"), col("dub"))))
      .select(col("w3"),
        ((lit(4) * col("nb") - lit(3)) * col("v") + lit(3) * col("dub"))
          .as("pbnum"))
    val pmden = mc.crossJoin(broadcast(metab.select(col("pbden"))))
      .select(col("w2"), col("n1pm"),
        (lit(4) * col("cm2") * col("pbden")).as("pmden"))
    val pm2 = mid.join(mc, "w2").join(pb, "w3")
      .crossJoin(broadcast(metab.select(col("pbden"))))
      .select(col("w2"), col("w3"),
        ((lit(4) * col("cm") - lit(3)) * col("pbden") +
          lit(3) * col("n1pm") * col("pbnum")).as("pmnum"))
    val lm3 = kt3.join(ktc, Seq("w1", "w2"))
      .join(pm2, Seq("w2", "w3"))
      .join(pmden.select(col("w2"), col("pmden")), "w2")
      .select(col("w1"), col("w2"), col("w3"),
        lpMicro(
          (lit(4) * col("c123") - lit(3)) * col("pmden") +
            lit(3) * col("n1pt") * col("pmnum"),
          lit(4) * col("c12t") * col("pmden")).as("lp3"))
    val pbnumX = coalesce(col("pbnum"), col("pbnum_unk"))
    val pmnumX = coalesce(col("pmnum"),
      lit(3) * col("n1pm") * pbnumX)
    trigrams(docs, textCol)
      .join(lm3, Seq("w1", "w2", "w3"), "left")
      .join(ktc, Seq("w1", "w2"), "left")
      .join(pm2, Seq("w2", "w3"), "left")
      .join(pmden.select(col("w2"), col("n1pm"), col("pmden")),
        Seq("w2"), "left")
      .join(pb, Seq("w3"), "left")
      .crossJoin(broadcast(metab.select(col("pbden"), col("pbnum_unk"))))
      .select(col("doc_id"),
        when(col("lp3").isNotNull, col("lp3"))
          .when(col("c12t").isNotNull,
            lpMicro(lit(3) * col("n1pt") * pmnumX,
              lit(4) * col("c12t") * col("pmden")))
          .when(col("pmden").isNotNull, lpMicro(pmnumX, col("pmden")))
          .otherwise(lpMicro(pbnumX, col("pbden"))).as("lp"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_trigrams"), sum(col("lp")).as("logp_micro"))
      .withColumn("surprisal",
        -col("logp_micro").cast("double") / col("n_trigrams"))
  }

  // ------------------------------------------------ DuckDB oracle twins

  /** DuckDB twin of [[bigrams]] as a CTE body over `from`. */
  def bigramsSql(from: String, textExpr: String = "text"): String = {
    val toks = TF.wsTokensSql(s"lower($textExpr)")
    s"""SELECT doc_id, t[i] AS w1, t[i+1] AS w2
       |FROM (SELECT doc_id, $toks AS t FROM $from) d,
       |     LATERAL (SELECT unnest(range(1, len(t))) AS i) g
       |WHERE len(t) >= 2""".stripMargin.replace("\n", " ")
  }

  def lpMicroSql(num: String, den: String): String =
    s"CAST(floor(ln(($num)/($den)) * 1000000 + 0.5) AS BIGINT)"

  /** DuckDB twin of add-½ global [[score]] (train = score = `from`), as a CTE
    * chain ending in relation `scored`. */
  def surprisalSql(from: String, textExpr: String = "text"): String =
    s"""bg AS (${bigramsSql(from, textExpr)}),
       |c12 AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2),
       |c1 AS (SELECT w1, sum(c12) AS c1 FROM c12 GROUP BY 1),
       |vv AS (SELECT CAST(count(DISTINCT w2) + 1 AS DOUBLE) AS v FROM c12),
       |lm AS (SELECT w1, w2,
       |         ${lpMicroSql("c12 + 0.5", "c1 + 0.5*v")} AS lp
       |       FROM c12 JOIN c1 USING (w1) CROSS JOIN vv),
       |unk AS (SELECT w1, ${lpMicroSql("0.5", "c1 + 0.5*v")} AS lp_unk
       |        FROM c1 CROSS JOIN vv),
       |scored AS (
       |  SELECT doc_id, count(*) AS n_bigrams,
       |         CAST(sum(lp2) AS BIGINT) AS logp_micro,
       |         -CAST(sum(lp2) AS DOUBLE) / count(*) AS surprisal
       |  FROM (SELECT bg.doc_id,
       |          COALESCE(lm.lp, unk.lp_unk,
       |                   ${lpMicroSql("1.0", "v")}) AS lp2
       |        FROM bg LEFT JOIN lm USING (w1, w2)
       |                LEFT JOIN unk USING (w1) CROSS JOIN vv) s
       |  GROUP BY doc_id)""".stripMargin.replace("\n", " ")

  /** DuckDB twin of add-½ global [[score]] with DISTINCT train and score
    * relations — the target-domain-LM form (c9): the model's counts
    * come from `trainFrom` (any relation or parenthesized+aliased
    * subquery), the scored stream from `scoreFrom`. Same CTE contract
    * as [[surprisalSql]] (ends in `scored`); that one stays the
    * single-relation emitter so the q5/q6/c8 oracle texts — and their
    * sf1.0 staged-runner cost — don't change. */
  def surprisalTrainScoreSql(trainFrom: String, scoreFrom: String,
                             textExpr: String = "text"): String =
    s"""bgt AS (${bigramsSql(trainFrom, textExpr)}),
       |c12 AS (SELECT w1, w2, count(*) AS c12 FROM bgt GROUP BY 1, 2),
       |c1 AS (SELECT w1, sum(c12) AS c1 FROM c12 GROUP BY 1),
       |vv AS (SELECT CAST(count(DISTINCT w2) + 1 AS DOUBLE) AS v FROM c12),
       |lm AS (SELECT w1, w2,
       |         ${lpMicroSql("c12 + 0.5", "c1 + 0.5*v")} AS lp
       |       FROM c12 JOIN c1 USING (w1) CROSS JOIN vv),
       |unk AS (SELECT w1, ${lpMicroSql("0.5", "c1 + 0.5*v")} AS lp_unk
       |        FROM c1 CROSS JOIN vv),
       |bgs AS (${bigramsSql(scoreFrom, textExpr)}),
       |scored AS (
       |  SELECT doc_id, count(*) AS n_bigrams,
       |         CAST(sum(lp2) AS BIGINT) AS logp_micro,
       |         -CAST(sum(lp2) AS DOUBLE) / count(*) AS surprisal
       |  FROM (SELECT bgs.doc_id,
       |          COALESCE(lm.lp, unk.lp_unk,
       |                   ${lpMicroSql("1.0", "v")}) AS lp2
       |        FROM bgs LEFT JOIN lm USING (w1, w2)
       |                LEFT JOIN unk USING (w1) CROSS JOIN vv) s
       |  GROUP BY doc_id)""".stripMargin.replace("\n", " ")

  /** DuckDB twin of add-½ per-language [[score]] (train = score =
    * `from`): CTE chain ending in
    * `scored_pl` (doc_id, lang, n_bigrams, logp_micro, surprisal). */
  def surprisalPerLangSql(from: String, textExpr: String = "text"): String = {
    val toks = TF.wsTokensSql(s"lower($textExpr)")
    s"""bgl AS (
       |  SELECT doc_id, lang, t[i] AS w1, t[i+1] AS w2
       |  FROM (SELECT doc_id, lang, $toks AS t FROM $from) d,
       |       LATERAL (SELECT unnest(range(1, len(t))) AS i) g
       |  WHERE len(t) >= 2),
       |c12l AS (SELECT lang, w1, w2, count(*) AS c12
       |         FROM bgl GROUP BY 1, 2, 3),
       |c1l AS (SELECT lang, w1, sum(c12) AS c1 FROM c12l GROUP BY 1, 2),
       |vl AS (SELECT lang, CAST(count(DISTINCT w2) + 1 AS DOUBLE) AS v
       |       FROM c12l GROUP BY 1),
       |lml AS (SELECT lang, w1, w2,
       |          ${lpMicroSql("c12 + 0.5", "c1 + 0.5*v")} AS lp
       |        FROM c12l JOIN c1l USING (lang, w1) JOIN vl USING (lang)),
       |unkl AS (SELECT lang, w1, ${lpMicroSql("0.5", "c1 + 0.5*v")} AS lp_unk
       |         FROM c1l JOIN vl USING (lang)),
       |unil AS (SELECT lang, ${lpMicroSql("1.0", "v")} AS lp_unseen FROM vl),
       |scored_pl AS (
       |  SELECT doc_id, lang, count(*) AS n_bigrams,
       |         CAST(sum(lp2) AS BIGINT) AS logp_micro,
       |         -CAST(sum(lp2) AS DOUBLE) / count(*) AS surprisal
       |  FROM (SELECT g.doc_id, g.lang,
       |          COALESCE(lml.lp, unkl.lp_unk, unil.lp_unseen, 0) AS lp2
       |        FROM bgl g
       |        LEFT JOIN lml USING (lang, w1, w2)
       |        LEFT JOIN unkl USING (lang, w1)
       |        LEFT JOIN unil USING (lang)) s
       |  GROUP BY doc_id, lang)""".stripMargin.replace("\n", " ")
  }

  /** DuckDB twin of add-½ per-language [[score]] against a [[load]]ed
    * model — per-language
    * models trained on `trainFrom`, scored over `scoreFrom` (both
    * need doc_id, lang, textExpr). DuckDB cannot read the persisted
    * model dir, so the twin re-derives the SAME deterministic models
    * from the same train slice (save≡train is LmScoreSpec-pinned —
    * the c9 pattern). Ends in `scored_pl`; the trailing 0 COALESCE
    * arm mirrors [[lpRows]]' no-model-for-this-language rule. */
  def surprisalPerLangTrainScoreSql(trainFrom: String, scoreFrom: String,
                                    textExpr: String = "text"): String = {
    val toks = TF.wsTokensSql(s"lower($textExpr)")
    def bgl(alias: String, from: String) =
      s"""$alias AS (
         |  SELECT doc_id, lang, t[i] AS w1, t[i+1] AS w2
         |  FROM (SELECT doc_id, lang, $toks AS t FROM $from) d,
         |       LATERAL (SELECT unnest(range(1, len(t))) AS i) g
         |  WHERE len(t) >= 2)""".stripMargin
    s"""${bgl("bglt", trainFrom)},
       |c12l AS (SELECT lang, w1, w2, count(*) AS c12
       |         FROM bglt GROUP BY 1, 2, 3),
       |c1l AS (SELECT lang, w1, sum(c12) AS c1 FROM c12l GROUP BY 1, 2),
       |vl AS (SELECT lang, CAST(count(DISTINCT w2) + 1 AS DOUBLE) AS v
       |       FROM c12l GROUP BY 1),
       |lml AS (SELECT lang, w1, w2,
       |          ${lpMicroSql("c12 + 0.5", "c1 + 0.5*v")} AS lp
       |        FROM c12l JOIN c1l USING (lang, w1) JOIN vl USING (lang)),
       |unkl AS (SELECT lang, w1, ${lpMicroSql("0.5", "c1 + 0.5*v")} AS lp_unk
       |         FROM c1l JOIN vl USING (lang)),
       |unil AS (SELECT lang, ${lpMicroSql("1.0", "v")} AS lp_unseen FROM vl),
       |${bgl("bgls", scoreFrom)},
       |scored_pl AS (
       |  SELECT doc_id, lang, count(*) AS n_bigrams,
       |         CAST(sum(lp2) AS BIGINT) AS logp_micro,
       |         -CAST(sum(lp2) AS DOUBLE) / count(*) AS surprisal
       |  FROM (SELECT g.doc_id, g.lang,
       |          COALESCE(lml.lp, unkl.lp_unk, unil.lp_unseen, 0) AS lp2
       |        FROM bgls g
       |        LEFT JOIN lml USING (lang, w1, w2)
       |        LEFT JOIN unkl USING (lang, w1)
       |        LEFT JOIN unil USING (lang)) s
       |  GROUP BY doc_id, lang)""".stripMargin.replace("\n", " ")
  }

  /** DuckDB twin of [[surprisalTrigram]] with DISTINCT train and score
    * relations (the form that actually exercises every backoff tier —
    * self-trained, the top tier always hits), ending in `scored3`. */
  def surprisalTrigramSql(trainFrom: String, scoreFrom: String,
                          textExpr: String = "text"): String = {
    val toks = TF.wsTokensSql(s"lower($textExpr)")
    def tgOf(alias: String, from: String) =
      s"""$alias AS (
         |  SELECT doc_id, t[i] AS w1, t[i+1] AS w2, t[i+2] AS w3
         |  FROM (SELECT doc_id, $toks AS t FROM $from) d,
         |       LATERAL (SELECT unnest(range(1, len(t) - 1)) AS i) g
         |  WHERE len(t) >= 3)""".stripMargin
    s"""${tgOf("tgt", trainFrom)},
       |c123 AS (SELECT w1, w2, w3, count(*) AS c123 FROM tgt GROUP BY 1, 2, 3),
       |c12t AS (SELECT w1, w2, sum(c123) AS ctx FROM c123 GROUP BY 1, 2),
       |v3 AS (SELECT CAST(count(DISTINCT w3) + 1 AS DOUBLE) AS v3 FROM c123),
       |lm3 AS (SELECT w1, w2, w3,
       |          ${lpMicroSql("c123 + 0.5", "ctx + 0.5*v3")} AS lp3
       |        FROM c123 JOIN c12t USING (w1, w2) CROSS JOIN v3),
       |bg AS (${bigramsSql(trainFrom, textExpr)}),
       |c12 AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2),
       |c1 AS (SELECT w1, sum(c12) AS c1 FROM c12 GROUP BY 1),
       |vv AS (SELECT CAST(count(DISTINCT w2) + 1 AS DOUBLE) AS v FROM c12),
       |lm2 AS (SELECT w1 AS w2, w2 AS w3,
       |          ${lpMicroSql("c12 + 0.5", "c1 + 0.5*v")} AS lp2
       |        FROM c12 JOIN c1 USING (w1) CROSS JOIN vv),
       |unk2 AS (SELECT w1 AS w2, ${lpMicroSql("0.5", "c1 + 0.5*v")} AS lp_unk
       |         FROM c1 CROSS JOIN vv),
       |${tgOf("tgs", scoreFrom)},
       |scored3 AS (
       |  SELECT doc_id, count(*) AS n_trigrams,
       |         CAST(sum(lp) AS BIGINT) AS logp_micro,
       |         -CAST(sum(lp) AS DOUBLE) / count(*) AS surprisal
       |  FROM (SELECT tgs.doc_id,
       |          COALESCE(lm3.lp3, lm2.lp2 + ($BackoffPenaltyMicro),
       |                   unk2.lp_unk + ($BackoffPenaltyMicro),
       |                   ${lpMicroSql("1.0", "v")} + ($BackoffPenaltyMicro)) AS lp
       |        FROM tgs LEFT JOIN lm3 USING (w1, w2, w3)
       |                LEFT JOIN lm2 USING (w2, w3)
       |                LEFT JOIN unk2 USING (w2) CROSS JOIN vv) s
       |  GROUP BY doc_id)""".stripMargin.replace("\n", " ")
  }

  /** DuckDB twin of KN global [[score]] with distinct train/score
    * relations, ending in CTE `kscored`. Expression association
    * mirrors the Spark side term for term (see the class doc's
    * engine-exactness note). */
  def surprisalKnSql(trainFrom: String, scoreFrom: String,
                     textExpr: String = "text"): String =
    s"""kbt AS (${bigramsSql(trainFrom, textExpr)}),
       |kc12 AS (SELECT w1, w2, count(*) AS c12 FROM kbt GROUP BY 1, 2),
       |ku1 AS (SELECT w1, sum(c12) AS c1, count(*) AS n1p
       |        FROM kc12 GROUP BY 1),
       |kmeta AS (SELECT t, du, du + 1.0 AS v, 4.0 * t * (du + 1.0) AS pcden,
       |                 3 * du AS pcnum_unk
       |          FROM (SELECT CAST(count(*) AS DOUBLE) AS t,
       |                       CAST(count(DISTINCT w2) AS DOUBLE) AS du
       |                FROM kc12)),
       |kcont AS (SELECT w2, (4 * nc - 3) * v + 3 * du AS pcnum
       |          FROM (SELECT w2, count(*) AS nc FROM kc12 GROUP BY 1)
       |          CROSS JOIN kmeta),
       |klm AS (SELECT kc12.w1, kc12.w2,
       |          ${lpMicroSql(
               "(4 * c12 - 3) * pcden + 3 * n1p * pcnum",
               "4 * c1 * pcden")} AS lp
       |        FROM kc12 JOIN ku1 USING (w1) JOIN kcont USING (w2)
       |        CROSS JOIN kmeta),
       |kbs AS (${bigramsSql(scoreFrom, textExpr)}),
       |kscored AS (
       |  SELECT doc_id, count(*) AS n_bigrams,
       |         CAST(sum(lp) AS BIGINT) AS logp_micro,
       |         -CAST(sum(lp) AS DOUBLE) / count(*) AS surprisal
       |  FROM (SELECT kbs.doc_id,
       |          CASE WHEN klm.lp IS NOT NULL THEN klm.lp
       |               WHEN ku1.c1 IS NOT NULL THEN
       |                 ${lpMicroSql(
               "3 * n1p * COALESCE(pcnum, pcnum_unk)",
               "4 * c1 * pcden")}
       |               ELSE ${lpMicroSql(
               "COALESCE(pcnum, pcnum_unk)", "pcden")} END AS lp
       |        FROM kbs LEFT JOIN klm USING (w1, w2)
       |                 LEFT JOIN ku1 USING (w1)
       |                 LEFT JOIN kcont USING (w2)
       |                 CROSS JOIN kmeta) s
       |  GROUP BY doc_id)""".stripMargin.replace("\n", " ")

  /** DuckDB twin of modified-KN global [[score]] with distinct train/score
    * relations, ending in CTE `mscored`. Discount arithmetic mirrors
    * the Spark side's association term for term (left-assoc products,
    * integer operands promoted to double at the same nodes). */
  def surprisalMknSql(trainFrom: String, scoreFrom: String,
                      textExpr: String = "text"): String =
    s"""mbt AS (${bigramsSql(trainFrom, textExpr)}),
       |mc12 AS (SELECT w1, w2, count(*) AS c12 FROM mbt GROUP BY 1, 2),
       |mmeta AS (
       |  SELECT t, du, du + 1.0 AS v, 4.0 * t * (du + 1.0) AS pcden,
       |         3 * du AS pcnum_unk,
       |         CASE WHEN ok THEN d1r ELSE 0.5 END AS d1,
       |         CASE WHEN ok THEN d2r ELSE 1.0 END AS d2,
       |         CASE WHEN ok THEN d3r ELSE 1.5 END AS d3
       |  FROM (SELECT t, du, d1r, d2r, d3r,
       |               n1 > 0 AND n2 > 0 AND n3 > 0 AND n4 > 0
       |               AND d1r >= 0 AND d1r <= 1 AND d2r >= 0 AND d2r <= 2
       |               AND d3r >= 0 AND d3r <= 3 AS ok
       |        FROM (SELECT t, du, n1, n2, n3, n4,
       |                     1.0 - 2.0 * y * n2 / GREATEST(n1, 1) AS d1r,
       |                     2.0 - 3.0 * y * n3 / GREATEST(n2, 1) AS d2r,
       |                     3.0 - 4.0 * y * n4 / GREATEST(n3, 1) AS d3r
       |              FROM (SELECT t, du, n1, n2, n3, n4,
       |                           n1 / GREATEST(n1 + 2.0 * n2, 1.0) AS y
       |                    FROM (SELECT CAST(count(*) AS DOUBLE) AS t,
       |                                 CAST(count(DISTINCT w2) AS DOUBLE) AS du,
       |                                 CAST(sum(CASE WHEN c12 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
       |                                 CAST(sum(CASE WHEN c12 = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
       |                                 CAST(sum(CASE WHEN c12 = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n3,
       |                                 CAST(sum(CASE WHEN c12 = 4 THEN 1 ELSE 0 END) AS BIGINT) AS n4
       |                          FROM mc12))))),
       |mu1 AS (
       |  SELECT w1, c1, d1 * nn1 + d2 * nn2 + d3 * nn3 AS g
       |  FROM (SELECT w1, sum(c12) AS c1,
       |               CAST(sum(CASE WHEN c12 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nn1,
       |               CAST(sum(CASE WHEN c12 = 2 THEN 1 ELSE 0 END) AS BIGINT) AS nn2,
       |               CAST(sum(CASE WHEN c12 >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS nn3
       |        FROM mc12 GROUP BY 1)
       |  CROSS JOIN mmeta),
       |mcont AS (SELECT w2, (4 * nc - 3) * v + 3 * du AS pcnum
       |          FROM (SELECT w2, count(*) AS nc FROM mc12 GROUP BY 1)
       |          CROSS JOIN mmeta),
       |mlm AS (SELECT mc12.w1, mc12.w2,
       |          ${lpMicroSql(
             "(c12 - CASE WHEN c12 = 1 THEN d1 WHEN c12 = 2 THEN d2 " +
               "ELSE d3 END) * pcden + g * pcnum",
             "c1 * pcden")} AS lp
       |        FROM mc12 JOIN mu1 USING (w1) JOIN mcont USING (w2)
       |        CROSS JOIN mmeta),
       |mbs AS (${bigramsSql(scoreFrom, textExpr)}),
       |mscored AS (
       |  SELECT doc_id, count(*) AS n_bigrams,
       |         CAST(sum(lp) AS BIGINT) AS logp_micro,
       |         -CAST(sum(lp) AS DOUBLE) / count(*) AS surprisal
       |  FROM (SELECT mbs.doc_id,
       |          CASE WHEN mlm.lp IS NOT NULL THEN mlm.lp
       |               WHEN mu1.c1 IS NOT NULL THEN
       |                 ${lpMicroSql(
             "g * COALESCE(pcnum, pcnum_unk)", "c1 * pcden")}
       |               ELSE ${lpMicroSql(
             "COALESCE(pcnum, pcnum_unk)", "pcden")} END AS lp
       |        FROM mbs LEFT JOIN mlm USING (w1, w2)
       |                 LEFT JOIN mu1 USING (w1)
       |                 LEFT JOIN mcont USING (w2)
       |                 CROSS JOIN mmeta) s
       |  GROUP BY doc_id)""".stripMargin.replace("\n", " ")

  /** DuckDB twin of KN per-language [[score]] (train = score = `from`),
    * ending in `kscored_pl` (doc_id, lang, n_bigrams, logp_micro,
    * surprisal). */
  def surprisalKnPerLangSql(from: String, textExpr: String = "text"): String = {
    val toks = TF.wsTokensSql(s"lower($textExpr)")
    s"""kbl AS (
       |  SELECT doc_id, lang, t[i] AS w1, t[i+1] AS w2
       |  FROM (SELECT doc_id, lang, $toks AS t FROM $from) d,
       |       LATERAL (SELECT unnest(range(1, len(t))) AS i) g
       |  WHERE len(t) >= 2),
       |kc12l AS (SELECT lang, w1, w2, count(*) AS c12
       |          FROM kbl GROUP BY 1, 2, 3),
       |ku1l AS (SELECT lang, w1, sum(c12) AS c1, count(*) AS n1p
       |         FROM kc12l GROUP BY 1, 2),
       |kmetal AS (SELECT lang, t, du, du + 1.0 AS v,
       |                  4.0 * t * (du + 1.0) AS pcden, 3 * du AS pcnum_unk
       |           FROM (SELECT lang, CAST(count(*) AS DOUBLE) AS t,
       |                        CAST(count(DISTINCT w2) AS DOUBLE) AS du
       |                 FROM kc12l GROUP BY 1)),
       |kcontl AS (SELECT lang, w2, (4 * nc - 3) * v + 3 * du AS pcnum
       |           FROM (SELECT lang, w2, count(*) AS nc
       |                 FROM kc12l GROUP BY 1, 2)
       |           JOIN kmetal USING (lang)),
       |klml AS (SELECT kc12l.lang, kc12l.w1, kc12l.w2,
       |           ${lpMicroSql(
             "(4 * c12 - 3) * pcden + 3 * n1p * pcnum",
             "4 * c1 * pcden")} AS lp
       |         FROM kc12l JOIN ku1l USING (lang, w1)
       |                    JOIN kcontl USING (lang, w2)
       |                    JOIN kmetal USING (lang)),
       |kscored_pl AS (
       |  SELECT doc_id, lang, count(*) AS n_bigrams,
       |         CAST(sum(lp) AS BIGINT) AS logp_micro,
       |         -CAST(sum(lp) AS DOUBLE) / count(*) AS surprisal
       |  FROM (SELECT g.doc_id, g.lang,
       |          COALESCE(
       |            CASE WHEN klml.lp IS NOT NULL THEN klml.lp
       |                 WHEN ku1l.c1 IS NOT NULL THEN
       |                   ${lpMicroSql(
             "3 * n1p * COALESCE(pcnum, pcnum_unk)",
             "4 * c1 * pcden")}
       |                 ELSE ${lpMicroSql(
             "COALESCE(pcnum, pcnum_unk)", "pcden")} END,
       |            0) AS lp
       |        FROM kbl g LEFT JOIN klml USING (lang, w1, w2)
       |                   LEFT JOIN ku1l USING (lang, w1)
       |                   LEFT JOIN kcontl USING (lang, w2)
       |                   LEFT JOIN kmetal USING (lang)) s
       |  GROUP BY doc_id, lang)""".stripMargin.replace("\n", " ")
  }

  /** DuckDB twin of KN per-language [[score]] against a [[load]]ed
    * model — per-language KN
    * models trained on `trainFrom`, scored over `scoreFrom` (both need
    * doc_id, lang, textExpr). DuckDB cannot read the persisted model
    * dir, so the twin re-derives the SAME deterministic models from
    * the same train slice (save≡train is LmScoreSpec-pinned — the
    * c9/c12 pattern). Ends in `kscored_pl`; the trailing COALESCE-0
    * arm mirrors the no-model-for-this-language rule. */
  def surprisalKnPerLangTrainScoreSql(trainFrom: String, scoreFrom: String,
                                      textExpr: String = "text"): String = {
    val toks = TF.wsTokensSql(s"lower($textExpr)")
    def bgl(alias: String, from: String) =
      s"""$alias AS (
         |  SELECT doc_id, lang, t[i] AS w1, t[i+1] AS w2
         |  FROM (SELECT doc_id, lang, $toks AS t FROM $from) d,
         |       LATERAL (SELECT unnest(range(1, len(t))) AS i) g
         |  WHERE len(t) >= 2)""".stripMargin
    s"""${bgl("kblt", trainFrom)},
       |kc12l AS (SELECT lang, w1, w2, count(*) AS c12
       |          FROM kblt GROUP BY 1, 2, 3),
       |ku1l AS (SELECT lang, w1, sum(c12) AS c1, count(*) AS n1p
       |         FROM kc12l GROUP BY 1, 2),
       |kmetal AS (SELECT lang, t, du, du + 1.0 AS v,
       |                  4.0 * t * (du + 1.0) AS pcden, 3 * du AS pcnum_unk
       |           FROM (SELECT lang, CAST(count(*) AS DOUBLE) AS t,
       |                        CAST(count(DISTINCT w2) AS DOUBLE) AS du
       |                 FROM kc12l GROUP BY 1)),
       |kcontl AS (SELECT lang, w2, (4 * nc - 3) * v + 3 * du AS pcnum
       |           FROM (SELECT lang, w2, count(*) AS nc
       |                 FROM kc12l GROUP BY 1, 2)
       |           JOIN kmetal USING (lang)),
       |klml AS (SELECT kc12l.lang, kc12l.w1, kc12l.w2,
       |           ${lpMicroSql(
             "(4 * c12 - 3) * pcden + 3 * n1p * pcnum",
             "4 * c1 * pcden")} AS lp
       |         FROM kc12l JOIN ku1l USING (lang, w1)
       |                    JOIN kcontl USING (lang, w2)
       |                    JOIN kmetal USING (lang)),
       |${bgl("kbls", scoreFrom)},
       |kscored_pl AS (
       |  SELECT doc_id, lang, count(*) AS n_bigrams,
       |         CAST(sum(lp) AS BIGINT) AS logp_micro,
       |         -CAST(sum(lp) AS DOUBLE) / count(*) AS surprisal
       |  FROM (SELECT g.doc_id, g.lang,
       |          COALESCE(
       |            CASE WHEN klml.lp IS NOT NULL THEN klml.lp
       |                 WHEN ku1l.c1 IS NOT NULL THEN
       |                   ${lpMicroSql(
             "3 * n1p * COALESCE(pcnum, pcnum_unk)",
             "4 * c1 * pcden")}
       |                 ELSE ${lpMicroSql(
             "COALESCE(pcnum, pcnum_unk)", "pcden")} END,
       |            0) AS lp
       |        FROM kbls g LEFT JOIN klml USING (lang, w1, w2)
       |                    LEFT JOIN ku1l USING (lang, w1)
       |                    LEFT JOIN kcontl USING (lang, w2)
       |                    LEFT JOIN kmetal USING (lang)) s
       |  GROUP BY doc_id, lang)""".stripMargin.replace("\n", " ")
  }

  /** DuckDB twin of modified-KN per-language [[score]] against a
    * [[load]]ed model — per-language
    * MODIFIED-KN models trained on `trainFrom`, scored over
    * `scoreFrom` (both need doc_id, lang, textExpr). DuckDB cannot
    * read the persisted model dir, so the twin re-derives the SAME
    * deterministic models from the same train slice (save≡train is
    * LmScoreSpec-pinned — the c12/c17 pattern). Discount arithmetic
    * mirrors [[train]]'s association term for term,
    * per language; ends in `mscored_pl`; the trailing COALESCE-0 arm
    * mirrors the no-model-for-this-language rule. */
  def surprisalMknPerLangTrainScoreSql(trainFrom: String, scoreFrom: String,
                                       textExpr: String = "text"): String = {
    val toks = TF.wsTokensSql(s"lower($textExpr)")
    def bgl(alias: String, from: String) =
      s"""$alias AS (
         |  SELECT doc_id, lang, t[i] AS w1, t[i+1] AS w2
         |  FROM (SELECT doc_id, lang, $toks AS t FROM $from) d,
         |       LATERAL (SELECT unnest(range(1, len(t))) AS i) g
         |  WHERE len(t) >= 2)""".stripMargin
    s"""${bgl("mblt", trainFrom)},
       |mc12l AS (SELECT lang, w1, w2, count(*) AS c12
       |          FROM mblt GROUP BY 1, 2, 3),
       |mmetal AS (
       |  SELECT lang, t, du, du + 1.0 AS v, 4.0 * t * (du + 1.0) AS pcden,
       |         3 * du AS pcnum_unk,
       |         CASE WHEN ok THEN d1r ELSE 0.5 END AS d1,
       |         CASE WHEN ok THEN d2r ELSE 1.0 END AS d2,
       |         CASE WHEN ok THEN d3r ELSE 1.5 END AS d3
       |  FROM (SELECT lang, t, du, d1r, d2r, d3r,
       |               n1 > 0 AND n2 > 0 AND n3 > 0 AND n4 > 0
       |               AND d1r >= 0 AND d1r <= 1 AND d2r >= 0 AND d2r <= 2
       |               AND d3r >= 0 AND d3r <= 3 AS ok
       |        FROM (SELECT lang, t, du, n1, n2, n3, n4,
       |                     1.0 - 2.0 * y * n2 / GREATEST(n1, 1) AS d1r,
       |                     2.0 - 3.0 * y * n3 / GREATEST(n2, 1) AS d2r,
       |                     3.0 - 4.0 * y * n4 / GREATEST(n3, 1) AS d3r
       |              FROM (SELECT lang, t, du, n1, n2, n3, n4,
       |                           n1 / GREATEST(n1 + 2.0 * n2, 1.0) AS y
       |                    FROM (SELECT lang,
       |                                 CAST(count(*) AS DOUBLE) AS t,
       |                                 CAST(count(DISTINCT w2) AS DOUBLE) AS du,
       |                                 CAST(sum(CASE WHEN c12 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
       |                                 CAST(sum(CASE WHEN c12 = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
       |                                 CAST(sum(CASE WHEN c12 = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n3,
       |                                 CAST(sum(CASE WHEN c12 = 4 THEN 1 ELSE 0 END) AS BIGINT) AS n4
       |                          FROM mc12l GROUP BY 1))))),
       |mu1l AS (
       |  SELECT lang, w1, c1, d1 * nn1 + d2 * nn2 + d3 * nn3 AS g
       |  FROM (SELECT lang, w1, sum(c12) AS c1,
       |               CAST(sum(CASE WHEN c12 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nn1,
       |               CAST(sum(CASE WHEN c12 = 2 THEN 1 ELSE 0 END) AS BIGINT) AS nn2,
       |               CAST(sum(CASE WHEN c12 >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS nn3
       |        FROM mc12l GROUP BY 1, 2)
       |  JOIN mmetal USING (lang)),
       |mcontl AS (SELECT lang, w2, (4 * nc - 3) * v + 3 * du AS pcnum
       |           FROM (SELECT lang, w2, count(*) AS nc
       |                 FROM mc12l GROUP BY 1, 2)
       |           JOIN mmetal USING (lang)),
       |mlml AS (SELECT mc12l.lang, mc12l.w1, mc12l.w2,
       |           ${lpMicroSql(
             "(c12 - CASE WHEN c12 = 1 THEN d1 WHEN c12 = 2 THEN d2 " +
               "ELSE d3 END) * pcden + g * pcnum",
             "c1 * pcden")} AS lp
       |         FROM mc12l JOIN mu1l USING (lang, w1)
       |                    JOIN mcontl USING (lang, w2)
       |                    JOIN mmetal USING (lang)),
       |${bgl("mbls", scoreFrom)},
       |mscored_pl AS (
       |  SELECT doc_id, lang, count(*) AS n_bigrams,
       |         CAST(sum(lp) AS BIGINT) AS logp_micro,
       |         -CAST(sum(lp) AS DOUBLE) / count(*) AS surprisal
       |  FROM (SELECT sc.doc_id, sc.lang,
       |          COALESCE(
       |            CASE WHEN mlml.lp IS NOT NULL THEN mlml.lp
       |                 WHEN mu1l.c1 IS NOT NULL THEN
       |                   ${lpMicroSql(
             "mu1l.g * COALESCE(pcnum, pcnum_unk)", "c1 * pcden")}
       |                 ELSE ${lpMicroSql(
             "COALESCE(pcnum, pcnum_unk)", "pcden")} END,
       |            0) AS lp
       |        FROM mbls sc LEFT JOIN mlml USING (lang, w1, w2)
       |                     LEFT JOIN mu1l USING (lang, w1)
       |                     LEFT JOIN mcontl USING (lang, w2)
       |                     LEFT JOIN mmetal USING (lang)) s
       |  GROUP BY doc_id, lang)""".stripMargin.replace("\n", " ")
  }

  /** DuckDB twin of [[surprisalKnTrigram]] with distinct train/score
    * relations, ending in `ktscored`; term association mirrored. */
  def surprisalKnTrigramSql(trainFrom: String, scoreFrom: String,
                            textExpr: String = "text"): String = {
    val toks = TF.wsTokensSql(s"lower($textExpr)")
    def tgOf(alias: String, from: String) =
      s"""$alias AS (
         |  SELECT doc_id, t[i] AS w1, t[i+1] AS w2, t[i+2] AS w3
         |  FROM (SELECT doc_id, $toks AS t FROM $from) d,
         |       LATERAL (SELECT unnest(range(1, len(t) - 1)) AS i) g
         |  WHERE len(t) >= 3)""".stripMargin
    s"""${tgOf("ktt", trainFrom)},
       |kt3 AS (SELECT w1, w2, w3, count(*) AS c123 FROM ktt GROUP BY 1, 2, 3),
       |ktc AS (SELECT w1, w2, sum(c123) AS c12t, count(*) AS n1pt
       |        FROM kt3 GROUP BY 1, 2),
       |kmid AS (SELECT w2, w3, count(DISTINCT w1) AS cm
       |         FROM kt3 GROUP BY 1, 2),
       |kmc AS (SELECT w2, sum(cm) AS cm2, count(*) AS n1pm
       |        FROM kmid GROUP BY 1),
       |kmetab AS (SELECT tb, dub, dub + 1.0 AS v,
       |                  4.0 * tb * (dub + 1.0) AS pbden,
       |                  3 * dub AS pbnum_unk
       |           FROM (SELECT CAST(count(*) AS DOUBLE) AS tb,
       |                        CAST(count(DISTINCT w3) AS DOUBLE) AS dub
       |                 FROM kmid)),
       |kpb AS (SELECT w3, (4 * nb - 3) * v + 3 * dub AS pbnum
       |        FROM (SELECT w3, count(*) AS nb FROM kmid GROUP BY 1)
       |        CROSS JOIN kmetab),
       |kpmden AS (SELECT w2, n1pm, 4 * cm2 * pbden AS pmden
       |           FROM kmc CROSS JOIN kmetab),
       |kpm AS (SELECT kmid.w2, kmid.w3,
       |          (4 * cm - 3) * pbden + 3 * n1pm * pbnum AS pmnum
       |        FROM kmid JOIN kmc USING (w2) JOIN kpb USING (w3)
       |        CROSS JOIN kmetab),
       |klm3 AS (SELECT kt3.w1, kt3.w2, kt3.w3,
       |           ${lpMicroSql(
             "(4 * c123 - 3) * pmden + 3 * n1pt * pmnum",
             "4 * c12t * pmden")} AS lp3
       |         FROM kt3 JOIN ktc USING (w1, w2)
       |                  JOIN kpm USING (w2, w3)
       |                  JOIN kpmden USING (w2)),
       |${tgOf("kts", scoreFrom)},
       |ktscored AS (
       |  SELECT doc_id, count(*) AS n_trigrams,
       |         CAST(sum(lp) AS BIGINT) AS logp_micro,
       |         -CAST(sum(lp) AS DOUBLE) / count(*) AS surprisal
       |  FROM (SELECT kts.doc_id,
       |          CASE WHEN klm3.lp3 IS NOT NULL THEN klm3.lp3
       |               WHEN ktc.c12t IS NOT NULL THEN
       |                 ${lpMicroSql(
             "3 * n1pt * COALESCE(pmnum, " +
               "3 * n1pm * COALESCE(pbnum, pbnum_unk))",
             "4 * c12t * pmden")}
       |               WHEN kpmden.pmden IS NOT NULL THEN
       |                 ${lpMicroSql(
             "COALESCE(pmnum, 3 * n1pm * COALESCE(pbnum, pbnum_unk))",
             "pmden")}
       |               ELSE ${lpMicroSql(
             "COALESCE(pbnum, pbnum_unk)", "pbden")} END AS lp
       |        FROM kts LEFT JOIN klm3 USING (w1, w2, w3)
       |                 LEFT JOIN ktc USING (w1, w2)
       |                 LEFT JOIN kpm USING (w2, w3)
       |                 LEFT JOIN kpmden USING (w2)
       |                 LEFT JOIN kpb USING (w3)
       |                 CROSS JOIN kmetab) s
       |  GROUP BY doc_id)""".stripMargin.replace("\n", " ")
  }

  // ------------------------------------------------ CCNet buckets, DSIR

  /** CCNet-style per-language head/middle/tail thirds by surprisal.
    * Input must carry (doc_id, lang, surprisal). Per-language rank =
    * ONE global exact rank under (lang, surprisal, doc_id) minus the
    * language's offset (a #langs-row broadcast) — no per-language
    * single-partition window. Boundaries use integer arithmetic
    * (rank·3 vs n, 2n) so the cut is engine-exact. */
  def ccnetBuckets(scored: DataFrame): DataFrame = {
    val ranked = Ranking.globalRank(scored,
      Seq(col("lang"), col("surprisal"), col("doc_id")), "_gr")
    val offs = ranked.groupBy(col("lang"))
      .agg((min(col("_gr")) - 1).as("_off"), count(lit(1)).as("_n"))
    ranked.join(broadcast(offs), "lang")
      .withColumn("_r", col("_gr") - col("_off"))
      .withColumn("bucket",
        when(col("_r") * 3 <= col("_n"), lit("head"))
          .when(col("_r") * 3 <= col("_n") * 2, lit("middle"))
          .otherwise(lit("tail")))
      .drop("_gr", "_off", "_r", "_n")
  }

  /** DuckDB twin of [[ccnetBuckets]] over relation `scored_lang`
    * (doc_id, lang, surprisal), as one SELECT. */
  def ccnetBucketsSql(rel: String = "scored_lang"): String =
    s"""SELECT * EXCLUDE (_r, _n),
       |  CASE WHEN _r * 3 <= _n THEN 'head'
       |       WHEN _r * 3 <= _n * 2 THEN 'middle'
       |       ELSE 'tail' END AS bucket
       |FROM (SELECT *,
       |        row_number() OVER (PARTITION BY lang
       |                           ORDER BY surprisal, doc_id) AS _r,
       |        count(*) OVER (PARTITION BY lang) AS _n
       |      FROM $rel) t""".stripMargin.replace("\n", " ")

  /** DSIR hashed-bigram importance weights (Xie et al., "Data Selection
    * for Language Models via Importance Resampling"): per-document
    * Σ_features [log P_target(f) − log P_raw(f)] over hashed bigram
    * features, in micro-nats. Positive weight ⇒ the document looks more
    * like `target` than like the raw background. Both feature
    * distributions are add-½-smoothed over `buckets` hash buckets.
    * Returns (doc_id, n_feats, weight_micro) for every raw doc with ≥1
    * bigram. One hash-agg per distribution (bucket-count tables are
    * `buckets`-sized ⇒ broadcast), one join back to the feature stream.
    */
  def dsirWeights(raw: DataFrame, target: DataFrame,
                  textCol: String = "text", buckets: Int = 8192): DataFrame = {
    def feats(d: DataFrame) = bigrams(d, textCol).select(col("doc_id"),
      pmod(PolyHash64.polyHash64(concat(col("w1"), lit(" "), col("w2"))),
        lit(buckets.toLong)).as("f"))
    // checkpoint the two bucket-count tables (<= `buckets` rows each):
    // each feeds both the ratio table and its total scalar — without
    // materialization each consumer re-derives the corpus feature
    // stream (same 14-scan pathology as train's count table)
    val cr = feats(raw).groupBy(col("f")).agg(count(lit(1)).as("cr"))
      .localCheckpoint()
    val ct = feats(target).groupBy(col("f")).agg(count(lit(1)).as("ct"))
      .localCheckpoint()
    val nr = cr.agg(sum(col("cr")).cast("double").as("nr"))
    val nt = ct.agg(sum(col("ct")).cast("double").as("nt"))
    val b = lit(buckets.toDouble)
    val tbl = cr.join(ct, Seq("f"), "full")
      .na.fill(0L, Seq("cr", "ct"))
      .crossJoin(broadcast(nr)).crossJoin(broadcast(nt))
      .select(col("f"),
        (lpMicro(col("ct") + lit(0.5), col("nt") + lit(0.5) * b) -
          lpMicro(col("cr") + lit(0.5), col("nr") + lit(0.5) * b)).as("w"))
    feats(raw).join(broadcast(tbl), "f")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_feats"), sum(col("w")).as("weight_micro"))
  }

  /** DuckDB twin of [[dsirWeights]]: CTE chain ending in `weights`.
    * `targetWhere` selects the target slice out of `from`. */
  def dsirWeightsSql(from: String, targetWhere: String,
                     textExpr: String = "text", buckets: Int = 8192): String = {
    val h = PolyHash64.sql("w1 || ' ' || w2")
    s"""bgr AS (${bigramsSql(from, textExpr)}),
       |fr AS (SELECT doc_id, ($h) % $buckets AS f FROM bgr),
       |ft AS (SELECT fr.doc_id, f FROM fr
       |       JOIN $from tt USING (doc_id) WHERE $targetWhere),
       |cr AS (SELECT f, count(*) AS cr FROM fr GROUP BY 1),
       |ct AS (SELECT f, count(*) AS ct FROM ft GROUP BY 1),
       |nr AS (SELECT CAST(sum(cr) AS DOUBLE) AS nr FROM cr),
       |nt AS (SELECT CAST(sum(ct) AS DOUBLE) AS nt FROM ct),
       |tbl AS (SELECT f,
       |    ${lpMicroSql(s"COALESCE(ct,0) + 0.5", s"nt + 0.5*$buckets")} -
       |    ${lpMicroSql(s"COALESCE(cr,0) + 0.5", s"nr + 0.5*$buckets")} AS w
       |  FROM cr FULL JOIN ct USING (f) CROSS JOIN nr CROSS JOIN nt),
       |weights AS (
       |  SELECT doc_id, count(*) AS n_feats,
       |         CAST(sum(w) AS BIGINT) AS weight_micro
       |  FROM fr JOIN tbl USING (f) GROUP BY doc_id)""".stripMargin
      .replace("\n", " ")
  }
}
