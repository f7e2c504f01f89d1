package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.PolyHash64

/** TRAINED language identification — the classifier CCNet actually
  * runs ahead of its per-language stages (fastText langid), where
  * t15's stopword heuristic is the engine's only in-table-free lang
  * signal: a multinomial Naive Bayes over HASHED CHARACTER TRIGRAMS.
  * Same feature space as fastText's langid (hashed char n-grams), same
  * linear decision function (NB IS a linear model over feature
  * counts); the count-based closed form replaces SGD so training is
  * deterministic and the whole model — train, score, argmax — has an
  * exact DuckDB twin under the engine's integer micro-nat discipline
  * (no LBFGS fixpoint, the reason [[QualityClassifier]] carries no
  * oracle). For the gradient-trained variant of the same shape see
  * [[QualityClassifier.trainMulticlass]] (spec-pinned, no oracle).
  *
  * Scale shape (100 TB): training aggregates the labeled cohort to a
  * (lang × buckets)-bounded count table (two hash-agg shuffles with
  * map-side combine — training cohorts are small by design, but the
  * pass is distributed regardless); scoring is map-side after ONE
  * broadcast of the model table: feature extraction is an in-row
  * explode, the model join is broadcast-hash (the table is ≤
  * |langs|·buckets rows of three fixed-width columns), and the
  * per-doc argmax is one hash aggregation keyed on doc_id — no
  * shuffle touches anything corpus-sized except that final per-doc
  * sum. Plan-pinned in LangIdSpec.
  *
  * Scoring math, all BIGINT micro-nats (order-independent sums):
  *   score(d, l) = prior(l) + Σ_f cnt_{d,f} · lp(f|l)
  *               = prior(l) + T_d·lp_unseen(l) + Σ_{f seen in l} cnt_{d,f}·dlp(f,l)
  * with dlp(f,l) = lp(f|l) − lp_unseen(l), so the model join only
  * needs rows for (f, l) pairs the training corpus SAW; unseen
  * features fold into the closed-form base term. Add-½ smoothing over
  * `buckets` hash buckets; prior add-½ over |langs|. Ties break to
  * the lexicographically smallest lang (exact integer compare, so the
  * tie rule is engine-stable). Documents shorter than one trigram
  * (< 3 chars) have no features and emit no row — callers LEFT-join
  * predictions back when they need every doc; the SQL twin replays
  * the same inner rule.
  */
object LangId {

  /** Default hash-bucket count — large enough that trigram collisions
    * are rare for real alphabets, small enough that the model table
    * always broadcasts. */
  val Buckets = 4096

  /** Hashed char-trigram stream of `docs` + passthrough columns:
    * map-side only — ONE in-row pass per doc
    * ([[graft.functions.CharTrigramBuckets]] decodes the codepoints
    * once and emits every position's bucketed poly_hash64), then an
    * explode of bare longs. Bit-identical to the former
    * explode(sequence)+substring+poly_hash64+pmod chain (spec-pinned
    * in LangIdSpec), ~35% cheaper on the corpus scan: the old shape
    * paid two allocations per character position. */
  private def feats(docs: DataFrame, textCol: String, buckets: Int,
                    keep: Seq[String]): DataFrame = {
    val cols = keep.map(col) :+ lower(col(textCol)).as("t")
    docs.select(cols: _*)
      .where(length(col("t")) >= 3)
      .select((keep.map(col) :+
        explode(graft.functions.Registry.charTrigramBuckets(col("t"), buckets))
          .as("f")): _*)
  }

  /** Train on a labeled cohort (doc_id, lang, textCol). Returns
    * (model, langConst):
    *  - model: (lang, f, dlp) — seen-feature log-prob deltas;
    *  - langConst: (lang, lp_unseen, prior) — one row per language.
    * Both are broadcast-sized by construction. */
  def train(labeled: DataFrame, textCol: String = "text",
            buckets: Int = Buckets): (DataFrame, DataFrame) = {
    val b = lit(buckets.toDouble)
    // the count table feeds the model rows AND the per-lang totals —
    // checkpoint so the labeled corpus is read once (the LmScore.train
    // pattern); the table is (lang × buckets)-bounded
    val c = feats(labeled, textCol, buckets, Seq("lang"))
      .groupBy(col("lang"), col("f")).agg(count(lit(1)).as("cf"))
      .localCheckpoint()
    val n = c.groupBy(col("lang")).agg(sum(col("cf")).as("n"))
    val model = c.join(n, "lang")
      .select(col("lang"), col("f"),
        (LmScore.lpMicro(col("cf") + lit(0.5), col("n") + lit(0.5) * b) -
          LmScore.lpMicro(lit(0.5), col("n") + lit(0.5) * b)).as("dlp"))
    val dl = labeled.groupBy(col("lang")).agg(count(lit(1)).as("nd"))
    val tot = dl.agg(sum(col("nd")).cast("double").as("nd_all"),
      count(lit(1)).cast("double").as("nl"))
    // `buckets` rides langConst so predict() can verify it was handed
    // the bucket count the model was trained under — a mismatch would
    // silently mis-bucket every feature (garbage scores, no error)
    val langConst = n.join(dl, "lang").crossJoin(broadcast(tot))
      .select(col("lang"),
        LmScore.lpMicro(lit(0.5), col("n") + lit(0.5) * b).as("lp_unseen"),
        LmScore.lpMicro(col("nd") + lit(0.5),
          col("nd_all") + lit(0.5) * col("nl")).as("prior"),
        lit(buckets).as("buckets"))
    (model, langConst)
  }

  /** Predict the language of every doc in `docs` with ≥ 1 trigram:
    * (doc_id, pred_lang, score_micro). Map-side scoring after one
    * broadcast of the model (see the object scaladoc). `buckets` must
    * be the count [[train]] ran under — verified at runtime against
    * the bucket count langConst carries (assert_true on the
    * #langs-row broadcast side: zero extra jobs, loud on mismatch).
    *
    * PRECONDITION: `doc_id` must be unique in `docs` (one text per id).
    * The per-doc trigram total is a map-side length formula per INPUT
    * ROW; a duplicated doc_id would pair the per-doc feature sum
    * (aggregated across the duplicates) with each row's own tf, mixing
    * totals in the argmax. The upstream tables guarantee uniqueness;
    * callers scoring ad-hoc frames must dedup first. */
  def predict(model: DataFrame, langConst: DataFrame, docs: DataFrame,
              textCol: String = "text", buckets: Int = Buckets): DataFrame = {
    val lc =
      if (langConst.columns.contains("buckets"))
        langConst
          .where(assert_true(col("buckets") === lit(buckets),
            concat(lit(s"LangId.predict called with buckets=$buckets but " +
              "the model was trained with buckets="),
              col("buckets").cast("string"))).isNull)
          .drop("buckets")
      else langConst
    // feature stream NOT pinned, deliberately: the frame is
    // corpus-sized (docs × distinct buckets per doc) — parking a
    // corpus-scale block in memory is the wrong trade (LmScore pins
    // only the vocab-bounded COUNT tables for the same reason)
    val fs = feats(docs, textCol, buckets, Seq("doc_id"))
      .groupBy(col("doc_id"), col("f")).agg(count(lit(1)).as("cnt"))
    // per-doc total trigram count is a MAP-SIDE formula of the text
    // (every position i in 1..len-2 emits exactly one bucketed
    // feature), not a second pass over the feature stream — this
    // halves the corpus-scale scan cost of scoring; same ≥3-char
    // inner-row rule as feats()
    val tot = docs.select(col("doc_id"), lower(col(textCol)).as("t"))
      .where(length(col("t")) >= 3)
      .select(col("doc_id"), (length(col("t")) - 2).cast("long").as("tf"))
    val seen = fs.join(broadcast(model), "f")
      .groupBy(col("doc_id"), col("lang"))
      .agg(sum(col("cnt") * col("dlp")).as("s"))
    argmax(tot.crossJoin(broadcast(lc))
      .join(seen, Seq("doc_id", "lang"), "left")
      .select(col("doc_id"), col("lang"),
        (col("prior") + col("tf") * col("lp_unseen") +
          coalesce(col("s"), lit(0L))).as("score")))
  }

  /** The per-doc argmax fold over (doc_id, lang, score) rows — shared
    * by [[predict]] and (as the batch half of the equality spec) the
    * streaming enrich, which runs the same min-struct rule in a
    * stateless group shell. Smallest (-score, lang) struct = highest
    * score, ties to the lexicographically smallest lang — one hash
    * agg, no window. */
  private def argmax(scored: DataFrame): DataFrame =
    scored
      .groupBy(col("doc_id"))
      .agg(min(struct((-col("score")).as("ns"), col("lang"))).as("m"))
      .select(col("doc_id"), col("m.lang").as("pred_lang"),
        (-col("m.ns")).as("score_micro"))

  /** AGGREGATION-FREE per-(doc, lang) score PARTS of `docs` under the
    * persisted model at `path` — shared by the persisted-model batch
    * scorer and graft.streaming.DocStreams.langIdEnrich so the batch
    * and continuous classification paths score identically and cannot
    * drift. Two map-side row streams unioned: one BASE row per
    * (scoreable doc × lang) carrying prior + tf·lp_unseen, and one
    * DELTA row per (feature occurrence × lang seen for that feature)
    * carrying dlp. score(doc, lang) = Σ v over the doc's rows — the
    * per-occurrence sum equals [[predict]]'s cnt·dlp form exactly
    * (integer micro-nats, order-free), and no row needs a streaming-
    * unsupported aggregation before the per-doc fold (the reason for
    * this shape: Append-mode streams reject groupBy below the shell).
    * Docs with < 1 trigram emit nothing — [[predict]]'s rule. */
  def langScorePartsAgainst(docs: DataFrame,
                            spark: org.apache.spark.sql.SparkSession,
                            path: String,
                            textCol: String = "text"): DataFrame = {
    val (model, lc0) = loadLangId(spark, path)
    // the modulus comes from the artifact itself — mis-bucketing is
    // impossible by construction, so no runtime assert needed here
    val buckets = lc0.select(col("buckets")).head().getInt(0)
    val lc = lc0.drop("buckets")
    val base = docs.select(col("doc_id"), lower(col(textCol)).as("t"))
      .where(length(col("t")) >= 3)
      .select(col("doc_id"), (length(col("t")) - 2).cast("long").as("tf"))
      .crossJoin(broadcast(lc))
      .select(col("doc_id"), col("lang"),
        (col("prior") + col("tf") * col("lp_unseen")).as("v"))
    val deltas = feats(docs, textCol, buckets, Seq("doc_id"))
      .join(broadcast(model), "f")
      .select(col("doc_id"), col("lang"), col("dlp").as("v"))
    base.unionByName(deltas)
  }

  /** Persist a trained classifier at `path` — the fastText stance for
    * the d14 question ("train once, classify every batch"): `li_model/`
    * (lang, f, dlp) lang-PARTITIONED + `li_const/` one row per lang,
    * the bucket count riding the const table so a probe can never
    * band features under the wrong modulus (garbage scores, no
    * error — the r14 finding [[predict]] guards against). Retrain-not-
    * patch like the LM families (the deltas are corpus globals);
    * atomic replacement of a LIVE model rides
    * [[Maintenance.retrainAndSwap]], whose nightly detects the
    * `li_model/` root. */
  def saveLangId(labeled: DataFrame, path: String,
                 textCol: String = "text", buckets: Int = Buckets): Unit = {
    val (model, langConst) = train(labeled, textCol, buckets)
    model.write.mode("overwrite").partitionBy("lang")
      .parquet(s"$path/li_model")
    langConst.coalesce(1).write.mode("overwrite").parquet(s"$path/li_const")
  }

  /** The persisted layout: (directory, stated DDL) of the model and
    * const tables. Stated schemas skip parquet inference on every
    * load; `lang STRING` keeps numeric language codes from loading as
    * integer partitions ([[LmScore.load]]'s reason). */
  private[graft] val layout: Seq[(String, String)] = Seq(
    "li_model" -> "f BIGINT, dlp BIGINT, lang STRING",
    "li_const" -> "lang STRING, lp_unseen BIGINT, prior BIGINT, buckets INT")

  /** (model, langConst) at `path`, read with the [[layout]] schemas. */
  def loadLangId(spark: org.apache.spark.sql.SparkSession, path: String)
      : (DataFrame, DataFrame) = {
    val Seq(model, const) = layout.map { case (dir, ddl) =>
      spark.read.schema(org.apache.spark.sql.types.StructType.fromDDL(ddl))
        .parquet(s"$path/$dir")
    }
    (model, const)
  }

  /** Predict against the PERSISTED classifier at `path` — equals
    * [[trainPredict]] row for row when the artifact was saved from the
    * same labeled slice (spec-pinned; the per-occurrence delta sum is
    * integer-exact, so the parts form and predict's cnt·dlp form
    * agree bit for bit). The bucket count comes from the artifact
    * itself, so a caller cannot mis-bucket by construction. */
  def predictAgainstLangId(docs: DataFrame,
                           spark: org.apache.spark.sql.SparkSession,
                           path: String,
                           textCol: String = "text"): DataFrame =
    argmax(langScorePartsAgainst(docs, spark, path, textCol)
      .groupBy(col("doc_id"), col("lang"))
      .agg(sum(col("v")).as("score")))

  /** Train-and-predict in one call (train on `labeled`, predict over
    * `docs`). */
  def trainPredict(labeled: DataFrame, docs: DataFrame,
                   textCol: String = "text",
                   buckets: Int = Buckets): DataFrame = {
    val (model, langConst) = train(labeled, textCol, buckets)
    predict(model, langConst, docs, textCol, buckets)
  }

  /** DuckDB twin of [[trainPredict]] as a CTE chain ending in
    * `li_pred` (doc_id, pred_lang, score_micro). CTE names are
    * li_-prefixed so the chain composes with the LM chains
    * (surprisalPerLangSql etc.) in one oracle. */
  def trainPredictSql(trainFrom: String, scoreFrom: String,
                      textExpr: String = "text",
                      buckets: Int = Buckets): String = {
    val h = PolyHash64.sql("substr(t, i, 3)")
    def featsSql(alias: String, from: String, cols: String) =
      s"""$alias AS (
         |  SELECT $cols, ($h) % $buckets AS f
         |  FROM (SELECT *, lower($textExpr) AS t FROM $from) d,
         |       LATERAL (SELECT unnest(range(1, length(t) - 1)) AS i) g
         |  WHERE length(t) >= 3)""".stripMargin
    s"""${featsSql("li_ft", trainFrom, "lang")},
       |li_c AS (SELECT lang, f, count(*) AS cf FROM li_ft GROUP BY 1, 2),
       |li_n AS (SELECT lang, sum(cf) AS n FROM li_c GROUP BY 1),
       |li_model AS (SELECT lang, f,
       |    ${LmScore.lpMicroSql("cf + 0.5", s"n + 0.5*$buckets")} -
       |    ${LmScore.lpMicroSql("0.5", s"n + 0.5*$buckets")} AS dlp
       |  FROM li_c JOIN li_n USING (lang)),
       |li_dl AS (SELECT lang, count(*) AS nd FROM $trainFrom GROUP BY 1),
       |li_tot AS (SELECT CAST(sum(nd) AS DOUBLE) AS nd_all,
       |                  CAST(count(*) AS DOUBLE) AS nl FROM li_dl),
       |li_lc AS (SELECT lang,
       |    ${LmScore.lpMicroSql("0.5", s"n + 0.5*$buckets")} AS lp_unseen,
       |    ${LmScore.lpMicroSql("nd + 0.5", "nd_all + 0.5*nl")} AS prior
       |  FROM li_n JOIN li_dl USING (lang) CROSS JOIN li_tot),
       |${featsSql("li_fx", scoreFrom, "doc_id")},
       |li_fs AS (SELECT doc_id, f, count(*) AS cnt FROM li_fx GROUP BY 1, 2),
       |li_tf AS (SELECT doc_id, sum(cnt) AS tf FROM li_fs GROUP BY 1),
       |li_seen AS (SELECT doc_id, lang, sum(cnt * dlp) AS s
       |            FROM li_fs JOIN li_model USING (f) GROUP BY 1, 2),
       |li_sc AS (
       |  SELECT t.doc_id, l.lang,
       |         CAST(l.prior + t.tf * l.lp_unseen + COALESCE(sn.s, 0)
       |              AS BIGINT) AS score
       |  FROM li_tf t CROSS JOIN li_lc l
       |  LEFT JOIN li_seen sn ON sn.doc_id = t.doc_id AND sn.lang = l.lang),
       |li_pred AS (
       |  SELECT doc_id, lang AS pred_lang, score AS score_micro
       |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
       |          ORDER BY score DESC, lang) AS rn FROM li_sc) z
       |  WHERE rn = 1)""".stripMargin.replace("\n", " ")
  }
}
