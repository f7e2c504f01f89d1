package graft.lexam

import scala.collection.immutable.ListMap
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Experiment analytics (reference `routers/experiment_stats.py`):
  * stats, judge comparison, per-question rollup. The reference's N+1
  * per-answer lookups (`:229-230`) become two broadcast joins; every
  * sub-stat is an aggregation over one cached enriched DataFrame
  * (SURVEY §3.3).
  */
object ExperimentAnalytics {

  /** answers ⋈ variants ⋈ questions (broadcast dims) ⟕ judgments.
    * The shared lineage for all experiment stats. */
  def enriched(answers: DataFrame, variants: DataFrame, questions: DataFrame,
               judgments: DataFrame, experimentId: Long,
               modelName: Option[String] = None): DataFrame =
    enrich(experimentAnswers(answers, experimentId, modelName), variants, questions)

  /** The experiment's answers, optionally of one generation model. */
  private def experimentAnswers(answers: DataFrame, experimentId: Long,
                                modelName: Option[String]): DataFrame = {
    val a = answers.where(col("experiment_id") === experimentId)
    modelName.fold(a)(m => a.where(col("model_name") === m))
  }

  private def enrich(answers: DataFrame, variants: DataFrame, questions: DataFrame): DataFrame =
    answers.join(broadcast(variants.select(col("id").as("variant_id"),
        col("question_id"), col("config"), col("gold"))),
        Seq("variant_id"), "left_outer")
      .join(broadcast(questions.select(col("id").as("question_id"),
        col("course"), col("area"))), Seq("question_id"), "left_outer")

  /** Judgments restricted to the given answers, scored rows only
    * (`score.isnot(None)`, F5) and optionally one judge. */
  def scopedJudgments(judgments: DataFrame, answerIds: DataFrame,
                      judgeModel: Option[String]): DataFrame = {
    var j = judgments.where(col("score").isNotNull)
    judgeModel.foreach(m => j = j.where(col("judge_model") === m))
    j.join(answerIds, Seq("answer_id"), "left_semi")
  }

  case class McqStats(total: Long, correct: Long, accuracy: Double)
  case class OpenStats(total: Long, judged: Long, avgScore: Double,
                       medianScore: Double, scoreDistribution: Seq[(String, Long)])

  /** Half-even to 4 decimals (Python round(x, 4)). */
  private def round4(x: Double): Double = math.rint(x * 10000) / 10000

  private def rate(n: Long, total: Long): Double =
    if (total > 0) round4(n.toDouble / total) else 0.0

  /** MCQ accuracy over answers with an extracted letter (A13;
    * experiment_stats.py:31-35); 0 of 0 when there is none. */
  def mcqStats(enriched: DataFrame): McqStats = {
    val r = enriched.where(col("extracted_letter").isNotNull)
      .agg(count(lit(1)).as("total"),
        coalesce(sum(when(col("mcq_correct") === true, 1).otherwise(0)), lit(0L)).as("correct"))
      .first()
    val total = r.getLong(0); val correct = r.getLong(1)
    McqStats(total, correct, rate(correct, total))
  }

  /** Score histogram bucket: 11 buckets of 0.1, scores ≥ 1.0 in the
    * last (experiment_stats.py:54-61). */
  private def bucket: Column = least(floor(col("score") * 10).cast("int"), lit(10))

  /** Labelled bucket counts, zero-count buckets emitted. */
  private def distribution(byBucket: Map[Int, Long]): Seq[(String, Long)] =
    (0 to 10).map { i =>
      val lo = i / 10.0; val hi = (i + 1) / 10.0
      f"$lo%.1f-$hi%.1f" -> byBucket.getOrElse(i, 0L)
    }

  def scoreDistribution(scores: DataFrame): Seq[(String, Long)] =
    distribution(scores.withColumn("bucket", bucket)
      .groupBy(col("bucket")).count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap)

  /** Open-question stats from judgments (experiment_stats.py:38-61). */
  def openStats(enriched: DataFrame, judgments: DataFrame,
                judgeModel: Option[String] = None): OpenStats = {
    val open = enriched.where(col("extracted_letter").isNull)
    val openTotal = open.count()
    val scores = scopedJudgments(judgments,
      open.select(col("id").as("answer_id")), judgeModel).cache()
    try {
      val r = scores.agg(count(lit(1)), avg(col("score")), median(col("score"))).first()
      val judged = r.getLong(0)
      OpenStats(openTotal, judged,
        if (judged > 0) round4(r.getDouble(1)) else 0.0,
        if (judged > 0) round4(r.getDouble(2)) else 0.0,
        if (judged > 0) scoreDistribution(scores) else Nil)
    } finally scores.unpersist()
  }

  /** Per-area / per-course breakdown: MCQ accuracy + open score avg in
    * one grouped pass (experiment_stats.py:225-259; the reference's N+1
    * loop collapses into the enriched join). */
  def breakdownByField(enriched: DataFrame, judgments: DataFrame,
                       field: String, judgeModel: Option[String] = None): DataFrame = {
    val j = scopedJudgments(judgments, enriched.select(col("id").as("answer_id")),
      judgeModel).groupBy(col("answer_id"))
      .agg(sum(col("score")).as("score_sum"), count(lit(1)).as("score_n"))
    enriched.join(j, enriched("id") === j("answer_id"), "left_outer")
      .groupBy(col(field).as("name"))
      .agg(
        sum(when(col("extracted_letter").isNotNull, 1).otherwise(0)).as("mcq_total"),
        sum(when(col("extracted_letter").isNotNull && col("mcq_correct") === true, 1)
          .otherwise(0)).as("mcq_correct_n"),
        sum(when(col("extracted_letter").isNull, col("score_sum"))).as("open_score_sum"),
        sum(when(col("extracted_letter").isNull, col("score_n"))).as("open_total"))
      .select(col("name"),
        when(col("mcq_total") > 0,
          round(col("mcq_correct_n").cast("double") / col("mcq_total"), 4))
          .as("mcq_accuracy"),
        col("mcq_total"),
        when(col("open_total") > 0,
          round(col("open_score_sum") / col("open_total"), 4)).as("open_avg_score"),
        coalesce(col("open_total"), lit(0L)).as("open_total"))
      .orderBy(col("name"))
  }

  /** Token usage totals (experiment_stats.py:67-83, A9). */
  def tokenTotals(enriched: DataFrame, judgments: DataFrame,
                  judgeModel: Option[String] = None): (Long, Long, Long, Long) = {
    val g = enriched.agg(
      coalesce(sum(col("input_tokens")), lit(0L)),
      coalesce(sum(col("output_tokens")), lit(0L))).first()
    val open = enriched.where(col("extracted_letter").isNull)
    var j = judgments.join(open.select(col("id").as("answer_id")), Seq("answer_id"), "left_semi")
    judgeModel.foreach(m => j = j.where(col("judge_model") === m))
    val js = j.agg(
      coalesce(sum(col("input_tokens")), lit(0L)),
      coalesce(sum(col("output_tokens")), lit(0L))).first()
    (g.getLong(0), g.getLong(1), js.getLong(0), js.getLong(1))
  }

  /** Self-consistency across runs (A15; experiment_stats.py:262-284): a
    * variant is unanimous when its runs' letters are one distinct value,
    * i.e. their min equals their max (no distinct-aggregate shuffle). */
  case class Consistency(totalVariants: Long, unanimous: Long, unanimousRate: Double)
  def selfConsistency(enriched: DataFrame): Consistency = {
    val letter = col("extracted_letter")
    val perVariant = enriched.where(letter.isNotNull)
      .groupBy(col("variant_id"))
      .agg((min(letter) === max(letter)).as("unanimous"))
    val r = perVariant.agg(count(lit(1)),
      sum(when(col("unanimous"), 1).otherwise(0))).first()
    val total = r.getLong(0); val unam = if (r.isNullAt(1)) 0L else r.getLong(1)
    Consistency(total, unam, rate(unam, total))
  }

  // ------------------------------ /stats in two aggregates (A9–A13)

  val AnswerSets: Seq[Seq[String]] = Seq(Nil, Seq("area"), Seq("course"))

  /** The breakdown columns of [[breakdownByField]], after `name`. */
  val BreakdownColumns: Seq[String] =
    Seq("mcq_accuracy", "mcq_total", "open_avg_score", "open_total")

  /** One aggregate over the enriched answers ⟕ a per-answer rollup of
    * their judgments (judge-filtered), sets (), (area), (course): the
    * answer, MCQ and open counts, the generation and judge token sums
    * and the [[BreakdownColumns]]. Judge tokens count every judgment of
    * an open answer; score sums and counts skip NULL scores — the
    * scopes of [[tokenTotals]] and [[scopedJudgments]]. */
  def answerRollup(enriched: DataFrame, judgments: DataFrame,
                   judgeModel: Option[String] = None): DataFrame = {
    val j = judgeModel.fold(judgments)(m => judgments.where(col("judge_model") === m))
    val perAnswer = j.groupBy(col("answer_id"))
      .agg(sum(col("score")).as("score_sum"), count(col("score")).as("score_n"),
        sum(col("input_tokens")).as("j_in"), sum(col("output_tokens")).as("j_out"))
    val open = col("extracted_letter").isNull
    def total(c: Column) = coalesce(sum(c), lit(0L))
    GroupingSets.aggregate(
        enriched.join(perAnswer, enriched("id") === perAnswer("answer_id"), "left_outer"),
        AnswerSets,
        count(lit(1)).as("answers"),
        sum(when(!open, 1).otherwise(0)).as("mcq_total"),
        sum(when(!open && col("mcq_correct") === true, 1).otherwise(0)).as("mcq_correct_n"),
        sum(when(open, 1).otherwise(0)).as("open_answers"),
        sum(when(open, col("score_sum"))).as("open_score_sum"),
        sum(when(open, col("score_n"))).as("open_scored"),
        total(col("input_tokens")).as("gen_in"), total(col("output_tokens")).as("gen_out"),
        total(when(open, col("j_in"))).as("judge_in"),
        total(when(open, col("j_out"))).as("judge_out"))
      .withColumn("mcq_accuracy", when(col("mcq_total") > 0,
        round(col("mcq_correct_n").cast("double") / col("mcq_total"), 4)))
      .withColumn("open_avg_score", when(col("open_scored") > 0,
        round(col("open_score_sum") / col("open_scored"), 4)))
      .withColumn("open_total", coalesce(col("open_scored"), lit(0L)))
  }

  val ScoreSets: Seq[Seq[String]] = Seq(Nil, Seq("bucket"))

  /** The scored judgments of the open answers ([[scopedJudgments]]) in
    * one aggregate, sets () and (bucket): count `n`, avg and median. */
  def scoreRollup(enriched: DataFrame, judgments: DataFrame,
                  judgeModel: Option[String] = None): DataFrame =
    GroupingSets.aggregate(
      scopedJudgments(judgments, enriched.where(col("extracted_letter").isNull)
        .select(col("id").as("answer_id")), judgeModel).withColumn("bucket", bucket),
      ScoreSets,
      count(lit(1)).as("n"), avg(col("score")).as("avg_score"),
      median(col("score")).as("median_score"))

  case class Summary(totalAnswers: Long, mcq: McqStats, open: OpenStats,
                     tokens: (Long, Long, Long, Long),
                     byArea: Seq[ListMap[String, Any]], byCourse: Seq[ListMap[String, Any]])

  /** `/stats` without self-consistency (experiment_stats.py:13-114):
    * [[answerRollup]] and [[scoreRollup]], one collect each — the same
    * figures as [[mcqStats]], [[openStats]], [[tokenTotals]] and
    * [[breakdownByField]]. Breakdown rows are `name` then the
    * [[BreakdownColumns]], name-ascending. */
  def summary(enriched: DataFrame, judgments: DataFrame,
              judgeModel: Option[String] = None): Summary = {
    val Seq(all, byArea, byCourse) = GroupingSets.split(
      answerRollup(enriched, judgments, judgeModel).collect().toSeq, AnswerSets)
    val Seq(scored, byBucket) = GroupingSets.split(
      scoreRollup(enriched, judgments, judgeModel).collect().toSeq, ScoreSets)
    def total(c: String) = all.headOption.fold(0L)(_.getAs[Long](c))
    val judged = scored.headOption.fold(0L)(_.getAs[Long]("n"))
    def score(c: String) = scored.headOption.filter(_ => judged > 0)
      .fold(0.0)(r => round4(r.getAs[Double](c)))
    def breakdown(rows: Seq[Row], key: String) =
      rows.sortBy(_.getAs[String](key))(GroupingSets.Asc).map(r =>
        ListMap(("name" -> r.getAs[Any](key)) +: BreakdownColumns.map(c => c -> r.getAs[Any](c)): _*))
    Summary(total("answers"),
      McqStats(total("mcq_total"), total("mcq_correct_n"),
        rate(total("mcq_correct_n"), total("mcq_total"))),
      OpenStats(total("open_answers"), judged, score("avg_score"), score("median_score"),
        if (judged > 0) distribution(byBucket.map(r =>
          r.getAs[Int]("bucket") -> r.getAs[Long]("n")).toMap) else Nil),
      (total("gen_in"), total("gen_out"), total("judge_in"), total("judge_out")),
      breakdown(byArea, "area"), breakdown(byCourse, "course"))
  }

  /** Per-judge comparison (experiment_stats.py:117-160): count, avg,
    * exact median — the reference's per-judge median refetch loop is
    * the same single groupBy here (A16). */
  def compareJudges(answers: DataFrame, judgments: DataFrame,
                    experimentId: Long): DataFrame = {
    val expAnswers = answers.where(col("experiment_id") === experimentId)
      .select(col("id").as("answer_id"))
    judgments.where(col("score").isNotNull)
      .join(expAnswers, Seq("answer_id"), "left_semi")
      .groupBy(col("judge_model"))
      .agg(count(lit(1)).as("judged"),
        round(avg(col("score")), 4).as("avg_score"),
        round(median(col("score")), 4).as("median_score"))
      .coalesce(1).orderBy(col("judge_model")) // one partition: no range exchange
  }

  /** Per-judge judgment counts + avg score (routers/judging.py:111-132).
    * Unlike [[compareJudges]], the count includes NULL-score judgments
    * (the reference's `/judge-summary` has no `score.isnot(None)`
    * filter); avg naturally skips nulls and is null when all are. */
  def judgeSummary(answers: DataFrame, judgments: DataFrame,
                   experimentId: Long): DataFrame = {
    val expAnswers = answers.where(col("experiment_id") === experimentId)
      .select(col("id").as("answer_id"))
    judgments.join(expAnswers, Seq("answer_id"), "left_semi")
      .groupBy(col("judge_model"))
      .agg(count(lit(1)).as("count"),
        bround(avg(col("score")), 4).as("avg_score"))
      .coalesce(1).orderBy(col("judge_model")) // one partition: no range exchange
  }

  /** Per-question rollup of the experiment's answers (optionally of
    * one generation model), sorted by avg score desc
    * (NULLs last), question id asc (experiment_stats.py:163-222, A14).
    * `mcq_correct`: any non-null value across runs (the reference keeps
    * the last seen; with homogeneous MCQ grading per variant these
    * agree). The judgments are restricted to the experiment's answers
    * as read, not to the joined ones, so the two dimension joins run
    * once. */
  def statsByQuestion(answers: DataFrame, variants: DataFrame, questions: DataFrame,
                      judgments: DataFrame, experimentId: Long,
                      modelName: Option[String] = None,
                      judgeModel: Option[String] = None): DataFrame = {
    val own = experimentAnswers(answers, experimentId, modelName)
    val enriched = enrich(own, variants, questions)
    val j = scopedJudgments(judgments, own.select(col("id").as("answer_id")),
      judgeModel).groupBy(col("answer_id"))
      .agg(sum(col("score")).as("score_sum"), count(lit(1)).as("score_n"))
    enriched.join(j, enriched("id") === j("answer_id"), "left_outer")
      .groupBy(col("question_id"))
      .agg(
        first(col("course")).as("course"),
        first(col("area")).as("area"),
        first(col("config")).as("config"),
        max(col("mcq_correct")).as("mcq_correct"),
        count(lit(1)).as("answer_count"),
        coalesce(sum(col("score_n")), lit(0L)).as("judgment_count"),
        round(sum(col("score_sum")) / sum(col("score_n")), 4).as("avg_score"))
      .coalesce(1).orderBy(desc_nulls_last("avg_score"), col("question_id")) // no range exchange
  }
}
