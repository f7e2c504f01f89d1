package graft.lexam

import java.util.concurrent.{CountDownLatch, TimeUnit}
import scala.collection.immutable.ListMap
import scala.collection.mutable
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import graft.TestSpark
import graft.lexam.pipeline._

/** The session endpoints that sort their small results in one
  * partition, nest only a page's variants, count course buckets without
  * distinct aggregates and derive an experiment's judgment count from
  * its judge breakdown give the JSON their earlier Spark forms
  * ([[EarlierForms]]) give, on the fixtures and on the NULL-corner
  * fixtures; and no endpoint plans a range-partitioning exchange.
  */
class SessionEndpointsSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val fixtureStore = Fixtures.experimentStore(spark, Fixtures.writeTo)

  /** The edge store, plus a judge whose only judgment is unscored and a
    * NULL-judge judgment, so judge lists hold a NULL key and a NULL
    * average. */
  private lazy val edgeStore = {
    val s = Fixtures.experimentStore(spark, Fixtures.writeEdgeTo)
    val answer = s.answers.orderBy("id").select("id").head().getLong(0)
    s.appendJudgments(Seq(
        ExperimentJudgment(id = 515151L, answer_id = answer, judge_model = "j0",
          judgment_text = "unscored"),
        ExperimentJudgment(id = 525252L, answer_id = answer, judge_model = null,
          judgment_text = "manual", score = Some(0.5)))
      .toDS().toDF().withColumn("experiment_id", lit(1L)))
    s
  }

  private def stores: Seq[(String, LexamStore)] =
    Seq("fixtures" -> fixtureStore, "edge fixtures" -> edgeStore)

  test("question and questions page: only the page's variants, nested in id order") {
    val pages = Seq[(FilterConfig, Option[String], Option[String], String, Int, Int)](
      (FilterConfig(), None, None, "asc", 0, 50),
      (FilterConfig(), None, None, "asc", 2, 3),
      (FilterConfig(), None, Some("config"), "desc", 1, 4),
      (FilterConfig(), None, Some("split"), "asc", 0, 50),
      (FilterConfig(), Some("the"), Some("course"), "asc", 0, 50),
      (FilterConfig(language = Seq("en")), None, Some("area"), "desc", 0, 2),
      (FilterConfig(area = Seq("Nowhere")), None, None, "asc", 0, 50))
    for ((name, s) <- stores; (fc, search, sortBy, dir, offset, limit) <- pages)
      assert(Api.questionsPage(s.questions, s.variants, fc, search, sortBy, dir, offset, limit) ===
        EarlierForms.questionsPage(s.questions, s.variants, fc, search, sortBy, dir, offset, limit),
        s"$name $fc $search $sortBy $dir $offset $limit")
    for ((name, s) <- stores; id <- Seq("q1", "q3", "q5", "q7", "q9", "nope"))
      assert(Api.question(s.questions, s.variants, id) ===
        EarlierForms.question(s.questions, s.variants, id), s"$name $id")
  }

  test("course summary: per-question flags summed per course equal the distinct counts") {
    for ((name, s) <- stores; language <- Seq(None, Some("en"), Some("de"), Some("fr"), Some("xx")))
      assert(Api.courseSummary(s.questions, s.variants, language) ===
        EarlierForms.courseSummary(s.questions, s.variants, language), s"$name $language")
  }

  test("dashboard cohort: the config semi-join without a distinct keeps the same questions") {
    for ((name, s) <- stores; config <- Seq(Nil, Seq("open_question"),
        Seq("mcq_4_choices", "mcq_8_choices")); language <- Seq(Nil, Seq("en")))
      assert(DatasetAnalytics.dashboardQuestions(s.questions, s.variants, config, language)
          .select("id").as[String].collect().sorted.toSeq ===
        EarlierForms.dashboardQuestions(s.questions, s.variants, config, language)
          .select("id").as[String].collect().sorted.toSeq, s"$name $config $language")
  }

  test("experiment reads: judge lists, per-question stats and judgment counts equal the Spark-ordered forms") {
    for ((name, s) <- stores) {
      assert(Api.compareJudges(s, 1L) === EarlierForms.compareJudges(s, 1L), name)
      assert(Api.judgeSummary(s, 1L) === EarlierForms.judgeSummary(s, 1L), name)
      for ((model, judge) <- Seq(None -> None, None -> Some("j1"), None -> Some("j0"),
          Some("Qwen/Qwen3-14B") -> Some("j2"), Some("nope") -> None))
        assert(Api.statsByQuestion(s, 1L, model, judge) ===
          EarlierForms.statsByQuestion(s, 1L, model, judge), s"$name $model $judge")
      assert(Api.getExperiment(s, 1L) === EarlierForms.getExperiment(s, 1L), name)
      assert(Api.listExperiments(s) === EarlierForms.listExperiments(s), name)
    }
    // the edge store's judge list holds the NULL judge first and j0's NULL average
    val summary = Api.judgeSummary(edgeStore, 1L)
    assert(summary.startsWith("""[{"judge_model": null, "count": 1, "avg_score": 0.5}, """ +
      """{"judge_model": "j0", "count": 1, "avg_score": null}"""), summary)
    // a NULL average sorts last, after every scored question
    val byQuestion = Api.statsByQuestion(edgeStore, 1L)
    val avgs = """"avg_score": ([^,]+),""".r.findAllMatchIn(byQuestion).map(_.group(1)).toSeq
    assert(avgs.contains("null") && avgs.dropWhile(_ != "null").forall(_ == "null"), byQuestion)
  }

  test("the progress total is the number of rows the LLM stage calls for") {
    val s = fixtureStore
    val e = s.createExperiment(Experiment(id = 0L, name = "progress-total",
      filter_config = FilterConfig(language = Seq("de")), n_answers = 2))
    val (progress, client) = (new ProgressStore, new DeterministicStubClient)
    val generated = Jobs.runGeneration(s, progress, client, e.id, parallelism = 2)
    val gen = progress.get(s"generate:${e.id}")
    assert(gen("total") === generated)
    assert(gen("completed") === generated && gen("failed") === 0L)
    val judged = Jobs.runJudging(s, progress, client, e.id, "jt", parallelism = 2)
    val jdg = progress.get(s"judge:${e.id}:jt")
    assert(jdg("total") === judged && jdg("completed") === judged && judged > 0)
  }

  test("no LEXam endpoint plans a range-partitioning exchange") {
    val s = fixtureStore
    def q = s.questions
    def v = s.variants
    val fresh = s.createExperiment(Experiment(id = 0L, name = "plan-shape",
      filter_config = FilterConfig(language = Seq("en")), n_answers = 1))
    val calls = Seq[(String, () => Any)](
      "questions_page" -> (() => Api.questionsPage(q, v, sortBy = Some("config"))),
      "questions_page default" -> (() => Api.questionsPage(q, v, offset = 1, limit = 2)),
      "question" -> (() => Api.question(q, v, "q1")),
      "stats" -> (() => Api.stats(q, v)),
      "filters" -> (() => Api.filters(q, v, FilterConfig(area = Seq("Private")))),
      "search_summary" -> (() => Api.searchSummary(q, v, FilterConfig(), "the")),
      "course_summary" -> (() => Api.courseSummary(q, v)),
      "dashboard" -> (() => Api.dashboard(q, v, Seq("open_question"), Seq("en"))),
      "dashboard_comparison" -> (() => Api.dashboardComparison(q, v)),
      "generation" -> (() => Jobs.runGeneration(s, new ProgressStore,
        new DeterministicStubClient, fresh.id, parallelism = 2)),
      "judging" -> (() => Jobs.runJudging(s, new ProgressStore,
        new DeterministicStubClient, fresh.id, "jp", parallelism = 2)),
      "experiment_stats" -> (() => Api.experimentStats(s, 1L)),
      "stats_by_question" -> (() => Api.statsByQuestion(s, 1L)),
      "compare_judges" -> (() => Api.compareJudges(s, 1L)),
      "judge_summary" -> (() => Api.judgeSummary(s, 1L)),
      "answers_page" -> (() => Api.answersPage(s, 1L, offset = 2, limit = 5)),
      "judgments_page" -> (() => Api.judgmentsPage(s, 1L)),
      "list_experiments" -> (() => Api.listExperiments(s)),
      "get_experiment" -> (() => Api.getExperiment(s, 1L)),
      "question_count" -> (() => Api.questionCount(s, FilterConfig(language = Seq("en")))))
    for ((ep, call) <- calls) {
      val plans = executedPlans(s.spark)(call())
      assert(plans.nonEmpty, s"$ep ran no query")
      val ranged = plans.flatMap(p => collectWithSubqueries(p) {
        case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[RangePartitioning] => e
      })
      assert(ranged.isEmpty, s"$ep plans a range-partitioning exchange:\n${ranged.mkString("\n")}")
    }
  }

  /** The executed plans of the queries `body` runs in `session`, seen by
    * a [[QueryExecutionListener]] (a session's listeners see only its own
    * queries). The listener bus delivers them after the action returns,
    * so a marker query run after `body` is waited for: every earlier
    * query has been delivered by then. */
  private def executedPlans(session: org.apache.spark.sql.SparkSession)(body: => Any) = {
    val marker = "plan-shape-marker-" + java.util.UUID.randomUUID
    val seen = mutable.ArrayBuffer[org.apache.spark.sql.execution.SparkPlan]()
    val done = new CountDownLatch(1)
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (qe.analyzed.toString.contains(marker)) done.countDown()
        else seen.synchronized(seen += qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    session.listenerManager.register(listener)
    try {
      body
      session.range(1).select(lit(marker)).collect()
      assert(done.await(60, TimeUnit.SECONDS), "marker query not seen")
      seen.synchronized(seen.toList)
    } finally session.listenerManager.unregister(listener)
  }
}

/** The endpoints in the forms they had before they sorted in one
  * partition: a range-partitioned `orderBy` before each collect, every
  * variant nested before a page is cut, distinct aggregates per course,
  * the all-experiments judge breakdown and a separate judgment count —
  * kept as the oracle. */
private[lexam] object EarlierForms {
  import Api.render

  def questionsPage(questions: DataFrame, variants: DataFrame, fc: FilterConfig,
                    search: Option[String], sortBy: Option[String], sortDir: String,
                    offset: Int, limit: Int): String = {
    val filtered = Filters.filterQuestions(questions, variants, fc, search).cache()
    try {
    val total = filtered.count()
    val base = QuestionService.withNestedVariants(filtered, variants)
    val withSortKeys = sortBy match {
      case Some(k @ ("config" | "split")) =>
        base.join(variants.groupBy(col("question_id")).agg(min(col(k)).as(s"_min_$k"))
          .withColumnRenamed("question_id", "id"), Seq("id"), "left_outer")
      case _ => base
    }
    val sortCol: Option[Column] = sortBy.collect {
      case k @ ("config" | "split") => col(s"_min_$k")
      case k if QuestionService.SortableColumns(k) => col(k)
    }
    val ordered = sortCol match {
      case Some(c) => withSortKeys.orderBy(if (sortDir == "desc") c.desc else c.asc, col("id"))
      case None => withSortKeys.orderBy(desc("year"), col("id"))
    }
    render(ListMap("total" -> total, "offset" -> offset, "limit" -> limit,
      "items" -> ordered.drop("_min_config", "_min_split").offset(offset).limit(limit)
        .collect().toSeq))
    } finally filtered.unpersist(blocking = false)
  }

  def question(questions: DataFrame, variants: DataFrame, id: String): String =
    QuestionService.withNestedVariants(questions.where(col("id") === id), variants)
      .collect().headOption.map(render).getOrElse("""{"error": "not found"}""")

  def courseSummary(questions: DataFrame, variants: DataFrame,
                    language: Option[String]): String = {
    var joined = variants.join(questions, variants("question_id") === questions("id"), "inner")
    language.foreach(l => joined = joined.where(col("language") === l))
    render(joined
      .groupBy(col("course"))
      .agg(
        first(col("area")).as("area"),
        array_join(array_sort(collect_set(col("jurisdiction"))), ", ").as("jurisdiction"),
        (max(when(col("international") === true, 1).otherwise(0)) === 1).as("international"),
        countDistinct(when(col("config") === "mcq_4_choices", col("question_id"))).as("mcq_4"),
        countDistinct(when(col("config").isin(DatasetAnalytics.McqConfigs: _*),
          col("question_id"))).as("mcq_all"),
        countDistinct(when(col("config") === "open_question", col("question_id"))).as("open_qa"),
        countDistinct(when(col("config") === "open_question" && col("split") === "dev",
          col("question_id"))).as("open_dev"),
        countDistinct(when(col("config") === "open_question" && col("split") === "test",
          col("question_id"))).as("open_test"),
        countDistinct(when(col("config") === "mcq_4_choices" ||
          col("config").isin(DatasetAnalytics.McqConfigs: _*) ||
          col("config") === "open_question", col("question_id"))).as("total"),
        (countDistinct(col("language")) > 1).as("multi_lang"),
        min(col("language")).as("single_lang"))
      .withColumn("language", when(col("multi_lang"), "both").otherwise(col("single_lang")))
      .drop("multi_lang", "single_lang")
      .orderBy(col("area"), desc("total"), col("course"))
      .collect().toSeq)
  }

  def dashboardQuestions(questions: DataFrame, variants: DataFrame,
                         config: Seq[String], language: Seq[String]): DataFrame = {
    var q = questions
    if (config.nonEmpty)
      q = q.join(variants.where(col("config").isin(config: _*))
        .select(col("question_id").as("id")).distinct(), Seq("id"), "left_semi")
    if (language.nonEmpty) q = q.where(col("language").isin(language: _*))
    q
  }

  private def experimentAnswerIds(store: LexamStore, experimentId: Long): DataFrame =
    store.answers.where(col("experiment_id") === experimentId).select(col("id").as("answer_id"))

  def compareJudges(store: LexamStore, experimentId: Long): String =
    render(store.judgments.where(col("score").isNotNull)
      .join(experimentAnswerIds(store, experimentId), Seq("answer_id"), "left_semi")
      .groupBy(col("judge_model"))
      .agg(count(lit(1)).as("judged"), round(avg(col("score")), 4).as("avg_score"),
        round(median(col("score")), 4).as("median_score"))
      .orderBy(col("judge_model")).collect().toSeq)

  def judgeSummary(store: LexamStore, experimentId: Long): String =
    render(store.judgments
      .join(experimentAnswerIds(store, experimentId), Seq("answer_id"), "left_semi")
      .groupBy(col("judge_model"))
      .agg(count(lit(1)).as("count"), bround(avg(col("score")), 4).as("avg_score"))
      .orderBy(col("judge_model")).collect().toSeq)

  def statsByQuestion(store: LexamStore, experimentId: Long,
                      modelName: Option[String], judgeModel: Option[String]): String = {
    val enriched = ExperimentAnalytics.enriched(store.answers, store.variants,
      store.questions, store.judgments, experimentId, modelName)
    val j = ExperimentAnalytics.scopedJudgments(store.judgments,
        enriched.select(col("id").as("answer_id")), judgeModel)
      .groupBy(col("answer_id"))
      .agg(sum(col("score")).as("score_sum"), count(lit(1)).as("score_n"))
    render(enriched.join(j, enriched("id") === j("answer_id"), "left_outer")
      .groupBy(col("question_id"))
      .agg(first(col("course")).as("course"), first(col("area")).as("area"),
        first(col("config")).as("config"), max(col("mcq_correct")).as("mcq_correct"),
        count(lit(1)).as("answer_count"),
        coalesce(sum(col("score_n")), lit(0L)).as("judgment_count"),
        round(sum(col("score_sum")) / sum(col("score_n")), 4).as("avg_score"))
      .orderBy(desc_nulls_last("avg_score"), col("question_id"))
      .select("question_id", "course", "area", "config", "mcq_correct",
        "avg_score", "answer_count", "judgment_count")
      .collect().toSeq)
  }

  private def judgeBreakdowns(store: LexamStore): Map[Long, Seq[(String, Long)]] =
    store.liveJudgments()
      .groupBy(col("eid"), col("judge_model"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("judge_model")).collect()
      .groupBy(_.getLong(0))
      .view.mapValues(_.toSeq.map(r => r.getString(1) -> r.getLong(2))).toMap

  private def judges(js: Seq[(String, Long)]): Seq[Any] =
    js.map { case (m, n) => ListMap[String, Any]("model" -> m, "count" -> n) }

  def listExperiments(store: LexamStore): String = {
    val aCounts = store.answers.groupBy(col("experiment_id"))
      .agg(count(lit(1)).as("answer_count")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val js = judgeBreakdowns(store).withDefaultValue(Nil)
    render(store.experiments
      .sortBy(e => (-e.created_at.map(_.getTime).getOrElse(0L), -e.id))
      .map(e => Api.serializeExperiment(e) ++ ListMap[String, Any](
        "answer_count" -> aCounts.getOrElse(e.id, 0L),
        "judgment_count" -> js(e.id).map(_._2).sum, "judges" -> judges(js(e.id)))))
  }

  def getExperiment(store: LexamStore, experimentId: Long): String = {
    val e = store.getExperiment(experimentId).get
    val answerCount = store.answers.where(col("experiment_id") === experimentId).count()
    val judgmentCount = store.liveJudgments().where(col("eid") === experimentId).count()
    render(Api.serializeExperiment(e) ++ ListMap[String, Any](
      "answer_count" -> answerCount, "judgment_count" -> judgmentCount,
      "judges" -> judges(judgeBreakdowns(store).getOrElse(experimentId, Nil))))
  }
}
