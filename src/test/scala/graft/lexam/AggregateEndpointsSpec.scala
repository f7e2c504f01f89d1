package graft.lexam

import scala.collection.immutable.ListMap
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.TestSpark
import graft.lexam.pipeline._

/** The analytics endpoints that answer every facet from one
  * grouping-sets aggregate (dashboard, comparison, filters, search
  * summary, experiment stats) give the JSON the per-facet functions
  * assemble — one collect per facet, the way the endpoints were built
  * before — on the fixtures and on the NULL-corner fixtures, and start a
  * bounded number of Spark jobs, so a per-facet collect cannot come back
  * unseen.
  */
class AggregateEndpointsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private lazy val fixtureStore = Fixtures.experimentStore(spark, Fixtures.writeTo)
  private lazy val edgeStore = Fixtures.experimentStore(spark, Fixtures.writeEdgeTo)

  /** (store name, store, case) for every case, on both stores. */
  private def cases[A](fixtures: Seq[A], edge: Seq[A]): Seq[(String, LexamStore, A)] =
    fixtures.map(("fixtures", fixtureStore, _)) ++ edge.map(("edge fixtures", edgeStore, _))

  test("dashboard: the one-aggregate JSON equals the per-facet assembly") {
    for ((name, s, (config, language)) <- cases(
        Seq(Nil -> Nil, Seq("open_question") -> Seq("en")),
        Seq(Nil -> Nil, Seq("mcq_4_choices") -> Seq("de", "fr"), Nil -> Seq("fr"),
          Nil -> Seq("xx")))) // the last cohort is empty
      assert(Api.dashboard(s.questions, s.variants, config, language) ===
        Oracle.dashboard(s.questions, s.variants, config, language),
        s"$name config=$config language=$language")
  }

  test("dashboard comparison: one aggregate; a NULL course is one merged row, as the JSX map merges it") {
    for ((name, s, language) <- cases(Seq(Nil), Seq(Nil, Seq("fr"), Seq("xx"))))
      assert(Api.dashboardComparison(s.questions, s.variants, language = language) ===
        Oracle.comparison(s.questions, s.variants, language), s"$name language=$language")
    // q7 (NULL course, Private) has an open and an MCQ variant
    assert(Api.dashboardComparison(edgeStore.questions, edgeStore.variants,
      language = Seq("fr")).contains(
      """"course_comparison": [{"course": null, "area": "Private", "open": 1, "mcq": 1, "total": 2}]"""))
  }

  test("filters: one facet query gives every dim's viable values") {
    for ((name, s, (fc, search)) <- cases(
        Seq(FilterConfig() -> None, FilterConfig(area = Seq("Public", "Private")) -> Some("the")),
        Seq(FilterConfig() -> None,
          FilterConfig(language = Seq("en"), year = Seq(2020, 2022)) -> None,
          FilterConfig(config = Seq("open_question"), split = Seq("dev")) -> Some("the"),
          FilterConfig(course = Seq("Public Law"), negative_question = Some(true)) -> Some("cisg"),
          FilterConfig(jurisdiction = Seq("Swiss"), international = Some(false),
            config = Seq("mcq_4_choices")) -> None,
          FilterConfig(area = Seq("Nowhere")) -> None))) // empty cohort
      assert(Api.filters(s.questions, s.variants, fc, search) ===
        Oracle.filters(s.questions, s.variants, fc, search), s"$name $fc search=$search")
  }

  test("search summary: one aggregate; a NULL key renders as \"null\"") {
    for ((name, s, (fc, term)) <- cases(Seq(FilterConfig() -> "the"),
        Seq(FilterConfig() -> "the", FilterConfig(language = Seq("en")) -> "treaty",
          FilterConfig() -> "zzzz")))
      assert(Api.searchSummary(s.questions, s.variants, fc, term) ===
        Oracle.searchSummary(s.questions, s.variants, fc, term), s"$name $fc $term")
    assert(Api.searchSummary(edgeStore.questions, edgeStore.variants,
      FilterConfig(), "treaty").contains(""""by_course": {"null": 1,"""))
  }

  test("experiment stats: two aggregates give the per-stat figures, judge tokens counting unscored judgments") {
    for ((name, s, (model, judge)) <- cases(Seq(None -> None, None -> Some("j1")),
        Seq(None -> None, None -> Some("j2"), Some("Qwen/Qwen3-14B") -> Some("nobody"),
          Some("nope") -> None)))
      assert(Api.experimentStats(s, 1L, model, judge) ===
        Oracle.experimentStats(s, 1L, model, judge), s"$name model=$model judge=$judge")
    // an empty cohort reads zeros
    assert(Api.experimentStats(edgeStore, 1L, Some("nope")) ===
      """{"total_answers": 0, "mcq": {"total": 0, "correct": 0, "accuracy": 0.0}, """ +
      """"open": {"total": 0, "judged": 0, "avg_score": 0.0, "median_score": 0.0, "score_distribution": []}, """ +
      """"by_area": [], "by_course": [], "tokens": {"generation_input": 0, "generation_output": 0, """ +
      """"judge_input": 0, "judge_output": 0, "total": 0}, """ +
      """"self_consistency": {"total_variants": 0, "unanimous": 0, "unanimous_rate": 0.0}}""")
  }

  private def jobs(body: => Any): Int = Fixtures.sparkJobs(spark)(body)._2

  test("job bounds per endpoint on the fixtures store") {
    val s = fixtureStore
    def q = s.questions
    def v = s.variants
    // fresh experiments for the generation+judging run, warm-up and measured
    val runs = scala.collection.mutable.Queue.tabulate(2)(i => s.createExperiment(Experiment(
      id = 0L, name = s"bounds-$i", filter_config = FilterConfig(language = Seq("en")))).id)
    def generateAndJudge(): Unit = {
      val (id, progress, client) = (runs.dequeue(), new ProgressStore, new DeterministicStubClient)
      Jobs.runGeneration(s, progress, client, id, parallelism = 2)
      Jobs.runJudging(s, progress, client, id, "jb", parallelism = 2)
    }
    // (endpoint, bound, call, the form before it, when kept)
    val calls = Seq[(String, Int, () => Any, Option[() => Any])](
      ("dashboard", 12, () => Api.dashboard(q, v, Seq("open_question"), Seq("en")),
        Some(() => Oracle.dashboard(q, v, Seq("open_question"), Seq("en")))),
      ("dashboard_comparison", 4, () => Api.dashboardComparison(q, v, language = Seq("en")),
        Some(() => Oracle.comparison(q, v, Seq("en")))),
      ("filters", 3, () => Api.filters(q, v, FilterConfig(area = Seq("Private"))),
        Some(() => Oracle.filters(q, v, FilterConfig(area = Seq("Private")), None))),
      ("search_summary", 2, () => Api.searchSummary(q, v, FilterConfig(language = Seq("en")), "the"),
        Some(() => Oracle.searchSummary(q, v, FilterConfig(language = Seq("en")), "the"))),
      ("experiment_stats", 14, () => Api.experimentStats(s, 1L),
        Some(() => Oracle.experimentStats(s, 1L, None, None))),
      ("question", 2, () => Api.question(q, v, "q1"),
        Some(() => EarlierForms.question(q, v, "q1"))),
      ("questions_page", 5, () => Api.questionsPage(q, v, offset = 1, limit = 3),
        Some(() => EarlierForms.questionsPage(q, v, FilterConfig(), None, None, "asc", 1, 3))),
      ("course_summary", 4, () => Api.courseSummary(q, v),
        Some(() => EarlierForms.courseSummary(q, v, None))),
      ("stats_by_question", 7, () => Api.statsByQuestion(s, 1L),
        Some(() => EarlierForms.statsByQuestion(s, 1L, None, None))),
      ("compare_judges", 3, () => Api.compareJudges(s, 1L),
        Some(() => EarlierForms.compareJudges(s, 1L))),
      ("judge_summary", 3, () => Api.judgeSummary(s, 1L),
        Some(() => EarlierForms.judgeSummary(s, 1L))),
      ("list_experiments", 5, () => Api.listExperiments(s),
        Some(() => EarlierForms.listExperiments(s))),
      ("generation+judging", 24, () => generateAndJudge(), None))
    calls.foreach { case (_, _, call, before) => call(); before.foreach(_()) } // warm up
    calls.foreach { case (ep, bound, call, before) =>
      val got = jobs(call())
      val was = before.map(b => jobs(b()))
      info(s"$ep: $got jobs" + was.fold("")(n => s" (the form before: $n)"))
      assert(got <= bound, s"$ep started $got Spark jobs, bound $bound")
      was.foreach(n => assert(got < n, s"$ep: $got jobs, the form before $n"))
    }
  }
}

/** Each endpoint as it was assembled before it became one aggregate:
  * a collect per facet over the per-facet functions, kept as the
  * oracle. Where the per-facet form left an order or a NULL key to
  * chance, the oracle pins what the one-aggregate form promises:
  *  - course ties break on area ascending, NULLS FIRST;
  *  - the comparison merges the two rows its full-outer join emits for a
  *    NULL course into one, as the reference's JSX map does;
  *  - a NULL search-summary key renders as "null" (the per-facet form
  *    threw on it).
  */
private object Oracle {
  import Api.render
  private def ascTies(rows: Seq[Row], n: Row => Long): Seq[Row] =
    rows.sortBy(r => (-n(r), r.getAs[String]("course"), r.getAs[String]("area")))(
      Ordering.Tuple3(Ordering.Long, GroupingSets.Asc, GroupingSets.Asc))

  def dashboard(questions: DataFrame, variants: DataFrame,
                config: Seq[String], language: Seq[String]): String = {
    val qs = DatasetAnalytics.dashboardQuestions(questions, variants, config, language).cache()
    val wcs = DatasetAnalytics.answerWordCounts(qs, variants).cache()
    try {
      val courses = ascTies(DatasetAnalytics.dashboardCourses(qs).collect().toSeq,
        _.getAs[Long]("count"))
      def nameValue(df: DataFrame): Seq[Any] = df.collect().toSeq
        .map(r => ListMap[String, Any]("name" -> r.get(0), "value" -> r.getLong(1)))
      val years = DatasetAnalytics.dashboardYears(qs).collect().toSeq
      val splits = DatasetAnalytics.dashboardSplits(variants, qs, config)
        .collect().toSeq.map(r => ListMap[String, Any](
          "name" -> r.get(0), "value" -> r.getLong(1), "pct" -> r.getString(2)))
      def areaOrdered(df: DataFrame): Seq[Any] = {
        val byArea = df.collect().map(r => r.getAs[String]("area") -> r).toMap
        DatasetAnalytics.Areas.filter(byArea.contains).map(byArea)
      }
      val histMap = DatasetAnalytics.answerLengthHistogram(wcs).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val answerLengths = DatasetAnalytics.WordBins.map { case (_, _, label) =>
        ListMap[String, Any]("range" -> label, "count" -> histMap.getOrElse(label, 0L))
      }
      render(ListMap[String, Any](
        "total_questions" -> qs.count(),
        "total_courses" -> courses.length,
        "total_de" -> courses.map(_.getAs[Long]("lang_de")).sum,
        "total_en" -> courses.map(_.getAs[Long]("lang_en")).sum,
        "min_year" -> years.headOption.map(_.getInt(0)).getOrElse(0),
        "max_year" -> years.lastOption.map(_.getInt(0)).getOrElse(0),
        "courses" -> courses,
        "areas" -> nameValue(qs.groupBy(col("area")).count().orderBy(col("area"))),
        "jurisdictions" -> nameValue(
          qs.groupBy(col("jurisdiction")).count().orderBy(col("jurisdiction"))),
        "years" -> years,
        "splits" -> splits,
        "area_jurisdiction" -> areaOrdered(DatasetAnalytics.dashboardAreaJurisdiction(qs)),
        "lang_area" -> areaOrdered(DatasetAnalytics.dashboardLangArea(qs)),
        "answer_lengths" -> answerLengths,
        "answer_stats" -> areaOrdered(DatasetAnalytics.answerStatsByArea(wcs))))
    } finally { wcs.unpersist(); qs.unpersist() }
  }

  def comparison(questions: DataFrame, variants: DataFrame, language: Seq[String]): String = {
    val oe = DatasetAnalytics
      .dashboardQuestions(questions, variants, Seq("open_question"), language).cache()
    val mcq = DatasetAnalytics
      .dashboardQuestions(questions, variants, DatasetAnalytics.McqConfigs, language).cache()
    try {
      val areaRows = DatasetAnalytics.comparisonAreas(oe, mcq).collect()
        .map(r => r.getAs[String]("area") -> r).toMap
      val areas = DatasetAnalytics.Areas.filter(areaRows.contains).map { a =>
        val r = areaRows(a)
        ListMap[String, Any]("area" -> a, "Open-Ended" -> r.getAs[Long]("open_ended"),
          "MCQ" -> r.getAs[Long]("mcq"))
      }
      val years = DatasetAnalytics.comparisonYears(oe, mcq).collect().toSeq
        .map(r => ListMap[String, Any]("year" -> r.getAs[Int]("year"),
          "Open-Ended" -> r.getAs[Long]("open_ended"), "MCQ" -> r.getAs[Long]("mcq")))
      val merged = DatasetAnalytics.comparisonCourses(oe, mcq).collect().toSeq
        .groupBy(r => (r.getAs[String]("course"), r.getAs[String]("area"))).toSeq
        .map { case ((c, a), rs) =>
          val (o, m) = (rs.map(_.getAs[Long]("open")).sum, rs.map(_.getAs[Long]("mcq")).sum)
          Row(c, a, o, m, o + m)
        }
      val courses = merged
        .sortBy(r => (-r.getLong(4), r.getString(0), r.getString(1)))(
          Ordering.Tuple3(Ordering.Long, GroupingSets.Asc, GroupingSets.Asc))
        .map(r => ListMap[String, Any]("course" -> r.getString(0), "area" -> r.getString(1),
          "open" -> r.getLong(2), "mcq" -> r.getLong(3), "total" -> r.getLong(4)))
      render(ListMap[String, Any]("area_comparison" -> areas,
        "year_comparison" -> years, "course_comparison" -> courses))
    } finally { mcq.unpersist(); oe.unpersist() }
  }

  def filters(questions: DataFrame, variants: DataFrame,
              fc: FilterConfig, search: Option[String]): String = {
    def vals(dim: String): Seq[Any] =
      Filters.viableValues(questions, variants, fc, dim, search)
        .collect().map(_.get(0)).toSeq
    render(ListMap(
      "configs" -> vals("config"), "splits" -> vals("split"),
      "areas" -> vals("area"), "languages" -> vals("language"),
      "courses" -> vals("course"), "jurisdictions" -> vals("jurisdiction"),
      "years" -> vals("year").map(_.asInstanceOf[Int]).sorted.reverse))
  }

  def searchSummary(questions: DataFrame, variants: DataFrame,
                    fc: FilterConfig, search: String): String = {
    val (total, byArea, byLang, byCourse) =
      DatasetAnalytics.searchSummary(questions, variants, fc, search)
    def kv(df: DataFrame): ListMap[String, Any] = ListMap(df.collect().toSeq
      .map(r => String.valueOf(r.get(0)) -> (r.getLong(1): Any)): _*)
    render(ListMap("total" -> total, "by_area" -> kv(byArea),
      "by_language" -> kv(byLang), "by_course" -> kv(byCourse)))
  }

  def experimentStats(store: LexamStore, experimentId: Long,
                      modelName: Option[String], judgeModel: Option[String]): String = {
    val exp = store.getExperiment(experimentId).get
    val enriched = ExperimentAnalytics.enriched(store.answers, store.variants,
      store.questions, store.judgments, experimentId, modelName).cache()
    try {
      val totalAnswers = enriched.count()
      val mcq = ExperimentAnalytics.mcqStats(enriched)
      val open = ExperimentAnalytics.openStats(enriched, store.judgments, judgeModel)
      val (gi, go, ji, jo) =
        ExperimentAnalytics.tokenTotals(enriched, store.judgments, judgeModel)
      val consistency =
        if (exp.n_answers > 1) Some(ExperimentAnalytics.selfConsistency(enriched)) else None
      render(ListMap(
        "total_answers" -> totalAnswers,
        "mcq" -> ListMap("total" -> mcq.total, "correct" -> mcq.correct,
          "accuracy" -> mcq.accuracy),
        "open" -> ListMap("total" -> open.total, "judged" -> open.judged,
          "avg_score" -> open.avgScore, "median_score" -> open.medianScore,
          "score_distribution" -> open.scoreDistribution.map { case (range, n) =>
            ListMap("range" -> range, "count" -> n) }),
        "by_area" -> ExperimentAnalytics.breakdownByField(enriched, store.judgments,
          "area", judgeModel).collect().toSeq,
        "by_course" -> ExperimentAnalytics.breakdownByField(enriched, store.judgments,
          "course", judgeModel).collect().toSeq,
        "tokens" -> ListMap("generation_input" -> gi, "generation_output" -> go,
          "judge_input" -> ji, "judge_output" -> jo, "total" -> (gi + go + ji + jo)),
        "self_consistency" -> consistency.map(c => ListMap(
          "total_variants" -> c.totalVariants, "unanimous" -> c.unanimous,
          "unanimous_rate" -> c.unanimousRate))))
    } finally enriched.unpersist()
  }
}
