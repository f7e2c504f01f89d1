package graft.lexam

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.immutable.ListMap
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
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
  import spark.implicits._

  /** A parquet store holding `write`'s questions and variants and one
    * generated, twice-judged experiment (id 1, every question, two runs)
    * plus a NULL-score judgment of an open answer. */
  private def experimentStore(write: LexamStore => Unit): LexamStore = {
    val store = new LexamStore(spark,
      java.nio.file.Files.createTempDirectory("agg_endpoints").toString)
    write(store)
    store.saveExperiment(Experiment(id = 1, name = "agg", n_answers = 2))
    val progress = new ProgressStore
    val client = new DeterministicStubClient
    Jobs.runGeneration(store, progress, client, 1L, parallelism = 2)
    Jobs.runJudging(store, progress, client, 1L, "j1", parallelism = 2)
    Jobs.runJudging(store, progress, client, 1L, "j2", parallelism = 2)
    val openAnswer = store.answers.join(store.variants
        .where(col("config") === "open_question").select(col("id").as("variant_id")),
        Seq("variant_id"), "left_semi")
      .orderBy("id").select("id").head().getLong(0)
    store.appendJudgments(Seq(ExperimentJudgment(id = 424242L, answer_id = openAnswer,
      judge_model = "j1", judgment_text = "unscored", input_tokens = 7, output_tokens = 3))
      .toDS().toDF().withColumn("experiment_id", lit(1L)))
    store
  }

  private lazy val fixtureStore = experimentStore(Fixtures.writeTo)
  private lazy val edgeStore = experimentStore(Fixtures.writeEdgeTo)

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

  /** Spark jobs `body` starts, counted through its job group (which
    * the threads it hands work to inherit). A marker job started after
    * `body` returns is seen last, so every earlier job start has been
    * counted by then. */
  private def jobs(body: => Any): Int = {
    val sc = spark.sparkContext
    val group = s"agg-endpoints-${java.util.UUID.randomUUID}"
    val n = new AtomicInteger
    val marker = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group) {
          if (e.properties.getProperty("spark.job.description") == "marker") marker.countDown()
          else n.incrementAndGet()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "endpoint")
      body
      sc.setJobDescription("marker")
      sc.parallelize(Seq(1), 1).count()
      assert(marker.await(60, TimeUnit.SECONDS), "marker job not seen")
      n.get
    } finally {
      sc.clearJobGroup()
      sc.setJobDescription(null)
      sc.removeSparkListener(listener)
    }
  }

  test("job bounds per endpoint on the fixtures store") {
    val s = fixtureStore
    def q = s.questions
    def v = s.variants
    val calls = Seq[(String, Int, () => Any, () => Any)](
      ("dashboard", 12, () => Api.dashboard(q, v, Seq("open_question"), Seq("en")),
        () => Oracle.dashboard(q, v, Seq("open_question"), Seq("en"))),
      ("dashboard_comparison", 4, () => Api.dashboardComparison(q, v, language = Seq("en")),
        () => Oracle.comparison(q, v, Seq("en"))),
      ("filters", 3, () => Api.filters(q, v, FilterConfig(area = Seq("Private"))),
        () => Oracle.filters(q, v, FilterConfig(area = Seq("Private")), None)),
      ("search_summary", 2, () => Api.searchSummary(q, v, FilterConfig(language = Seq("en")), "the"),
        () => Oracle.searchSummary(q, v, FilterConfig(language = Seq("en")), "the")),
      ("experiment_stats", 14, () => Api.experimentStats(s, 1L),
        () => Oracle.experimentStats(s, 1L, None, None)))
    calls.foreach { case (_, _, call, oracle) => call(); oracle() } // warm up
    calls.foreach { case (ep, bound, call, oracle) =>
      val (got, before) = (jobs(call()), jobs(oracle()))
      info(s"$ep: $got jobs (per-facet assembly: $before)")
      assert(got <= bound, s"$ep started $got Spark jobs, bound $bound")
      assert(got < before, s"$ep: $got jobs, per-facet assembly $before")
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
