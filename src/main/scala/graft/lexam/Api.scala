package graft.lexam

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Thin JSON façade reproducing the reference's endpoint response
  * shapes (SURVEY §7.1 layer 8; serialization semantics of
  * main.py:554-577 and the routers). A reference-API consumer can
  * switch to these and parse identical structures — including ordering
  * rules like the count-desc insertion order of search-summary
  * by_course (SURVEY §7.4 item 9) and years-descending facets
  * (main.py:493).
  */
object Api {

  // ----------------------------------------------------- tiny renderer

  private def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case '\r' => "\\r"; case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => jstr(s)
    case b: Boolean => b.toString
    case d: Double => if (d == math.rint(d) && !d.isInfinite) f"$d%.1f" else d.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => jstr(k.toString) + ": " + render(x) }.mkString("{", ", ", "}")
    case s: Seq[_] => s.map(render).mkString("[", ", ", "]")
    case r: Row => render(rowToMap(r))
    case ts: java.sql.Timestamp =>
      jstr(ts.toInstant.toString.stripSuffix("Z")) // ISO, like datetime.isoformat()
    case other => jstr(other.toString)
  }

  private def rowToMap(r: Row): scala.collection.Map[String, Any] = {
    val m = scala.collection.mutable.LinkedHashMap[String, Any]()
    r.schema.fields.zipWithIndex.foreach { case (f, i) =>
      val v = if (r.isNullAt(i)) null else r.get(i) match {
        case nested: Row => rowToMap(nested)
        case seq: scala.collection.Seq[_] =>
          seq.map { case rr: Row => rowToMap(rr); case x => x }.toSeq
        case x => x
      }
      m += f.name -> v
    }
    m
  }

  // ------------------------------------------------------- endpoints

  /** GET /api/questions (main.py:159-207). */
  def questionsPage(questions: DataFrame, variants: DataFrame,
                    fc: FilterConfig = FilterConfig(),
                    search: Option[String] = None,
                    sortBy: Option[String] = None, sortDir: String = "asc",
                    offset: Int = 0, limit: Int = 50): String = {
    val page = QuestionService.listQuestions(questions, variants, fc, search,
      sortBy, sortDir, offset, limit)
    render(scala.collection.immutable.ListMap(
      "total" -> page.total, "offset" -> offset, "limit" -> limit,
      "items" -> page.items.collect().toSeq))
  }

  /** GET /api/questions/{id} (main.py:210-221): one question with its
    * nested variants, or the reference's not-found error object. */
  def question(questions: DataFrame, variants: DataFrame, id: String): String =
    QuestionService.getQuestion(questions, variants, id).collect().headOption
      .map(render)
      .getOrElse("""{"error": "not found"}""")

  /** GET /api/stats (main.py:223-249). */
  def stats(questions: DataFrame, variants: DataFrame): String = {
    val s = DatasetAnalytics.stats(questions, variants)
    render(scala.collection.immutable.ListMap(
      "total_questions" -> s.totalQuestions,
      "total_variants" -> s.totalVariants,
      "by_config" -> s.byConfig, "by_area" -> s.byArea,
      "by_language" -> s.byLanguage,
      "by_year" -> scala.collection.immutable.ListMap(
        s.byYear.map { case (y, n) => y.toString -> (n: Any) }: _*)))
  }

  /** GET /api/filters (main.py:460-493): facet values per dimension
    * given the other active filters, ascending; years descending. All
    * seven dims come from one [[Filters.facetValues]] query. */
  def filters(questions: DataFrame, variants: DataFrame,
              fc: FilterConfig, search: Option[String] = None): String = {
    val byDim = Filters.facetValues(questions, variants, fc, search).collect().toSeq
      .groupBy(_.getAs[String]("dim")).withDefaultValue(Nil)
    def vals(dim: String): Seq[String] =
      byDim(dim).map(_.getAs[String]("value")).sorted(GroupingSets.Asc)
    render(scala.collection.immutable.ListMap(
      "configs" -> vals("config"), "splits" -> vals("split"),
      "areas" -> vals("area"), "languages" -> vals("language"),
      "courses" -> vals("course"), "jurisdictions" -> vals("jurisdiction"),
      "years" -> byDim("year").map(_.get(2).asInstanceOf[Int]).sorted.reverse))
  }

  /** GET /api/search-summary (main.py:496-551) — by_area/by_language
    * key-ascending, by_course the top 10 in count-desc insertion order;
    * one [[DatasetAnalytics.searchCounts]] aggregate. A NULL key renders
    * as "null", as the reference's JSON encoder writes a None key. */
  def searchSummary(questions: DataFrame, variants: DataFrame,
                    fc: FilterConfig, search: String): String = {
    import scala.collection.immutable.ListMap
    val Seq(total, byArea, byLang, byCourse) = GroupingSets.split(
      DatasetAnalytics.searchCounts(questions, variants, fc, search).collect().toSeq,
      DatasetAnalytics.SearchSets)
    def n(r: Row): Long = r.getAs[Long]("count")
    def kv(rows: Seq[Row], key: String): ListMap[String, Any] =
      ListMap(rows.map(r => String.valueOf(r.getAs[String](key)) -> (n(r): Any)): _*)
    def asc(rows: Seq[Row], key: String) = rows.sortBy(_.getAs[String](key))(GroupingSets.Asc)
    val topCourses = byCourse.sortBy(r => (-n(r), r.getAs[String]("course")))(
      Ordering.Tuple2(Ordering.Long, GroupingSets.Asc)).take(10)
    render(ListMap(
      "total" -> total.headOption.fold(0L)(n), "by_area" -> kv(asc(byArea, "area"), "area"),
      "by_language" -> kv(asc(byLang, "language"), "language"),
      "by_course" -> kv(topCourses, "course")))
  }

  /** GET /api/course-summary (main.py:252-310). */
  def courseSummary(questions: DataFrame, variants: DataFrame,
                    language: Option[String] = None): String =
    render(DatasetAnalytics.courseSummary(questions, variants, language)
      .collect().toSeq)

  /** GET /api/experiments/{id}/answers (routers/generation.py:30-70):
    * id-ordered page enriched with variant+question context — the
    * reference's per-row N+1 lookups become two broadcast joins. */
  def answersPage(store: pipeline.LexamStore, experimentId: Long,
                  offset: Int = 0, limit: Int = 50): String = {
    val base = store.answers.where(col("experiment_id") === experimentId)
    val total = base.count()
    val enrichedPage = base.orderBy(col("id")).offset(offset).limit(limit)
      .join(broadcast(store.variants.select(col("id").as("variant_id"),
        col("question_id"), col("config"), col("answer").as("gold_answer"),
        col("gold").as("gold_index"), col("choices"))), Seq("variant_id"), "left_outer")
      .join(broadcast(store.questions.select(col("id").as("question_id"),
        col("course"), col("area"), col("question").as("question_text"))),
        Seq("question_id"), "left_outer")
      .select("id", "variant_id", "question_id", "config", "course", "area",
        "question_text", "gold_answer", "gold_index", "choices", "run_index",
        "model_name", "answer_text", "extracted_letter", "mcq_correct",
        "input_tokens", "output_tokens", "created_at")
      .orderBy(col("id"))
    render(scala.collection.immutable.ListMap(
      "total" -> total, "offset" -> offset, "limit" -> limit,
      "items" -> enrichedPage.collect().toSeq))
  }

  /** GET /api/experiments/{id}/judgments (routers/judging.py:35-78):
    * the experiment's `LexamStore.liveJudgments`, which carry their
    * answer's variant and text. */
  def judgmentsPage(store: pipeline.LexamStore, experimentId: Long,
                    judgeModel: Option[String] = None,
                    offset: Int = 0, limit: Int = 50): String = {
    var j = store.liveJudgments(Some(experimentId))
    judgeModel.foreach(m => j = j.where(col("judge_model") === m))
    val total = j.count()
    val page = j.orderBy(col("id")).offset(offset).limit(limit)
      .select("id", "answer_id", "variant_id", "judge_model", "judgment_text",
        "score", "answer_text", "input_tokens", "output_tokens", "created_at")
    render(scala.collection.immutable.ListMap(
      "total" -> total, "offset" -> offset, "limit" -> limit,
      "items" -> page.collect().toSeq))
  }

  /** `_serialize` twin (routers/experiments.py:192-211) — full field
    * set in the reference dict order. filter_config renders the typed
    * normalized form (all dimensions, inactive = []/null) rather than
    * the reference's raw stored dict. */
  def serializeExperiment(e: Experiment): scala.collection.immutable.ListMap[String, Any] =
    scala.collection.immutable.ListMap(
      "id" -> e.id, "name" -> e.name, "description" -> e.description,
      "filter_config" -> scala.collection.immutable.ListMap(
        "config" -> e.filter_config.config, "split" -> e.filter_config.split,
        "area" -> e.filter_config.area, "language" -> e.filter_config.language,
        "course" -> e.filter_config.course,
        "jurisdiction" -> e.filter_config.jurisdiction,
        "year" -> e.filter_config.year,
        "negative_question" -> e.filter_config.negative_question,
        "international" -> e.filter_config.international),
      "open_question_prompt" -> e.open_question_prompt,
      "mcq_prompt" -> e.mcq_prompt,
      "judge_system_prompt" -> e.judge_system_prompt,
      "judge_prompt" -> e.judge_prompt,
      "model_name" -> e.model_name, "temperature" -> e.temperature,
      "max_tokens" -> e.max_tokens,
      "judge_temperature" -> e.judge_temperature,
      "judge_max_tokens" -> e.judge_max_tokens,
      "n_answers" -> e.n_answers, "status" -> e.status,
      "created_at" -> e.created_at, "updated_at" -> e.updated_at)

  /** Per-experiment judge breakdown rows (`_judge_breakdown`,
    * routers/experiments.py:180-189), keyed by experiment id, judge
    * models ascending — all experiments (or the one asked for) in one
    * grouped pass over the one judgment read path,
    * `LexamStore.liveJudgments`, instead of the reference's
    * per-experiment query. */
  private def judgeBreakdowns(store: pipeline.LexamStore,
                              experimentId: Option[Long] = None): Map[Long, Seq[(String, Long)]] =
    store.liveJudgments(experimentId)
      .groupBy(col("eid"), col("judge_model"))
      .agg(count(lit(1)).as("n"))
      .coalesce(1).orderBy(col("judge_model")).collect() // one partition: no range exchange
      .groupBy(_.getLong(0))
      .view.mapValues(_.toSeq.map(r => r.getString(1) -> r.getLong(2))).toMap

  private def renderJudges(judges: Seq[(String, Long)]): Seq[Any] =
    judges.map { case (m, n) =>
      scala.collection.immutable.ListMap[String, Any]("model" -> m, "count" -> n) }

  /** GET /api/experiments (routers/experiments.py:72-95): experiments
    * newest-first, full serialization + answer/judgment counts + judge
    * breakdown — the reference's three-per-experiment N+1 queries
    * collapse into two grouped aggregates total: an experiment's
    * judgment count is the sum of its judge breakdown (reference
    * semantics: a judgment whose answer was deleted counts as 0,
    * experiments.py:79-84). */
  def listExperiments(store: pipeline.LexamStore): String = {
    val aCounts = store.answers.groupBy(col("experiment_id"))
      .agg(count(lit(1)).as("answer_count")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val judges = judgeBreakdowns(store).withDefaultValue(Nil)
    val items = store.experiments
      .sortBy(e => (-e.created_at.map(_.getTime).getOrElse(0L), -e.id))
      .map { e =>
        serializeExperiment(e) ++ scala.collection.immutable.ListMap[String, Any](
          "answer_count" -> aCounts.getOrElse(e.id, 0L),
          "judgment_count" -> judges(e.id).map(_._2).sum,
          "judges" -> renderJudges(judges(e.id)))
      }
    render(items)
  }

  /** GET /api/experiments/{id} (routers/experiments.py:96-113): two
    * aggregates, the answer count and the experiment's judge breakdown,
    * whose sum is the judgment count (as in [[listExperiments]]). */
  def getExperiment(store: pipeline.LexamStore, experimentId: Long): String = {
    val e = store.getExperiment(experimentId)
      .getOrElse(throw new NoSuchElementException(s"experiment $experimentId"))
    val answerCount = store.answers
      .where(col("experiment_id") === experimentId).count()
    val judges = judgeBreakdowns(store, Some(experimentId)).getOrElse(experimentId, Nil)
    render(serializeExperiment(e) ++ scala.collection.immutable.ListMap[String, Any](
      "answer_count" -> answerCount, "judgment_count" -> judges.map(_._2).sum,
      "judges" -> renderJudges(judges)))
  }

  /** GET /api/experiments/{id}/question-count
    * (routers/experiments.py:165-176). */
  def questionCount(store: pipeline.LexamStore, fc: FilterConfig): Long =
    Filters.filterVariants(store.variants, store.questions, fc).count()

  /** POST /api/experiments/{id}/question-count
    * (routers/experiments.py:174-178): preview the variant count for an
    * UNSAVED config. The body is the reference's loose dict — a missing
    * or null `filter_config` means "no filters" (`body.get(...)` with a
    * `{}` default), and a partial one normalizes through the same
    * scalar-promoting, falsy-inactive rules as create/update. */
  def questionCountPreview(store: pipeline.LexamStore,
                           body: Map[String, Any]): Long =
    questionCount(store, body.get("filter_config") match {
      case Some(m: Map[_, _]) =>
        FilterConfig.fromMap(m.asInstanceOf[Map[String, Any]])
      case None | Some(null) => FilterConfig()
      case Some(other) =>
        // a present-but-non-object config (e.g. double-encoded JSON
        // string) errors in the reference too (dict ops on a str) —
        // returning the unfiltered total would be a plausible-looking
        // wrong answer
        throw new IllegalArgumentException(
          s"filter_config must be an object, got ${other.getClass.getSimpleName}")
    })

  /** GET /api/experiments/{id}/stats (experiment_stats.py:13-114):
    * [[ExperimentAnalytics.summary]]'s two aggregates plus, for a
    * multi-run experiment, self-consistency, over one cached enriched
    * frame. */
  def experimentStats(store: pipeline.LexamStore, experimentId: Long,
                      modelName: Option[String] = None,
                      judgeModel: Option[String] = None): String = {
    val exp = store.getExperiment(experimentId)
      .getOrElse(throw new NoSuchElementException(s"experiment $experimentId"))
    val enriched = ExperimentAnalytics.enriched(store.answers, store.variants,
      store.questions, store.judgments, experimentId, modelName).cache()
    try {
    val s = ExperimentAnalytics.summary(enriched, store.judgments, judgeModel)
    val (mcq, open) = (s.mcq, s.open)
    val (gi, go, ji, jo) = s.tokens
    val consistency =
      if (exp.n_answers > 1) Some(ExperimentAnalytics.selfConsistency(enriched)) else None
    render(scala.collection.immutable.ListMap(
      "total_answers" -> s.totalAnswers,
      "mcq" -> scala.collection.immutable.ListMap(
        "total" -> mcq.total, "correct" -> mcq.correct, "accuracy" -> mcq.accuracy),
      "open" -> scala.collection.immutable.ListMap(
        "total" -> open.total, "judged" -> open.judged,
        "avg_score" -> open.avgScore, "median_score" -> open.medianScore,
        "score_distribution" -> open.scoreDistribution.map { case (range, n) =>
          scala.collection.immutable.ListMap("range" -> range, "count" -> n) }),
      "by_area" -> s.byArea, "by_course" -> s.byCourse,
      "tokens" -> scala.collection.immutable.ListMap(
        "generation_input" -> gi, "generation_output" -> go,
        "judge_input" -> ji, "judge_output" -> jo,
        "total" -> (gi + go + ji + jo)),
      "self_consistency" -> consistency.map(c => scala.collection.immutable.ListMap(
        "total_variants" -> c.totalVariants, "unanimous" -> c.unanimous,
        "unanimous_rate" -> c.unanimousRate))))
    } finally enriched.unpersist()
  }

  /** GET /api/dashboard (main.py:312-459): composite analytics response
    * in three aggregates over one cached cohort —
    * [[DatasetAnalytics.dashboardFacets]] (every question facet),
    * [[DatasetAnalytics.dashboardSplitCounts]] and
    * [[DatasetAnalytics.answerLengthStats]] — split, ordered and
    * assembled here. List orders: courses count-desc (course-asc,
    * area-asc ties, deterministic where the reference's dict order is
    * not), facet lists name-asc, years ascending, area-keyed tables in
    * the reference's fixed area order filtered to areas present
    * (main.py:396,407,441). */
  def dashboard(questions: DataFrame, variants: DataFrame,
                config: Seq[String] = Nil, language: Seq[String] = Nil): String = {
    import scala.collection.immutable.ListMap
    import DatasetAnalytics.{Areas, Jurisdictions, WordBins}
    val qs = DatasetAnalytics
      .dashboardQuestions(questions, variants, config, language).cache()
    try {
      val Seq(courseRows, areaRows, jurisdictionRows, yearRows, total) = GroupingSets.split(
        DatasetAnalytics.dashboardFacets(qs).collect().toSeq, DatasetAnalytics.DashboardSets)
      val Seq(splitRows, splitTotal) = GroupingSets.split(
        DatasetAnalytics.dashboardSplitCounts(variants, qs, config).collect().toSeq,
        DatasetAnalytics.SplitSets)
      val lengths = DatasetAnalytics
        .answerLengthStats(DatasetAnalytics.answerWordCounts(qs, variants)).collect().toSeq

      def n(r: Row, c: String): Long = r.getAs[Long](c)
      def pick(r: Row, cols: Seq[String]): Seq[(String, Any)] = cols.map(c => c -> r.getAs[Any](c))
      def key(r: Row, c: String): String = r.getAs[String](c)
      val courses = courseRows
        .sortBy(r => (-n(r, "count"), key(r, "course"), key(r, "area")))(
          Ordering.Tuple3(Ordering.Long, GroupingSets.Asc, GroupingSets.Asc))
        .map(r => ListMap(pick(r, Seq("course", "area", "count", "lang_de", "lang_en")): _*))
      def nameValue(rows: Seq[Row], c: String): Seq[Any] =
        rows.sortBy(key(_, c))(GroupingSets.Asc)
          .map(r => ListMap[String, Any]("name" -> key(r, c), "value" -> n(r, "count")))
      val years = yearRows.sortBy(_.getAs[Int]("year")).map(r =>
        ListMap[String, Any]("year" -> r.getAs[Int]("year")) ++ pick(r, Areas) +
          ("total" -> Areas.map(n(r, _)).sum))
      val splitN = splitTotal.headOption.fold(0L)(n(_, "value"))
      val splits = splitRows.sortBy(key(_, "split"))(GroupingSets.Asc).map(r =>
        ListMap[String, Any]("name" -> key(r, "split"), "value" -> n(r, "value"),
          "pct" -> DatasetAnalytics.pct(n(r, "value"), splitN)))
      def areaOrdered(rows: Seq[Row])(cells: Row => Seq[(String, Any)]): Seq[Any] = {
        val byArea = rows.map(r => key(r, "area") -> r).toMap
        Areas.filter(byArea.contains).map(a => ListMap[String, Any]("area" -> a) ++ cells(byArea(a)))
      }
      val answerLengths = WordBins.zipWithIndex.map { case ((_, _, label), i) =>
        ListMap[String, Any]("range" -> label, "count" -> lengths.map(n(_, s"bin$i")).sum)
      }
      render(ListMap[String, Any](
        "total_questions" -> total.headOption.fold(0L)(n(_, "count")),
        "total_courses" -> courses.length,
        "total_de" -> courseRows.map(n(_, "lang_de")).sum,
        "total_en" -> courseRows.map(n(_, "lang_en")).sum,
        "min_year" -> years.headOption.map(_("year")).getOrElse(0),
        "max_year" -> years.lastOption.map(_("year")).getOrElse(0),
        "courses" -> courses,
        "areas" -> nameValue(areaRows, "area"),
        "jurisdictions" -> nameValue(jurisdictionRows, "jurisdiction"),
        "years" -> years,
        "splits" -> splits,
        "area_jurisdiction" -> areaOrdered(areaRows)(pick(_, Jurisdictions)),
        "lang_area" -> areaOrdered(areaRows)(r => Seq("de" -> n(r, "lang_de"), "en" -> n(r, "en"))),
        "answer_lengths" -> answerLengths,
        "answer_stats" -> areaOrdered(lengths)(
          pick(_, Seq("avgWords", "medianWords", "minWords", "maxWords")))))
    } finally qs.unpersist()
  }

  /** The frontend's Open-Ended vs MCQ comparison (Dashboard.jsx:595-629)
    * served as ONE response instead of two /api/dashboard fetches merged
    * client-side: areas / years / courses from one
    * [[DatasetAnalytics.comparisonCounts]] aggregate, a side without a
    * key zero-filled (the U2 operator's merge). Key names match the JSX
    * chart fields ("Open-Ended", "MCQ"; course rows open/mcq/total).
    * Orders are deterministic where the JSX depends on fetch/insertion
    * order: areas follow the fixed area order filtered to areas present
    * (AREA_ORDER, jsx:603), years ascend (jsx:614), courses sort
    * total-desc with course-asc, area-asc ties. */
  def dashboardComparison(questions: DataFrame, variants: DataFrame,
      mcqConfigs: Seq[String] = DatasetAnalytics.McqConfigs,
      language: Seq[String] = Nil): String = {
    import scala.collection.immutable.ListMap
    val Seq(areaRows, yearRows, courseRows) = GroupingSets.split(
      DatasetAnalytics.comparisonCounts(questions, variants, mcqConfigs, language)
        .collect().toSeq, DatasetAnalytics.ComparisonSets)
    def n(r: Row, c: String): Long = r.getAs[Long](c)
    def sides(r: Row) = ListMap[String, Any]("Open-Ended" -> n(r, "open"), "MCQ" -> n(r, "mcq"))
    val byArea = areaRows.map(r => r.getAs[String]("area") -> r).toMap
    val areas = DatasetAnalytics.Areas.filter(byArea.contains)
      .map(a => ListMap[String, Any]("area" -> a) ++ sides(byArea(a)))
    val years = yearRows.sortBy(_.getAs[Int]("year"))
      .map(r => ListMap[String, Any]("year" -> r.getAs[Int]("year")) ++ sides(r))
    val courses = courseRows
      .map(r => (r, n(r, "open") + n(r, "mcq")))
      .sortBy { case (r, t) => (-t, r.getAs[String]("course"), r.getAs[String]("area")) }(
        Ordering.Tuple3(Ordering.Long, GroupingSets.Asc, GroupingSets.Asc))
      .map { case (r, t) => ListMap[String, Any](
        "course" -> r.getAs[String]("course"), "area" -> r.getAs[String]("area"),
        "open" -> n(r, "open"), "mcq" -> n(r, "mcq"), "total" -> t) }
    render(ListMap[String, Any]("area_comparison" -> areas,
      "year_comparison" -> years, "course_comparison" -> courses))
  }

  /** GET /api/experiments/{id}/stats/compare-judges
    * (experiment_stats.py:117-160): per-judge count/avg/exact-median
    * over scored judgments. */
  def compareJudges(store: pipeline.LexamStore, experimentId: Long): String = {
    store.getExperiment(experimentId)
      .getOrElse(throw new NoSuchElementException(s"experiment $experimentId"))
    render(ExperimentAnalytics
      .compareJudges(store.answers, store.judgments, experimentId)
      .collect().toSeq)
  }

  /** GET /api/experiments/{id}/stats/by-question
    * (experiment_stats.py:163-222): per-question rollup, avg-score-desc.
    * Columns reordered to the reference dict order. */
  def statsByQuestion(store: pipeline.LexamStore, experimentId: Long,
                      modelName: Option[String] = None,
                      judgeModel: Option[String] = None): String = {
    store.getExperiment(experimentId)
      .getOrElse(throw new NoSuchElementException(s"experiment $experimentId"))
    render(ExperimentAnalytics.statsByQuestion(store.answers, store.variants,
        store.questions, store.judgments, experimentId, modelName, judgeModel)
      .select("question_id", "course", "area", "config", "mcq_correct",
        "avg_score", "answer_count", "judgment_count")
      .collect().toSeq)
  }

  /** GET /api/experiments/{id}/judge-summary (routers/judging.py:111-132):
    * judgment counts (nulls included) and avg scores per judge model. */
  def judgeSummary(store: pipeline.LexamStore, experimentId: Long): String =
    render(ExperimentAnalytics
      .judgeSummary(store.answers, store.judgments, experimentId)
      .collect().toSeq)
}
