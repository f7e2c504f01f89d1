package graft.lexam

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/** Dataset-level analytics surfaces (reference main.py:223-551):
  * `/api/stats`, `/api/dashboard`, `/api/course-summary`,
  * `/api/search-summary`. Each reference Python-dict pivot/set-union is
  * one Spark aggregation (SURVEY §2.4); nothing leaves the cluster
  * until the final small collect by the API layer.
  */
object DatasetAnalytics {

  val Areas = Seq("Private", "Public", "Criminal", "Interdisciplinary")
  val Jurisdictions = Seq("Swiss", "International", "Generic")
  val McqConfigs = Seq("mcq_4_choices", "mcq_8_choices", "mcq_16_choices", "mcq_32_choices")

  // ----------------------------------------------------- /api/stats

  case class Stats(totalQuestions: Long, totalVariants: Long,
                   byConfig: Map[String, Long], byArea: Map[String, Long],
                   byLanguage: Map[String, Long], byYear: Seq[(Int, Long)])

  /** main.py:223-249 — totals + four group-counts (A1/A2). The
    * reference's six separate queries collapse into two grouping-sets
    * aggregates — one scan of questions (total ∪ by-area ∪ by-language
    * ∪ by-year) and one of variants (total ∪ by-config). */
  def stats(questions: DataFrame, variants: DataFrame): Stats = {
    val qSets = Seq(Nil, Seq("area"), Seq("language"), Seq("year"))
    val vSets = Seq(Nil, Seq("config"))
    val Seq(qTotal, byArea, byLanguage, byYear) = GroupingSets.split(
      GroupingSets.aggregate(questions, qSets, count(lit(1)).as("n")).collect(), qSets)
    val Seq(vTotal, byConfig) = GroupingSets.split(
      GroupingSets.aggregate(variants, vSets, count(lit(1)).as("n")).collect(), vSets)
    def n(r: Row) = r.getAs[Long]("n")
    def counts(rows: Seq[Row], key: String) = rows.map(r => r.getAs[String](key) -> n(r)).toMap
    Stats(
      totalQuestions = qTotal.headOption.fold(0L)(n),
      totalVariants  = vTotal.headOption.fold(0L)(n),
      byConfig   = counts(byConfig, "config"),
      byArea     = counts(byArea, "area"),
      byLanguage = counts(byLanguage, "language"),
      byYear     = byYear.map(r => r.getAs[Int]("year") -> n(r)).sortBy(_._1))
  }

  // ------------------------------------------------- /api/dashboard

  /** Dashboard question cohort (main.py:320-337 `fq`): optional config
    * semi-join + language filter. A semi-join keeps each question once
    * however many of its variants match, so its build side is not
    * deduplicated first. */
  def dashboardQuestions(questions: DataFrame, variants: DataFrame,
                         config: Seq[String], language: Seq[String]): DataFrame = {
    var q = questions
    if (config.nonEmpty) {
      val qids = variants.where(col("config").isin(config: _*))
        .select(col("question_id").as("id"))
      q = q.join(qids, Seq("id"), "left_semi")
    }
    if (language.nonEmpty) q = q.where(col("language").isin(language: _*))
    q
  }

  /** The question facets of `/api/dashboard` as the grouping sets of
    * [[dashboardFacets]]: the courses table, areas (with the
    * jurisdiction and language cross-tab cells), jurisdictions, years
    * (with the area pivot cells) and the total. */
  val DashboardSets: Seq[Seq[String]] =
    Seq(Seq("course", "area"), Seq("area"), Seq("jurisdiction"), Seq("year"), Nil)

  /** Every question facet of the dashboard (main.py:342-407) in one
    * aggregate over the cohort: per set `count`, `lang_de`/`lang_en`
    * (language = de / ≠ de, the courses table), `en` (language = en)
    * and one count per fixed area and jurisdiction — the pivot cells of
    * [[dashboardYears]], [[dashboardAreaJurisdiction]] and
    * [[dashboardLangArea]] as conditional counts of the row's set. */
  def dashboardFacets(qs: DataFrame): DataFrame = {
    def n(c: Column, as: String) = sum(when(c, 1).otherwise(0)).as(as)
    GroupingSets.aggregate(qs, DashboardSets, Seq(count(lit(1)).as("count"),
        n(col("language") === "de", "lang_de"), n(col("language") =!= "de", "lang_en"),
        n(col("language") === "en", "en")) ++
      Areas.map(a => n(col("area") === a, a)) ++
      Jurisdictions.map(j => n(col("jurisdiction") === j, j)): _*)
  }

  /** Courses table: per-course count + lang_de/lang_en pivot, sorted by
    * count desc (main.py:342-357). */
  def dashboardCourses(qs: DataFrame): DataFrame =
    qs.groupBy(col("course"), col("area"))
      .agg(count(lit(1)).as("count"),
        sum(when(col("language") === "de", 1).otherwise(0)).as("lang_de"),
        sum(when(col("language") =!= "de", 1).otherwise(0)).as("lang_en"))
      .orderBy(desc("count"), col("course"))

  /** Year rows with fixed area pivot columns + total (main.py:369-380). */
  def dashboardYears(qs: DataFrame): DataFrame =
    qs.groupBy(col("year"))
      .pivot("area", Areas).agg(count(lit(1)))
      .na.fill(0, Areas)
      .withColumn("total", Areas.map(col).reduce(_ + _))
      .orderBy(col("year"))

  /** The cohort's variants of the dashboard's configs. */
  private def cohortVariants(variants: DataFrame, qs: DataFrame,
                             config: Seq[String]): DataFrame = {
    val v = if (config.isEmpty) variants else variants.where(col("config").isin(config: _*))
    v.join(qs.select(col("id").as("question_id")), Seq("question_id"), "left_semi")
  }

  val SplitSets: Seq[Seq[String]] = Seq(Seq("split"), Nil)

  /** Distinct questions per split and in all (`value`), one aggregate;
    * the caller derives pct (main.py:382-385). */
  def dashboardSplitCounts(variants: DataFrame, qs: DataFrame,
                           config: Seq[String]): DataFrame =
    GroupingSets.aggregate(cohortVariants(variants, qs, config), SplitSets,
      countDistinct(col("question_id")).as("value"))

  /** `value` as a percentage of `total`, rounded half-even like Python
    * round() (main.py:385) and Spark's bround. */
  def pct(value: Long, total: Long): String =
    if (total == 0) "0%"
    else BigDecimal(value * 100.0 / total)
      .setScale(0, BigDecimal.RoundingMode.HALF_EVEN).toInt.toString + "%"

  /** Distinct questions per split with pct (main.py:382-385). */
  def dashboardSplits(variants: DataFrame, qs: DataFrame,
                      config: Seq[String]): DataFrame = {
    val v = cohortVariants(variants, qs, config)
    val total = v.agg(countDistinct(col("question_id"))).first().getLong(0)
    v.groupBy(col("split"))
      .agg(countDistinct(col("question_id")).as("value"))
      .withColumn("pct",
        if (total == 0) lit("0%")
        // bround = half-even, matching Python round() (main.py:385)
        else concat(bround(col("value") * 100.0 / total.toDouble).cast("int"), lit("%")))
      .orderBy(col("split"))
  }

  // ------------------- open-vs-MCQ comparison (Dashboard.jsx:595-629)

  val ComparisonSets: Seq[Seq[String]] = Seq(Seq("area"), Seq("year"), Seq("course", "area"))

  /** The open-vs-MCQ comparison (Dashboard.jsx:595-629) in one
    * aggregate: each question of the language cohort carries an `open`
    * and an `mcq` flag (it has an open / an MCQ-config variant), and
    * the sets (area), (year), (course, area) sum them. A key present on
    * one side only reads 0 on the other — the JSX maps' `|| 0` — and a
    * NULL key is one group, as the JSX map merges it. */
  def comparisonCounts(questions: DataFrame, variants: DataFrame,
                       mcqConfigs: Seq[String], language: Seq[String]): DataFrame = {
    val isOpen = col("config") === "open_question"
    val isMcq = col("config").isin(mcqConfigs: _*)
    val flags = variants.where(isOpen || isMcq)
      .groupBy(col("question_id").as("id"))
      .agg(max(when(isOpen, 1).otherwise(0)).as("open"),
        max(when(isMcq, 1).otherwise(0)).as("mcq"))
    val qs = if (language.isEmpty) questions
      else questions.where(col("language").isin(language: _*))
    GroupingSets.aggregate(qs.join(flags, Seq("id")), ComparisonSets,
      sum(col("open")).as("open"), sum(col("mcq")).as("mcq"))
  }

  /** The frontend's client-side open-vs-MCQ area merge
    * (Dashboard.jsx:596-604) re-expressed as the engine's full-outer
    * zero-fill join (the U2 operator shape): each side counts its own
    * filtered question set per area; an area present on one side only
    * zero-fills the other — exactly the JSX maps' `|| 0` defaults. */
  def comparisonAreas(oe: DataFrame, mcq: DataFrame): DataFrame =
    oe.groupBy(col("area")).agg(count(lit(1)).as("open_ended"))
      .join(mcq.groupBy(col("area")).agg(count(lit(1)).as("mcq")),
        Seq("area"), "full_outer")
      .na.fill(0, Seq("open_ended", "mcq"))

  /** Year merge (Dashboard.jsx:607-615): the JSX reads each side's
    * `years[].total`, which is the per-year question count — same
    * full-outer zero-fill, sorted year ascending like the JSX sort. */
  def comparisonYears(oe: DataFrame, mcq: DataFrame): DataFrame =
    oe.groupBy(col("year")).agg(count(lit(1)).as("open_ended"))
      .join(mcq.groupBy(col("year")).agg(count(lit(1)).as("mcq")),
        Seq("year"), "full_outer")
      .na.fill(0, Seq("open_ended", "mcq"))
      .orderBy(col("year"))

  /** Course merge (Dashboard.jsx:617-629): per-course open/mcq counts
    * with the course's area carried through, total = open + mcq (the
    * JSX updates total when the mcq side matches; a one-sided course
    * keeps the other side at 0). Ordered (total desc, course asc) —
    * the JSX's stable sort ties break on fetch/insertion order, which
    * is not reproducible; course-asc is this repo's deterministic
    * stand-in, same stance as the dashboard courses table. Joined on
    * (course, area): area is functionally determined by course in the
    * LEXam data, so this equals the JSX's course-keyed map. */
  def comparisonCourses(oe: DataFrame, mcq: DataFrame): DataFrame =
    oe.groupBy(col("course"), col("area")).agg(count(lit(1)).as("open"))
      .join(mcq.groupBy(col("course"), col("area"))
          .agg(count(lit(1)).as("mcq")),
        Seq("course", "area"), "full_outer")
      .na.fill(0, Seq("open", "mcq"))
      .withColumn("total", col("open") + col("mcq"))
      .orderBy(desc("total"), col("course"))

  /** area × jurisdiction cross-tab, fixed columns (main.py:388-396). */
  def dashboardAreaJurisdiction(qs: DataFrame): DataFrame =
    qs.groupBy(col("area"))
      .pivot("jurisdiction", Jurisdictions).agg(count(lit(1)))
      .na.fill(0, Jurisdictions)

  /** area × language cross-tab (main.py:399-407). */
  def dashboardLangArea(qs: DataFrame): DataFrame =
    qs.groupBy(col("area"))
      .pivot("language", Seq("de", "en")).agg(count(lit(1)))
      .na.fill(0, Seq("de", "en"))

  /** Open-answer word counts: histogram bins + per-area stats
    * (main.py:410-449). Bins are [lo, hi) with 600+ open-ended; the
    * reference's mean/median are Python statistics over ints, exactly
    * reproduced by avg/median. */
  def answerWordCounts(qs: DataFrame, variants: DataFrame): DataFrame =
    variants
      .where(col("config") === "open_question" && col("answer").isNotNull)
      .join(qs.select(col("id").as("question_id"), col("area")),
        Seq("question_id"), "inner")
      .withColumn("wc", TextFunctions.wordCount(col("answer")))

  val WordBins: Seq[(Int, Double, String)] = Seq(
    (0, 50, "< 50 words"), (50, 100, "50–100"), (100, 200, "100–200"),
    (200, 400, "200–400"), (400, 600, "400–600"),
    (600, Double.PositiveInfinity, "600+"))

  private def inBin(lo: Int, hi: Double): Column =
    col("wc") >= lo && (if (hi.isInfinite) lit(true) else col("wc") < hi)

  def answerLengthHistogram(wcs: DataFrame): DataFrame = {
    val bin = WordBins.foldRight(lit(null: String)) { case ((lo, hi, label), acc) =>
      when(inBin(lo, hi), lit(label)).otherwise(acc)
    }
    wcs.withColumn("range", bin).groupBy(col("range")).agg(count(lit(1)).as("count"))
  }

  // bround = half-even, matching Python round(statistics.mean/median)
  // (main.py:437-446); medians of ints land on exact .5 ties often
  private def wordStats: Seq[Column] = Seq(
    bround(avg(col("wc"))).cast("long").as("avgWords"),
    bround(median(col("wc"))).cast("long").as("medianWords"),
    min(col("wc")).as("minWords"),
    max(col("wc")).as("maxWords"))

  def answerStatsByArea(wcs: DataFrame): DataFrame =
    wcs.groupBy(col("area")).agg(wordStats.head, wordStats.tail: _*)

  /** [[answerStatsByArea]] plus `bin0`…`bin5`, the area's count in each
    * [[WordBins]] bin — the histogram is their sum over all areas
    * (NULL area included), so both length panels are one aggregate. */
  def answerLengthStats(wcs: DataFrame): DataFrame =
    wcs.groupBy(col("area")).agg(wordStats.head, wordStats.tail ++
      WordBins.zipWithIndex.map { case ((lo, hi, _), i) =>
        sum(when(inBin(lo, hi), 1).otherwise(0)).as(s"bin$i") }: _*)

  // -------------------------------------------- /api/course-summary

  /** Per-course rollup with distinct-qid set sizes per config bucket,
    * set-union total, sorted (area asc, total desc, course asc) in one
    * partition — main.py:252-310's Python set accumulation (A6) as two
    * plain aggregates: each (course, question) gets a 0/1 flag per
    * bucket, and a course sums its questions' flags, which counts the
    * same distinct question ids with no `Expand`. A course's area is
    * the area of its question with the lowest variant id, the first the
    * reference's loop meets. */
  def courseSummary(questions: DataFrame, variants: DataFrame,
                    language: Option[String] = None): DataFrame = {
    var joined = variants.join(questions,
      variants("question_id") === questions("id"), "inner")
    language.foreach(l => joined = joined.where(col("language") === l))
    val config = col("config")
    val open = config === "open_question"
    def has(c: Column) = max(when(c, 1).otherwise(0))
    val buckets = Seq(
      "mcq_4" -> (config === "mcq_4_choices"),
      "mcq_all" -> config.isin(McqConfigs: _*),
      "open_qa" -> open,
      "open_dev" -> (open && col("split") === "dev"),
      "open_test" -> (open && col("split") === "test"),
      "total" -> (config === "mcq_4_choices" || config.isin(McqConfigs: _*) || open))
    val perQuestion = joined.groupBy(col("course"), col("question_id"))
      .agg(min(variants("id")).as("first_variant"), Seq(
        first(col("area")).as("area"), first(col("jurisdiction")).as("jurisdiction"),
        first(col("language")).as("language"),
        has(col("international") === true).as("international")) ++
        buckets.map { case (name, in) => has(in).as(name) }: _*)
    val firstLanguage = min(col("language"))
    perQuestion.groupBy(col("course"))
      .agg(min_by(col("area"), col("first_variant")).as("area"), Seq(
        array_join(array_sort(collect_set(col("jurisdiction"))), ", ").as("jurisdiction"),
        (max(col("international")) === 1).as("international")) ++
        buckets.map { case (name, _) => sum(col(name)).as(name) } :+
        when(firstLanguage =!= max(col("language")), "both").otherwise(firstLanguage)
          .as("language"): _*)
      .coalesce(1).orderBy(col("area"), desc("total"), col("course")) // no range exchange
  }

  // -------------------------------------------- /api/search-summary

  val SearchSets: Seq[Seq[String]] = Seq(Nil, Seq("area"), Seq("language"), Seq("course"))

  /** [[searchSummary]]'s total and per-area/-language/-course match
    * counts (`count`) in one aggregate; the caller takes the top 10
    * courses. */
  def searchCounts(questions: DataFrame, variants: DataFrame,
                   fc: FilterConfig, search: String): DataFrame =
    GroupingSets.aggregate(Filters.filterQuestions(questions, variants, fc, Some(search)),
      SearchSets, count(lit(1)).as("count"))

  /** Search summary (main.py:496-551): total + by_area/by_language +
    * top-10 courses by match count desc (A8). */
  def searchSummary(questions: DataFrame, variants: DataFrame,
                    fc: FilterConfig, search: String):
      (Long, DataFrame, DataFrame, DataFrame) = {
    val q = Filters.filterQuestions(questions, variants, fc, Some(search)).cache()
    val total = q.count()
    val byArea = q.groupBy(col("area")).count().orderBy(col("area"))
    val byLanguage = q.groupBy(col("language")).count().orderBy(col("language"))
    val byCourse = q.groupBy(col("course")).count()
      .orderBy(desc("count"), col("course")).limit(10)
    (total, byArea, byLanguage, byCourse)
  }
}
