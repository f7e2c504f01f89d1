package graft.lexam

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** FilterSpec → Column compiler (F1–F4, SURVEY §2.2) plus facets (A7).
  *
  * Mirrors `_apply_filters` / `_apply_search` (reference
  * `backend/app/main.py:58-114`) exactly:
  *  - a dimension is active iff its list is non-empty (Python `[]`/None
  *    falsiness) — tri-state booleans are active iff `isDefined`,
  *    compiled to NULL-excluding `===` (main.py:93-97);
  *  - variant-level dims (`config`/`split`) restrict questions via a
  *    semi-join on matching variants (the reference's conditional join,
  *    main.py:75-81);
  *  - search: question text contains term (case-insensitive) OR any of
  *    its variants' answer does (correlated EXISTS, main.py:102-114).
  *
  * At scale: question-level predicates push to the parquet scan; the
  * variant semi-join shuffles only question ids.
  */
object Filters {

  /** Conjunction of active question-level predicates, or None. */
  def questionPredicate(fc: FilterConfig, skip: Set[String] = Set.empty): Option[Column] = {
    val ps = Seq.newBuilder[Column]
    def dim(name: String, vals: Seq[Any], c: Column): Unit =
      if (!skip.contains(name) && vals.nonEmpty) ps += c.isin(vals: _*)
    dim("area", fc.area, col("area"))
    dim("language", fc.language, col("language"))
    dim("course", fc.course, col("course"))
    dim("jurisdiction", fc.jurisdiction, col("jurisdiction"))
    dim("year", fc.year, col("year"))
    if (!skip.contains("negative_question"))
      fc.negative_question.foreach(b => ps += (col("negative_question") === lit(b)))
    if (!skip.contains("international"))
      fc.international.foreach(b => ps += (col("international") === lit(b)))
    ps.result().reduceOption(_ && _)
  }

  /** Conjunction of active variant-level predicates, or None. */
  def variantPredicate(fc: FilterConfig, skip: Set[String] = Set.empty): Option[Column] = {
    val ps = Seq.newBuilder[Column]
    if (!skip.contains("config") && fc.config.nonEmpty) ps += col("config").isin(fc.config: _*)
    if (!skip.contains("split") && fc.split.nonEmpty) ps += col("split").isin(fc.split: _*)
    ps.result().reduceOption(_ && _)
  }

  /** Questions matching all active filters (+ optional search term).
    * Variant-level dims and search both restrict via question-id
    * semi-joins; search ORs the text match with the variant-answer
    * match using a marker left-join (one pass, no row duplication). */
  def filterQuestions(questions: DataFrame, variants: DataFrame,
                      fc: FilterConfig, search: Option[String] = None,
                      skip: Set[String] = Set.empty): DataFrame = {
    var q = questionPredicate(fc, skip).map(questions.where).getOrElse(questions)
    variantPredicate(fc, skip).foreach { vp =>
      val vq = variants.where(vp).select(col("question_id").as("id")).distinct()
      q = q.join(vq, Seq("id"), "left_semi")
    }
    search.filter(_.nonEmpty).foreach { term =>
      val t = term.toLowerCase
      val matchingVariants = variants
        .where(IcuLower.lower(variants.sparkSession, "answer").contains(t))
        .select(col("question_id").as("id")).distinct()
        .withColumn("_ans_match", lit(true))
      q = q.join(matchingVariants, Seq("id"), "left_outer")
        .where(IcuLower.lower(q.sparkSession, "question").contains(t) || col("_ans_match").isNotNull)
        .drop("_ans_match")
    }
    q
  }

  /** Cohort variants for an experiment: variants ⋈ questions with all
    * dims applied (`services/generation.py:40-63`). Questions side is
    * broadcast — it is the small dimension.
    *
    * Note the cohort filter deliberately SKIPS `negative_question`:
    * `_get_filtered_variants`/`count_filtered_variants`
    * (generation.py:40-63,150-172) test every other dimension plus
    * `international is not None`, but never `negative_question` — an
    * experiment whose filter_config carries that flag still selects the
    * unrestricted cohort. */
  def filterVariants(variants: DataFrame, questions: DataFrame,
                     fc: FilterConfig): DataFrame = {
    val v = variantPredicate(fc).map(variants.where).getOrElse(variants)
    questionPredicate(fc, skip = Set("negative_question")) match {
      case Some(qp) =>
        val qids = questions.where(qp).select(col("id").as("question_id"))
        v.join(broadcast(qids), Seq("question_id"), "left_semi")
      case None => v
    }
  }

  /** The question-level dims `/api/filters` lists. */
  val QuestionFacets: Seq[String] = Seq("area", "language", "course", "jurisdiction", "year")

  /** Every facet of `/api/filters` in one query: distinct rows
    * (`dim`, `value`, `year`) — `year` carries the year dim's values,
    * `value` every other dim's — unordered. Per dim the values are
    * those of [[viableValues]]:
    *  - a question row that passes every filter except the question
    *    facet dims emits its value of dim d when every other active
    *    facet predicate holds;
    *  - a variant of a question that passes every question filter and
    *    the search emits its config when the split predicate holds, and
    *    its split when the config predicate holds. */
  def facetValues(questions: DataFrame, variants: DataFrame,
                  fc: FilterConfig, search: Option[String] = None): DataFrame = {
    def holds(p: Option[Column]) = p.fold(lit(true))(coalesce(_, lit(false)))
    def emit(dim: String, cond: Column): Column = {
      val isYear = dim == "year"
      when(cond, struct(lit(dim).as("dim"),
        (if (isYear) lit(null) else col(dim)).cast("string").as("value"),
        (if (isYear) col(dim) else lit(null)).cast("int").as("year")))
    }
    def emitted(rows: DataFrame, emits: Seq[Column]) =
      rows.select(explode(array(emits: _*)).as("f")).where(col("f").isNotNull).select("f.*")
    val qRows = filterQuestions(questions, variants, fc, search, skip = QuestionFacets.toSet)
    val qEmits = QuestionFacets.map(d => emit(d,
      holds(questionPredicate(fc, skip = Set(d, "negative_question", "international")))))
    val qids = filterQuestions(questions, variants, fc, search, skip = Set("config", "split"))
      .select(col("id").as("question_id"))
    val vRows = variants.join(qids, Seq("question_id"), "left_semi")
    val vEmits = Seq("config", "split").map(d => emit(d, holds(variantPredicate(fc, skip = Set(d)))))
    emitted(qRows, qEmits).union(emitted(vRows, vEmits)).distinct()
  }

  /** Facet values for one dimension given the OTHER active filters and
    * search (`_viable_values`, main.py:117-132): distinct, sorted
    * ascending (years are reversed by the caller, main.py:493). */
  def viableValues(questions: DataFrame, variants: DataFrame,
                   fc: FilterConfig, dim: String,
                   search: Option[String] = None): DataFrame = {
    val isVariantDim = dim == "config" || dim == "split"
    val qs = filterQuestions(questions, variants, fc, search, skip = Set(dim))
    if (isVariantDim) {
      // variant dims: values from variants of the surviving questions,
      // with the OTHER variant dim still applied
      val v = variantPredicate(fc, skip = Set(dim)).map(variants.where).getOrElse(variants)
      v.join(qs.select(col("id").as("question_id")), Seq("question_id"), "left_semi")
        .select(col(dim)).distinct().orderBy(col(dim))
    } else {
      qs.select(col(dim)).distinct().orderBy(col(dim))
    }
  }
}
