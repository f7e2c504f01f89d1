package graft.lexam

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Explore surface: `GET /api/questions` (reference main.py:159-207) —
  * filter + search + dynamic sort + offset/limit pagination + nested
  * variant serialization (J3), and `GET /api/questions/{id}`.
  */
object QuestionService {

  case class Page(total: Long, offset: Int, limit: Int, items: DataFrame)

  /** The nested variant fields, in struct order. */
  private def variantStruct: Column =
    struct(col("id"), col("config"), col("split"), col("choices"), col("gold"), col("answer"))

  /** Questions with their variants nested as a sorted array of structs
    * (joinedload serialization, main.py:189,554-577). Left join keeps
    * variant-less questions with an empty array. The collected pages
    * ([[withVariants]]) give the rows and the schema this frame does. */
  def withNestedVariants(questions: DataFrame, variants: DataFrame): DataFrame = {
    val nested = variants
      .groupBy(col("question_id"))
      .agg(sort_array(collect_list(variantStruct)).as("variants"))
      .withColumnRenamed("question_id", "id")
    questions.join(nested, Seq("id"), "left_outer")
      .withColumn("variants", coalesce(col("variants"), array()))
  }

  /** `page`'s question rows, collected, each with its own variants
    * nested in id order, as a local frame with [[withNestedVariants]]'
    * schema. Only the page's variants are read (`question_id IN` the
    * page's ids) and they are nested on the driver, so a page never
    * groups the whole variants table. */
  private def withVariants(page: DataFrame, variants: DataFrame): DataFrame = {
    val rows = page.collect().toSeq
    val ids = rows.map(_.getAs[String]("id")).distinct
    val byQuestion = if (ids.isEmpty) Map.empty[String, Seq[Row]]
      else variants.where(col("question_id").isin(ids: _*))
        .select(col("question_id"), variantStruct).collect().toSeq
        .groupBy(_.getString(0))
        .view.mapValues(_.map(_.getStruct(1)).sortBy(_.getLong(0)))
        .toMap
    page.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows.map(r =>
        Row.fromSeq(r.toSeq :+ byQuestion.getOrElse(r.getAs[String]("id"), Nil))): _*),
      withNestedVariants(page, variants).schema)
  }

  /** Sort-key whitelist (main.py:135-156). The `config`/`split` keys are
    * the reference's correlated scalar subqueries `min(variant.x)` —
    * rewritten as a groupBy+join (J7, SURVEY §2.3). */
  val SortableColumns: Set[String] = Set(
    "id", "config", "split", "area", "course", "language", "year",
    "negative_question", "international", "question")

  /** One page of questions: (filters, search, sort, offset/limit) →
    * Page(total, items ordered with `id` tiebreak).
    * Default order: year DESC, id ASC (main.py:200).
    *
    * Both actions the endpoint needs — the total count (main.py:193)
    * and the ordered page (main.py:198) — run off ONE materialization
    * of the filtered cohort: the reference issues two Postgres
    * round-trips, but replaying that as two Spark jobs re-scanned the
    * question source (and every filter semi-join) per page request —
    * the visible duplicate cost of the hottest endpoint at scale. The
    * filtered frame is cached, counted (the action that populates the
    * cache, one source scan), paged from the cache
    * (spec-pinned: the page plan reads InMemoryTableScan, zero
    * question-source scans), and released before returning — `items`
    * is the collected page with its variants ([[withVariants]]) as a
    * local DataFrame, which is exactly a page-size (≤ 200-row,
    * main.py:174) serving result, so pinning executor cache blocks for
    * a lazy consumer would buy nothing. Deliberately NOT
    * `count(*) over ()`: that form computes the total inside the page
    * query but forces the whole cohort through a single-partition
    * window — the plan shape this library rejects everywhere else. */
  def listQuestions(questions: DataFrame, variants: DataFrame,
                    fc: FilterConfig = FilterConfig(),
                    search: Option[String] = None,
                    sortBy: Option[String] = None, sortDir: String = "asc",
                    offset: Int = 0, limit: Int = 50): Page = {
    val filtered = Filters.filterQuestions(questions, variants, fc, search).cache()
    try {
      val total = filtered.count()
      Page(total, offset, limit, withVariants(
        pageFrame(filtered, variants, sortBy, sortDir, offset, limit), variants))
    } finally filtered.unpersist(blocking = false)
  }

  /** The ordered/offset/limited question rows of a page over an
    * (already cached) filtered cohort, without their variants — split
    * out so the plan is inspectable: its only reads are the cache and,
    * for a `config`/`split` sort, the variants side. */
  private[lexam] def pageFrame(filtered: DataFrame, variants: DataFrame,
                               sortBy: Option[String], sortDir: String,
                               offset: Int, limit: Int): DataFrame = {
    val withSortKeys = sortBy match {
      case Some(k @ ("config" | "split")) =>
        val minKeys = variants.groupBy(col("question_id"))
          .agg(min(col(k)).as(s"_min_$k"))
          .withColumnRenamed("question_id", "id")
        filtered.join(minKeys, Seq("id"), "left_outer")
      case _ => filtered
    }
    val sortCol: Option[Column] = sortBy.collect {
      case k @ ("config" | "split") if SortableColumns(k) => col(s"_min_$k")
      case k if SortableColumns(k)                        => col(k)
    }
    val ordered = sortCol match {
      case Some(c) =>
        val o = if (sortDir == "desc") c.desc else c.asc
        withSortKeys.orderBy(o, col("id"))
      case None => withSortKeys.orderBy(desc("year"), col("id"))
    }
    ordered.drop("_min_config", "_min_split").offset(offset).limit(limit)
  }

  /** Single question with nested variants (main.py:210-221), collected
    * as a local frame: one read of the question, one of its variants. */
  def getQuestion(questions: DataFrame, variants: DataFrame, id: String): DataFrame =
    withVariants(questions.where(col("id") === id), variants)
}
