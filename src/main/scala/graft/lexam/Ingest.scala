package graft.lexam

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Ingest operators (S1–S5, SURVEY §2.1) — the Spark re-expression of
  * the reference's HF-dataset seeding (`backend/app/seed.py`):
  *
  *  - S1: one raw DataFrame per dataset config, unioned by name;
  *  - S2: first-writer-wins — the question row comes from the FIRST
  *    config that sees the id (seed.py:87-109), expressed as
  *    row_number over config priority;
  *  - S3: idempotence — skip configs whose variants already exist
  *    (seed.py:69-73), a left-anti join on config;
  *  - S4: derived `international` column from the 37-course set
  *    (seed.py:16-60,107) with the backfill path (seed.py:142-163);
  *  - S5: coercions — year "2022..." → int via substring+cast, choices
  *    stringified list → array (seed.py:90-94,111-118).
  */
object Ingest {

  /** The reference's INTERNATIONAL_COURSES membership test (S4). Kept
    * as a broadcast-friendly literal set: `isin` compiles to a codegen
    * hash probe — no join, no shuffle. */
  def withInternational(questions: DataFrame, internationalCourses: Seq[String]): DataFrame =
    questions.withColumn("international",
      col("course").isin(internationalCourses: _*))

  /** S5: tolerant year coercion — keep the first 4 chars, cast, null on
    * garbage (try_cast semantics; ANSI-safe). */
  def coerceYear(raw: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    try_to_number(substring(raw.cast("string"), 1, 4), lit("9999")).cast("int")

  /** S5: stringified Python list `"['a', 'b']"` → array<string>.
    * Handles the reference's ast.literal_eval shape for flat string
    * lists (single- or double-quoted). */
  def coerceChoices(raw: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val inner = regexp_replace(regexp_replace(raw, "^\\s*\\[", ""), "\\]\\s*$", "")
    val items = regexp_extract_all(inner, lit("'((?:[^'\\\\]|\\\\.)*)'|\"((?:[^\"\\\\]|\\\\.)*)\""), lit(0))
    transform(items, s =>
      regexp_replace(regexp_replace(s, "^['\"]|['\"]$", ""), "\\\\(['\"])", "$1"))
  }

  /** S2: first-writer-wins on question id, priority = position of the
    * config in `configPriority` (the reference's seeding order). */
  def firstWriterWins(perConfigQuestions: DataFrame,
                      configPriority: Seq[String]): DataFrame = {
    val rank = configPriority.zipWithIndex
      .foldLeft(lit(configPriority.size)) { case (acc, (c, i)) =>
        when(col("_config") === c, i).otherwise(acc)
      }
    val w = Window.partitionBy(col("id")).orderBy(col("_rank"), col("_config"))
    perConfigQuestions
      .withColumn("_rank", rank)
      .withColumn("_rn", row_number().over(w))
      .where(col("_rn") === 1)
      .drop("_rank", "_rn", "_config")
  }

  /** S3: keep only incoming variant batches whose config is not already
    * present in the store (idempotent re-seed). */
  def notYetLoaded(incoming: DataFrame, existingVariants: DataFrame): DataFrame =
    incoming.join(existingVariants.select(col("config")).distinct(),
      Seq("config"), "left_anti")

  /** Backfill (seed.py:142-163): recompute `international` for rows
    * where it is NULL — the migrate-in-place equivalent. */
  def backfillInternational(questions: DataFrame,
                            internationalCourses: Seq[String]): DataFrame =
    questions.withColumn("international",
      coalesce(col("international"), col("course").isin(internationalCourses: _*)))

  /** S1: read one raw HF-export config (JSONL — the interchange format
    * HF datasets export to) with the LEXam raw shape: loose string
    * types that [[coerceYear]]/[[coerceChoices]] then tighten. Columns
    * absent from a config's export read as null (schema is declared,
    * not inferred — inference would shift types between configs). */
  val RawExportSchema: String =
    "id STRING, question STRING, course STRING, language STRING, " +
      "area STRING, jurisdiction STRING, year STRING, n_statements INT, " +
      "none_as_an_option BOOLEAN, negative_question BOOLEAN, " +
      "choices STRING, gold INT, answer STRING, split STRING"

  def readRawExport(spark: SparkSession, path: String,
                    config: String): DataFrame =
    spark.read.schema(RawExportSchema).json(path)
      .withColumn("_config", lit(config))

  /** S1+S2+S5 composed: per-config raw exports → coerced, deduplicated
    * `questions` rows (first-writer-wins in `configPriority` order) and
    * per-config `variants` rows. */
  def ingestConfigs(spark: SparkSession,
                    configPaths: Seq[(String, String)],
                    internationalCourses: Seq[String]): (DataFrame, DataFrame) = {
    val raws = configPaths.map { case (config, path) =>
      readRawExport(spark, path, config)
    }
    val unioned = raws.reduce(_.unionByName(_))
      .withColumn("year", coerceYear(col("year")))
      .withColumn("choices", coerceChoices(col("choices")))
    val questions = withInternational(
      firstWriterWins(
        unioned.select(col("id"), col("question"), col("course"), col("language"),
          col("area"), col("jurisdiction"), col("year"), col("n_statements"),
          col("none_as_an_option"), col("negative_question"), col("_config")),
        configPaths.map(_._1)),
      internationalCourses)
    // Variant ids are a deterministic hash of the business key
    // (question, config, split) — NOT monotonically_increasing_id, whose
    // value depends on physical partition layout: a re-run would mint
    // fresh ids and orphan persisted answers that reference the old ones
    // (the reference's autoincrement ids are stable because seeding is
    // append-only and idempotent, seed.py:69-73).
    val variants = unioned.select(
      xxhash64(lit("var"), col("id"), col("_config"),
        coalesce(col("split"), lit("dev"))).as("id"),
      col("id").as("question_id"), col("_config").as("config"),
      coalesce(col("split"), lit("dev")).as("split"),
      col("choices"), col("gold"), col("answer"))
    (questions, variants)
  }
}
