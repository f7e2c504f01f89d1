package graft.lexam.pipeline

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.lexam._
import graft.functions.{TextFunctions => TF}

/** Generation & judging dataflows (P1–P7, SURVEY §2.8 / §3.2).
  *
  * Spark-first split of responsibilities: everything declarative —
  * cohort selection (FilterSpec joins), prompt templating, letter/score
  * extraction, grading — is Column expressions inside codegen; ONLY the
  * external LLM call lives in `mapPartitions` (SURVEY §2.9), with the
  * work pre-repartitioned so a 1000-executor cluster fans the calls out
  * (`parallelism`), where the reference is a single sequential thread
  * (generation.py:85-125).
  *
  * Idempotence (P7): the answer/judgment primary key is a deterministic
  * hash of the business key, and resume anti-joins existing rows — so
  * re-runs and Spark task retries never double-bill LLM calls
  * (SURVEY §7.4 item 8).
  */
object Jobs {

  /** Deterministic primary key from business key (no
    * monotonically_increasing_id — ids must survive re-runs). */
  private def answerId = xxhash64(lit("ans"), col("experiment_id"),
    col("variant_id"), col("run_index"))
  private def judgmentId = xxhash64(lit("jdg"), col("answer_id"), col("judge_model"))

  // ------------------------------------------------------- generation

  /** Work list: cohort variants × run_index range, minus already
    * generated (P2; generation.py:76-78 + resume semantics). */
  def generationWorkList(store: LexamStore, exp: Experiment): DataFrame = {
    val cohort = Filters.filterVariants(store.variants, store.questions,
        exp.filter_config)
      .join(broadcast(store.questions.select(col("id").as("question_id"),
        col("question"), col("course"))), Seq("question_id"), "inner")
    val n = math.max(exp.n_answers, 1)
    val runs = store.spark.range(n).select(col("id").cast("int").as("run_index"))
    val work = cohort.crossJoin(runs)
    val existing = store.answers.where(col("experiment_id") === exp.id)
      .select(col("variant_id").as("id"), col("run_index"))
    work.join(existing, Seq("id", "run_index"), "left_anti")
  }

  /** Prompt assembly as pure Column expressions (X5/X6;
    * generation.py:22-37): MCQ variants get the choices block appended
    * to the question before substitution. */
  def withPrompt(work: DataFrame, exp: Experiment): DataFrame = {
    val isMcq = col("config").startsWith("mcq_")
    val questionText = when(isMcq && col("choices").isNotNull,
        concat(col("question"), lit("\n\n"), TF.formatChoices(col("choices"))))
      .otherwise(col("question"))
    val template = when(isMcq, lit(exp.mcq_prompt)).otherwise(lit(exp.open_question_prompt))
    work.withColumn("prompt", TF.buildPrompt(template, col("course"), questionText))
  }

  /** Run generation for one experiment. Returns the number of answers
    * written. The LLM call is the only imperative stage; grading is
    * declarative afterwards (X1/X3/X8). The work list is materialized
    * once: its count is the progress total and the LLM stage reads the
    * same rows, without re-running the work list's joins. */
  def runGeneration(store: LexamStore, progress: ProgressStore,
                    client: LlmClient, experimentId: Long,
                    parallelism: Int = 32): Long = {
    val spark = store.spark
    val exp = store.getExperiment(experimentId)
      .getOrElse(throw new NoSuchElementException(s"experiment $experimentId"))
    require(!StatusMachine.isBusy(exp.status),
      s"experiment busy: ${exp.status}") // routers/generation.py:14-22
    val key = s"generate:$experimentId"
    val completed = spark.sparkContext.longAccumulator(s"$key:completed")
    val failed = spark.sparkContext.longAccumulator(s"$key:failed")
    val work = withPrompt(generationWorkList(store, exp), exp)
      .select(col("id").as("variant_id"), col("run_index"),
        col("config"), col("gold"), col("prompt"))
      .persist()
    try {
      val total = work.count()
      progress.create(key, total, completed, failed)
      store.setStatus(experimentId, "generating")

      val model = exp.model_name; val temp = exp.temperature
      val maxTok = exp.max_tokens
      val outSchema = StructType(Seq(
        StructField("variant_id", LongType), StructField("run_index", IntegerType),
        StructField("config", StringType), StructField("gold", IntegerType),
        StructField("answer_text", StringType),
        StructField("input_tokens", IntegerType),
        StructField("output_tokens", IntegerType)))
      val enc = org.apache.spark.sql.Encoders.row(outSchema)

      // P3/P4: per-item external call with retry; failures isolated to
      // the row (null answer) and counted, job continues.
      val raw = work.repartition(parallelism).mapPartitions { rows =>
        val retrying = new RetryingClient(client)
        rows.map { r =>
          val prompt = r.getAs[String]("prompt")
          try {
            val res = retrying.complete(model,
              Seq(LlmMessage("user", prompt)), temp, maxTok)
            completed.add(1)
            Row(r.getAs[Long]("variant_id"), r.getAs[Int]("run_index"),
              r.getAs[String]("config"),
              if (r.isNullAt(r.fieldIndex("gold"))) null else r.getAs[Int]("gold"),
              res.content, res.inputTokens, res.outputTokens)
          } catch {
            case scala.util.control.NonFatal(_) =>
              failed.add(1)
              Row(r.getAs[Long]("variant_id"), r.getAs[Int]("run_index"),
                r.getAs[String]("config"),
                if (r.isNullAt(r.fieldIndex("gold"))) null else r.getAs[Int]("gold"),
                null, null, null)
          }
        }
      }(enc)

      // Declarative grading (generation.py:110-118): letter + correctness
      // only for MCQ variants with a gold index.
      val isMcq = col("config").startsWith("mcq_")
      val graded = raw
        .where(col("answer_text").isNotNull) // failed calls are not persisted
        .withColumn("experiment_id", lit(experimentId))
        .withColumn("model_name", lit(model))
        .withColumn("extracted_letter",
          when(isMcq && col("gold").isNotNull, TF.extractLetter(col("answer_text"))))
        .withColumn("mcq_correct",
          when(isMcq && col("gold").isNotNull,
            TF.mcqCorrect(col("extracted_letter"), col("gold"))))
        .withColumn("id", answerId)
        .withColumn("created_at", current_timestamp())
        .select("id", "experiment_id", "variant_id", "run_index", "model_name",
          "answer_text", "extracted_letter", "mcq_correct",
          "input_tokens", "output_tokens", "created_at")

      store.appendAnswers(graded)
      val written = store.answers.where(col("experiment_id") === experimentId).count()
      store.setStatus(experimentId, "generated")
      progress.finish(key)
      written
    } catch {
      case scala.util.control.NonFatal(e) =>
        store.setStatus(experimentId, "error")
        progress.finish(key, Some(e.getMessage))
        throw e
    } finally work.unpersist()
  }

  // ---------------------------------------------------------- judging

  /** Judge work list: open-question answers of the experiment minus
    * those already judged by this judge (F7 + J5; judging.py:30-52). */
  def judgingWorkList(store: LexamStore, exp: Experiment,
                      judgeModel: String): DataFrame = {
    val openVariants = store.variants.where(col("config") === "open_question")
      .select(col("id").as("variant_id"), col("question_id"), col("answer").as("ref_answer"))
    val answers = store.answers.where(col("experiment_id") === exp.id)
      .join(openVariants, Seq("variant_id"), "inner")
      .join(broadcast(store.questions.select(col("id").as("question_id"),
        col("question"))), Seq("question_id"), "inner")
    // answer ids hash in experiment_id, so only this experiment's
    // judgments can match: prune the scan to its partition
    val alreadyJudged = store.judgments
      .where(col("experiment_id") === exp.id && col("judge_model") === judgeModel)
      .select(col("answer_id").as("id"))
    answers.join(alreadyJudged, Seq("id"), "left_anti")
  }

  /** Judge prompt assembly (X4/X6; judging.py:62-72): strip <think>
    * from the model answer, substitute the three placeholders. */
  def withJudgePrompt(work: DataFrame, exp: Experiment): DataFrame = {
    val cleanAnswer = TF.stripThinking(col("answer_text"))
    work.withColumn("judge_user_prompt",
      replace(replace(replace(lit(exp.judge_prompt),
        lit("{question_fact}"), col("question")),
        lit("{ref_answer}"), coalesce(col("ref_answer"), lit("(no reference answer)"))),
        lit("{model_answer}"),
        when(cleanAnswer === "", "(no answer)").otherwise(cleanAnswer)))
  }

  /** Run judging for one experiment and judge; the work list is
    * materialized once, as in [[runGeneration]]. */
  def runJudging(store: LexamStore, progress: ProgressStore,
                 client: LlmClient, experimentId: Long, judgeModel: String,
                 parallelism: Int = 32): Long = {
    val spark = store.spark
    val exp = store.getExperiment(experimentId)
      .getOrElse(throw new NoSuchElementException(s"experiment $experimentId"))
    require(!StatusMachine.isBusy(exp.status), s"experiment busy: ${exp.status}")
    val key = s"judge:$experimentId:$judgeModel"
    val completed = spark.sparkContext.longAccumulator(s"$key:completed")
    val failed = spark.sparkContext.longAccumulator(s"$key:failed")
    val work = withJudgePrompt(judgingWorkList(store, exp, judgeModel), exp)
      .select(col("id").as("answer_id"), col("judge_user_prompt"))
      .persist()
    try {
      val total = work.count()
      progress.create(key, total, completed, failed)
      store.setStatus(experimentId, "judging")

      val sysPrompt = exp.judge_system_prompt
      val temp = exp.judge_temperature; val maxTok = exp.judge_max_tokens
      val outSchema = StructType(Seq(
        StructField("answer_id", LongType),
        StructField("judgment_text", StringType),
        StructField("input_tokens", IntegerType),
        StructField("output_tokens", IntegerType)))
      val enc = org.apache.spark.sql.Encoders.row(outSchema)

      val raw = work.repartition(parallelism).mapPartitions { rows =>
        val retrying = new RetryingClient(client)
        rows.map { r =>
          val prompt = r.getAs[String]("judge_user_prompt")
          try {
            val messages =
              (if (sysPrompt != null && sysPrompt.nonEmpty)
                Seq(LlmMessage("system", sysPrompt)) else Nil) :+
                LlmMessage("user", prompt)
            val res = retrying.complete(judgeModel, messages, temp, maxTok)
            completed.add(1)
            Row(r.getAs[Long]("answer_id"), res.content,
              res.inputTokens, res.outputTokens)
          } catch {
            case scala.util.control.NonFatal(_) =>
              failed.add(1)
              Row(r.getAs[Long]("answer_id"), null, null, null)
          }
        }
      }(enc)

      // Score from the think-stripped judgment (judging.py:85-87, X2/X4).
      val scored = raw
        .where(col("judgment_text").isNotNull)
        .withColumn("judge_model", lit(judgeModel))
        .withColumn("score", TF.extractScore(TF.stripThinking(col("judgment_text"))))
        .withColumn("id", judgmentId)
        .withColumn("created_at", current_timestamp())
        // experiment_id is the storage partition key (not in the
        // reference schema — derived, harmless extra column)
        .withColumn("experiment_id", lit(experimentId))
        .select("id", "answer_id", "judge_model", "judgment_text", "score",
          "input_tokens", "output_tokens", "created_at", "experiment_id")

      store.appendJudgments(scored)
      val written = store.liveJudgments(Some(experimentId))
        .where(col("judge_model") === judgeModel).count()
      store.setStatus(experimentId, "completed")
      progress.finish(key)
      written
    } catch {
      case scala.util.control.NonFatal(e) =>
        store.setStatus(experimentId, "error")
        progress.finish(key, Some(e.getMessage))
        throw e
    } finally work.unpersist()
  }

  /** DELETE /{id}/answers (routers/generation.py:73-84): drop the
    * answers, force status "created", clear the generation progress
    * entry. Judgments are left in place like the reference's bulk
    * `query.delete()` (which bypasses ORM cascade) — they become
    * unreachable either way, since every judgment read path joins
    * through answers. The row is read, the answers dropped and the
    * status written under one store lock hold. */
  def deleteAnswers(store: LexamStore, progress: ProgressStore,
                    experimentId: Long): Unit = {
    store.modifyExperiment(experimentId) { exp =>
      store.deleteAnswers(experimentId)
      exp.copy(status = "created")
    }.getOrElse(throw new NoSuchElementException(s"experiment $experimentId"))
    progress.remove(s"generate:$experimentId")
  }

  /** DELETE /{id}/judgments (routers/judging.py:80-108): drop the
    * experiment's judgments (optionally one judge model only); when no
    * judgments remain and the experiment was "completed", roll status
    * back to "generated" — written without the transition guard like
    * reset-status, since completed→generated is exactly the data-repair
    * transition the guard table forbids for workers. */
  def deleteJudgments(store: LexamStore, experimentId: Long,
                      judgeModel: Option[String] = None): Unit =
    store.modifyExperiment(experimentId) { exp =>
      store.deleteJudgments(experimentId, judgeModel)
      if (exp.status == "completed" && store.liveJudgments(Some(experimentId)).isEmpty)
        exp.copy(status = "generated")
      else exp
    }.getOrElse(throw new NoSuchElementException(s"experiment $experimentId"))

  /** reset-status from data (routers/experiments.py:140-162); the
    * status of a missing experiment is still computed and returned. */
  def resetStatus(store: LexamStore, experimentId: Long): String = {
    def fromData = StatusMachine.recompute(
      store.answers.where(col("experiment_id") === experimentId).count(),
      store.liveJudgments(Some(experimentId)).count())
    store.modifyExperiment(experimentId)(_.copy(status = fromData))
      .fold(fromData)(_.status)
  }
}
