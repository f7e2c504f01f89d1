package graft.lexam.pipeline

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType}
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
  * Both jobs run one lifecycle, [[runLlmJob]] (the reference's two
  * workers share its shape, generation.py:76-135 and judging.py:30-112):
  * busy check, counted work list, busy status, the LLM stage, the
  * finishing columns, the append, the done status or the error path.
  * [[runGeneration]] and [[runJudging]] pass only their own parts. The
  * LLM stage runs to completion once, before the append takes the
  * store's write lock, so status writes and experiment edits on the same
  * store never wait out a run's LLM calls.
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

  /** Job and progress keys, in the reference convention
    * (generation.py:69, judging.py:23). */
  def generationKey(experimentId: Long): String = s"generate:$experimentId"
  def judgingKey(experimentId: Long, judgeModel: String): String =
    s"judge:$experimentId:$judgeModel"

  /** One LLM job's own parts, built from its experiment. `work` holds a
    * `prompt` column; every other work column passes through the LLM
    * stage, which adds `text` and the `input_tokens`/`output_tokens`
    * columns. `finish` maps the answered rows, given `experiment_id` and
    * `created_at`, to the stored columns; `append` stores them and
    * `written` counts the stored rows. */
  private final case class LlmJob(work: DataFrame, model: String,
                                  system: Option[String], temperature: Double,
                                  maxTokens: Int, text: String,
                                  finish: DataFrame => DataFrame,
                                  append: DataFrame => Unit, written: () => Long)

  /** `df`'s row count as an RDD count: one job over `df`'s last stage,
    * where `Dataset.count` plans an aggregate whose exchange AQE runs as
    * one more job. Only the first column is read. */
  private def rowCount(df: DataFrame): Long = df.select(df.columns.head).rdd.count()

  /** The one LLM job lifecycle. The work list is materialized once: its
    * count is the progress total and the LLM stage reads the same rows,
    * without re-running the work list's joins. The stage is then
    * checkpointed eagerly: the calls run exactly once, outside the
    * store's write lock, and the append reads their stored output
    * (a `persist` could be evicted and recomputed, re-billing the calls
    * and double-counting `completed`). Returns the written count. */
  private def runLlmJob(store: LexamStore, progress: ProgressStore,
                        client: LlmClient, experimentId: Long, parallelism: Int,
                        key: String, busy: String, done: String)(
                        parts: Experiment => LlmJob): Long = {
    val spark = store.spark
    val exp = store.getExperiment(experimentId)
      .getOrElse(throw new NoSuchElementException(s"experiment $experimentId"))
    require(!StatusMachine.isBusy(exp.status),
      s"experiment busy: ${exp.status}") // routers/generation.py:14-22
    val job = parts(exp)
    val completed = spark.sparkContext.longAccumulator(s"$key:completed")
    val failed = spark.sparkContext.longAccumulator(s"$key:failed")
    val work = job.work.persist()
    try {
      progress.create(key, rowCount(work), completed, failed)
      store.setStatus(experimentId, busy)

      // locals: the task closure must not capture the job's frames
      val LlmJob(_, model, system, temp, maxTok, text, _, _, _) = job
      val prompt = work.columns.indexOf("prompt")
      val keep = work.columns.indices.filter(_ != prompt)
      val enc = Encoders.row(work.drop("prompt").schema.add(text, StringType)
        .add("input_tokens", IntegerType).add("output_tokens", IntegerType))
      // P3/P4: per-item external call with retry; failures isolated to
      // the row (NULL text) and counted, job continues.
      val raw = work.repartition(parallelism).mapPartitions { rows =>
        val retrying = new RetryingClient(client)
        rows.map { r =>
          val reply = try {
            val messages = system.map(LlmMessage("system", _)).toSeq :+
              LlmMessage("user", r.getString(prompt))
            val res = retrying.complete(model, messages, temp, maxTok)
            completed.add(1)
            Seq(res.content, res.inputTokens, res.outputTokens)
          } catch {
            case scala.util.control.NonFatal(_) =>
              failed.add(1)
              Seq(null, null, null)
          }
          Row.fromSeq(keep.map(r.get) ++ reply)
        }
      }(enc).localCheckpoint()

      job.append(job.finish(raw
        .where(col(text).isNotNull) // failed calls are not persisted
        .withColumn("experiment_id", lit(experimentId))
        .withColumn("created_at", current_timestamp())))
      val written = job.written()
      store.setStatus(experimentId, done)
      progress.finish(key)
      written
    } catch {
      case scala.util.control.NonFatal(e) =>
        store.setStatus(experimentId, "error")
        progress.finish(key, Some(e.getMessage))
        throw e
    } finally work.unpersist()
  }

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
    * declarative afterwards (X1/X3/X8). */
  def runGeneration(store: LexamStore, progress: ProgressStore,
                    client: LlmClient, experimentId: Long,
                    parallelism: Int = 32): Long =
    runLlmJob(store, progress, client, experimentId, parallelism,
        generationKey(experimentId), "generating", "generated") { exp =>
      // Declarative grading (generation.py:110-118): letter + correctness
      // only for MCQ variants with a gold index.
      val graded = col("config").startsWith("mcq_") && col("gold").isNotNull
      LlmJob(
        work = withPrompt(generationWorkList(store, exp), exp)
          .select(col("id").as("variant_id"), col("run_index"),
            col("config"), col("gold"), col("prompt")),
        model = exp.model_name, system = None, temperature = exp.temperature,
        maxTokens = exp.max_tokens, text = "answer_text",
        finish = _.withColumn("model_name", lit(exp.model_name))
          .withColumn("extracted_letter",
            when(graded, TF.extractLetter(col("answer_text"))))
          .withColumn("mcq_correct",
            when(graded, TF.mcqCorrect(col("extracted_letter"), col("gold"))))
          .withColumn("id", answerId)
          .select("id", "experiment_id", "variant_id", "run_index", "model_name",
            "answer_text", "extracted_letter", "mcq_correct",
            "input_tokens", "output_tokens", "created_at"),
        append = store.appendAnswers,
        written = () => rowCount(store.answers.where(col("experiment_id") === experimentId)))
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

  /** Run judging for one experiment and judge. Scores come from the
    * think-stripped judgment (judging.py:85-87, X2/X4). */
  def runJudging(store: LexamStore, progress: ProgressStore,
                 client: LlmClient, experimentId: Long, judgeModel: String,
                 parallelism: Int = 32): Long =
    runLlmJob(store, progress, client, experimentId, parallelism,
        judgingKey(experimentId, judgeModel), "judging", "completed") { exp =>
      LlmJob(
        work = withJudgePrompt(judgingWorkList(store, exp, judgeModel), exp)
          .select(col("id").as("answer_id"), col("judge_user_prompt").as("prompt")),
        model = judgeModel, system = Option(exp.judge_system_prompt).filter(_.nonEmpty),
        temperature = exp.judge_temperature, maxTokens = exp.judge_max_tokens,
        text = "judgment_text",
        // experiment_id is the storage partition key (not in the
        // reference schema — derived, harmless extra column)
        finish = _.withColumn("judge_model", lit(judgeModel))
          .withColumn("score", TF.extractScore(TF.stripThinking(col("judgment_text"))))
          .withColumn("id", judgmentId)
          .select("id", "answer_id", "judge_model", "judgment_text", "score",
            "input_tokens", "output_tokens", "created_at", "experiment_id"),
        append = store.appendJudgments,
        written = () => rowCount(store.liveJudgments(Some(experimentId))
          .where(col("judge_model") === judgeModel)))
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
    progress.remove(generationKey(experimentId))
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
