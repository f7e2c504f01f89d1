package graft.lexam

import java.util.concurrent.{CountDownLatch, TimeUnit}
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark
import graft.lexam.pipeline._

/** End-to-end hermetic lifecycle (SURVEY §5 items 2 & 5): generation →
  * judging → stats with the deterministic stub client; status machine;
  * idempotent resume (P7); cascade delete (S8).
  */
class PipelineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshStore(): LexamStore = {
    val dir = java.nio.file.Files.createTempDirectory("lexam_store").toString
    val store = new LexamStore(spark, dir)
    Fixtures.writeTo(store)
    store
  }

  private val exp = Experiment(id = 1, name = "e2e",
    filter_config = FilterConfig(language = Seq("en")),
    n_answers = 2)

  test("generation → judging → stats end to end with stub LLM") {
    val store = freshStore()
    store.saveExperiment(exp)
    val progress = new ProgressStore
    val client = new DeterministicStubClient

    // cohort: en questions q1,q3,q5,q6 → variants 1,2,3,5,6,9,10 → ×2 runs
    val written = Jobs.runGeneration(store, progress, client, 1L, parallelism = 4)
    assert(written === 14)
    assert(store.getExperiment(1L).get.status === "generated")
    val prog = progress.get("generate:1")
    assert(prog("total") === 14L && prog("completed") === 14L && prog("failed") === 0L)
    assert(prog("status") === "done")

    // MCQ answers were graded; letters come from the stub's ###X###
    val answers = store.answers.where(col("experiment_id") === 1)
    assert(answers.where(col("extracted_letter").isNotNull).count() === 6) // variants 1,2,9 ×2
    // determinism: same variant+run -> stable id, same letter each run of the suite
    val letters = answers.where(col("variant_id") === 1)
      .select("extracted_letter").as[String].collect().toSet
    assert(letters.size === 1)

    // idempotent resume: re-running generates nothing new (P7)
    val afterRerun = Jobs.runGeneration(store, progress, client, 1L, parallelism = 4)
    assert(afterRerun === 14)

    // judging: open answers only (variants 3,5,6,10 ×2 runs = 8)
    val judged = Jobs.runJudging(store, progress, client, 1L, "judge-1", parallelism = 4)
    assert(judged === 8)
    assert(store.getExperiment(1L).get.status === "completed")
    val j = store.judgments
    assert(j.where(col("score").isNotNull).count() === 8) // stub always emits [[0.x]]
    // second judge adds its own rows; first judge's skipped (J5 dedup)
    Jobs.runJudging(store, progress, client, 1L, "judge-2", parallelism = 4)
    assert(store.judgments.count() === 16)
    assert(Jobs.runJudging(store, progress, client, 1L, "judge-1", parallelism = 4) === 8)
    assert(store.judgments.count() === 16)

    // stats over the enriched join
    val enriched = ExperimentAnalytics.enriched(store.answers, store.variants,
      store.questions, store.judgments, 1L).cache()
    val mcq = ExperimentAnalytics.mcqStats(enriched)
    assert(mcq.total === 6 && mcq.accuracy >= 0.0 && mcq.accuracy <= 1.0)
    val open = ExperimentAnalytics.openStats(enriched, store.judgments, Some("judge-1"))
    assert(open.total === 8 && open.judged === 8)
    assert(open.scoreDistribution.size === 11) // zero-count buckets emitted
    assert(open.scoreDistribution.map(_._2).sum === 8)
    val consistency = ExperimentAnalytics.selfConsistency(enriched)
    assert(consistency.totalVariants === 3) // mcq variants 1,2,9
    assert(consistency.unanimous === 3)     // stub is deterministic per prompt
    val byArea = ExperimentAnalytics.breakdownByField(enriched, store.judgments, "area")
    assert(byArea.count() > 0)
    val judges = ExperimentAnalytics.compareJudges(store.answers, store.judgments, 1L)
    assert(judges.count() === 2)
    val byQ = ExperimentAnalytics.statsByQuestion(store.answers, store.variants,
      store.questions, store.judgments, 1L)
    assert(byQ.count() === 4) // q1,q3,q5,q6

    // reset-status recomputation (P6)
    assert(Jobs.resetStatus(store, 1L) === "completed")
    store.deleteJudgments(1L)
    assert(Jobs.resetStatus(store, 1L) === "generated")
    store.deleteAnswers(1L)
    assert(Jobs.resetStatus(store, 1L) === "created")
  }

  test("failures are isolated per item and counted (P4)") {
    val store = freshStore()
    store.saveExperiment(exp.copy(id = 2, name = "flaky",
      filter_config = FilterConfig(config = Seq("mcq_4_choices")), n_answers = 1))
    val progress = new ProgressStore
    // fail deterministically on q2's prompt (de question text)
    val flaky = new LlmClient {
      private val stub = new DeterministicStubClient
      override def complete(model: String, messages: Seq[LlmMessage],
                            temperature: Double, maxTokens: Int): LlmResult = {
        if (messages.exists(_.content.contains("Straftat")))
          throw new RuntimeException("permanent upstream failure")
        stub.complete(model, messages, temperature, maxTokens)
      }
    }
    val written = Jobs.runGeneration(store, progress, flaky, 2L, parallelism = 2)
    assert(written === 1) // q1 variant written, q2 failed
    val prog = progress.get("generate:2")
    assert(prog("completed") === 1L && prog("failed") === 1L)
    assert(store.getExperiment(2L).get.status === "generated") // job continues

    // judging leg: the open answers of q1,q3,q4,q6 (variants 3,5,6,8,10);
    // the judge call on q4's answer fails permanently
    store.saveExperiment(exp.copy(id = 6, name = "flaky-judge",
      filter_config = FilterConfig(config = Seq("open_question")), n_answers = 1))
    assert(Jobs.runGeneration(store, progress, new DeterministicStubClient, 6L,
      parallelism = 2) === 5)
    val flakyJudge = new LlmClient {
      private val stub = new DeterministicStubClient
      override def complete(model: String, messages: Seq[LlmMessage],
                            temperature: Double, maxTokens: Int): LlmResult = {
        if (messages.exists(_.content.contains("juristische Person")))
          throw new RuntimeException("permanent upstream failure")
        stub.complete(model, messages, temperature, maxTokens)
      }
    }
    val judged = Jobs.runJudging(store, progress, flakyJudge, 6L, "judge-1", parallelism = 2)
    assert(judged === 4)
    val failedAnswer = store.answers.where(col("experiment_id") === 6 && col("variant_id") === 8)
      .select("id").as[Long].collect().toSeq
    assert(failedAnswer.size === 1)
    val judgedAnswers = store.judgments.where(col("experiment_id") === 6)
      .select("answer_id").as[Long].collect().toSet
    assert(judgedAnswers.size === 4 && !judgedAnswers.contains(failedAnswer.head))
    val judgeProg = progress.get("judge:6:judge-1")
    assert(judgeProg("completed") === 4L && judgeProg("failed") === 1L)
    assert(store.getExperiment(6L).get.status === "completed")
  }

  test("retry with backoff recovers transient errors (P3)") {
    val attempts = new java.util.concurrent.atomic.AtomicInteger(0)
    val flaky = new LlmClient {
      override def complete(model: String, messages: Seq[LlmMessage],
                            temperature: Double, maxTokens: Int): LlmResult = {
        if (attempts.incrementAndGet() < 3) throw new TransientLlmError("429")
        LlmResult("ok", 1, 1)
      }
    }
    var slept = Seq.empty[Long]
    val client = new RetryingClient(flaky, sleepFn = ms => slept :+= ms)
    assert(client.complete("m", Seq(LlmMessage("user", "x")), 0.0, 10).content === "ok")
    assert(slept === Seq(2000L, 4000L)) // 2^n backoff
  }

  test("status machine guards concurrent and illegal transitions (P6)") {
    assert(StatusMachine.isBusy("generating") && StatusMachine.isBusy("judging"))
    assert(StatusMachine.canTransition("created", "generating"))
    // created→judging is legal (judging.py:57 sets it unconditionally;
    // zero answers → finishes "completed")
    assert(StatusMachine.canTransition("created", "judging"))
    assert(!StatusMachine.canTransition("generating", "judging"))
    assert(!StatusMachine.canTransition("created", "completed"))
    assert(StatusMachine.recompute(0, 0) === "created")
    assert(StatusMachine.recompute(5, 0) === "generated")
    assert(StatusMachine.recompute(5, 3) === "completed")
    val store = freshStore()
    store.saveExperiment(exp.copy(id = 3, status = "generating"))
    val progress = new ProgressStore
    intercept[IllegalArgumentException] {
      Jobs.runGeneration(store, progress, new DeterministicStubClient, 3L)
    }
  }

  test("the judging work list scans only its own experiment's judgments partition") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val store = freshStore()
    val progress = new ProgressStore
    val client = new DeterministicStubClient
    Seq(exp, exp.copy(id = 2, name = "e2e-2")).foreach { e =>
      store.saveExperiment(e)
      Jobs.runGeneration(store, progress, client, e.id, parallelism = 4)
      Jobs.runJudging(store, progress, client, e.id, "judge-1", parallelism = 4)
    }
    assert(store.judgments.select("experiment_id").distinct().count() === 2)
    // judge-1 judged every open answer: both join sides are non-empty,
    // so the final adaptive plan keeps the judgments scan
    val work = Jobs.judgingWorkList(store, store.getExperiment(1L).get, "judge-1")
    assert(work.collect().isEmpty)
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case _ => p +: p.children.flatMap(walk)
    }
    val plan = work.queryExecution.executedPlan
    val scans = walk(plan).collect {
      case s: FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.toString.contains("judgments")) => s
    }
    assert(scans.size === 1, plan)
    assert(scans.head.partitionFilters.exists(_.references.exists(_.name == "experiment_id")),
      plan)
    assert(scans.head.selectedPartitions.partitionCount === 1, plan)
  }

  test("judging an experiment with no answers judges zero and completes") {
    // reference: _judge_worker on a 'created' experiment sets
    // status="judging" unconditionally, finds zero open answers, and
    // finishes "completed" (judging.py:30-58,105-106)
    val store = freshStore()
    store.saveExperiment(exp.copy(id = 7, name = "empty-judge", status = "created"))
    val progress = new ProgressStore
    val judged = Jobs.runJudging(store, progress, new DeterministicStubClient, 7L, "judge-x")
    assert(judged === 0)
    assert(store.getExperiment(7L).get.status === "completed")
    val prog = progress.get("judge:7:judge-x")
    assert(prog("total") === 0L && prog("status") === "done")
  }

  test("background execution: async jobs, live progress poll, guard (P1)") {
    val store = freshStore()
    store.saveExperiment(exp.copy(id = 5, name = "async", n_answers = 1))
    val progress = new ProgressStore
    val slowClient = new LlmClient {
      private val stub = new DeterministicStubClient
      override def complete(model: String, messages: Seq[LlmMessage],
                            temperature: Double, maxTokens: Int): LlmResult = {
        Thread.sleep(50); stub.complete(model, messages, temperature, maxTokens)
      }
    }
    val runner = new JobRunner(store, progress, slowClient, parallelism = 2)
    val f = runner.startGeneration(5L)
    // while running: second start is rejected; poll shows the job
    Thread.sleep(100)
    if (runner.isRunning("generate:5"))
      intercept[IllegalArgumentException](runner.startGeneration(5L))
    val n = scala.concurrent.Await.result(f, scala.concurrent.duration.Duration("60s"))
    assert(n === 7)
    val p = runner.pollGeneration(5L)
    assert(p("status") === "done" && p("completed") === 7L)
    // finished → can start again (resume finds nothing to do)
    val n2 = scala.concurrent.Await.result(runner.startGeneration(5L),
      scala.concurrent.duration.Duration("60s"))
    assert(n2 === 7)
  }

  test("the LLM calls run outside the store's write lock: a create completes during a generation") {
    val store = freshStore()
    store.saveExperiment(exp.copy(id = 8, name = "locked", n_answers = 1))
    val progress = new ProgressStore
    BlockingClient.reset()
    val runner = new JobRunner(store, progress, new BlockingClient, parallelism = 2)
    val f = runner.startGeneration(8L)
    try {
      assert(BlockingClient.started.await(60, TimeUnit.SECONDS))
      val created = Future(store.createExperiment(
        Experiment(id = 0, name = "created-while-generating")))(ExecutionContext.global)
      assert(Await.result(created, Duration("30s")).status === "created")
    } finally BlockingClient.release.countDown()
    val generated = Await.result(f, Duration("60s"))
    assert(generated === 7)
    assert(progress.get("generate:8")("completed") === generated)
  }

  test("delete endpoints: judgments roll completed→generated, answers reset to created") {
    val store = freshStore()
    store.saveExperiment(Experiment(id = 3, name = "del",
      filter_config = FilterConfig(language = Seq("de"))))
    val progress = new ProgressStore
    val client = new DeterministicStubClient
    Jobs.runGeneration(store, progress, client, 3L, parallelism = 2)
    Jobs.runJudging(store, progress, client, 3L, "j1", parallelism = 2)
    Jobs.runJudging(store, progress, client, 3L, "j2", parallelism = 2)
    assert(store.getExperiment(3L).get.status === "completed")

    // a NULL-judge_model judgment (nullable in the reference, models.py:164)
    val anAnswerId = store.answers.where(col("experiment_id") === 3L)
      .select("id").head().getLong(0)
    store.appendJudgments(Seq(ExperimentJudgment(id = 999999L,
      answer_id = anAnswerId, judge_model = null, judgment_text = "manual"))
      .toDS().toDF().withColumn("experiment_id", lit(3L)))

    // one judge removed, the other remains → status untouched; the
    // NULL-judge row survives a judge-scoped delete (the reference's
    // equality filter keeps NULLs — null-safe keep-predicate)
    Jobs.deleteJudgments(store, 3L, judgeModel = Some("j1"))
    assert(store.getExperiment(3L).get.status === "completed")
    val models = store.judgments
      .where(col("experiment_id").cast("long") === 3L)
      .select("judge_model").collect().map(r => Option(r.getString(0)))
    assert(models.contains(None) && models.flatten.toSet === Set("j2"))
    // last judge removed → rollback (judging.py:100-107)
    Jobs.deleteJudgments(store, 3L)
    assert(store.getExperiment(3L).get.status === "generated")

    // answers delete resets to created and clears generation progress
    Jobs.deleteAnswers(store, progress, 3L)
    assert(store.getExperiment(3L).get.status === "created")
    assert(store.answers.where(col("experiment_id") === 3L).isEmpty)
    assert(progress.get("generate:3")("status") === "idle") // entry removed
    intercept[NoSuchElementException](Jobs.deleteAnswers(store, progress, 99L))
  }

  test("experiment CRUD: create mints ids, validates name; update merges partially") {
    val store = freshStore()
    val a = store.createExperiment(Experiment(id = 0, name = "crud-a",
      filter_config = FilterConfig(language = Seq("en"))))
    val b = store.createExperiment(Experiment(id = 0, name = "crud-b"))
    assert(a.id === 1L && b.id === 2L && a.status === "created")
    assert(a.created_at.isDefined)
    // name constraints (models.py:45 unique + nullable=False)
    intercept[IllegalArgumentException](
      store.createExperiment(Experiment(id = 0, name = "crud-a")))
    intercept[IllegalArgumentException](
      store.createExperiment(Experiment(id = 0, name = "")))

    // partial merge: only provided fields overwrite (experiments.py:115-128)
    val updated = store.updateExperiment(a.id, ExperimentPatch(
      description = Some("updated"), temperature = Some(0.2)))
    assert(updated.description === Some("updated"))
    assert(updated.temperature === 0.2)
    assert(updated.name === "crud-a" && updated.model_name === a.model_name)
    assert(store.getExperiment(a.id).get.description === Some("updated"))
    // renaming onto an existing name is rejected; onto itself is fine
    intercept[IllegalArgumentException](
      store.updateExperiment(a.id, ExperimentPatch(name = Some("crud-b"))))
    store.updateExperiment(a.id, ExperimentPatch(name = Some("crud-a")))
    // missing id → reference 404
    intercept[NoSuchElementException](
      store.updateExperiment(999L, ExperimentPatch(name = Some("x"))))
    // update rejected while a worker owns the experiment
    store.setStatus(a.id, "generating")
    intercept[IllegalArgumentException](
      store.updateExperiment(a.id, ExperimentPatch(description = Some("nope"))))
  }

  test("filter_config normalization: scalars promoted, falsy inactive, unknown ignored") {
    val fc = FilterConfig.fromMap(Map(
      "config" -> "open_question",            // bare scalar → singleton
      "language" -> Seq("en", "de"),
      "year" -> Seq(2020L, 2021),             // any integral type
      "area" -> null,                         // null → inactive
      "course" -> "",                         // empty string → inactive
      "negative_question" -> true,
      "international" -> null,                // null tri-state → None
      "bogus_key" -> "ignored"))
    assert(fc.config === Seq("open_question"))
    assert(fc.language === Seq("en", "de"))
    assert(fc.year === Seq(2020, 2021))
    assert(fc.area === Nil && fc.course === Nil)
    assert(fc.negative_question === Some(true) && fc.international === None)
    assert(FilterConfig.fromMap(Map.empty) === FilterConfig())
  }

  test("cascade delete removes answers and judgments (S8)") {
    val store = freshStore()
    store.saveExperiment(exp.copy(id = 4))
    val progress = new ProgressStore
    Jobs.runGeneration(store, progress, new DeterministicStubClient, 4L, parallelism = 2)
    Jobs.runJudging(store, progress, new DeterministicStubClient, 4L, "j", parallelism = 2)
    assert(store.answers.count() > 0 && store.judgments.count() > 0)
    store.deleteExperiment(4L)
    assert(store.answers.where(col("experiment_id") === 4).count() === 0)
    assert(store.judgments.count() === 0)
    assert(store.getExperiment(4L).isEmpty)
  }

  test("a judgments partition a crashed swap staged aside: reads skip the stage, the next rewrite restores it, a drop takes it along") {
    val store = freshStore()
    store.appendAnswers(Seq(
      ExperimentAnswer(id = 11, experiment_id = 1, variant_id = 1, run_index = 0,
        model_name = "m", answer_text = "a"),
      ExperimentAnswer(id = 21, experiment_id = 2, variant_id = 1, run_index = 0,
        model_name = "m", answer_text = "b")).toDF())
    def judge(eid: Long, js: ExperimentJudgment*): Unit =
      store.appendJudgments(js.toDF().withColumn("experiment_id", lit(eid)))
    judge(1L, ExperimentJudgment(101, 11, "j1", "t"), ExperimentJudgment(102, 11, "j2", "t"))
    judge(2L, ExperimentJudgment(201, 21, "j1", "t"))
    def ids = store.judgments.select("id").as[Long].collect().sorted.toSeq
    val root = java.nio.file.Paths.get(store.baseDir, "judgments")
    def dir(n: String) = root.resolve(n).toFile
    import org.apache.commons.io.FileUtils.{copyDirectory, deleteDirectory, moveDirectory}
    // after the install rename, before the stage is deleted: both copies
    copyDirectory(dir("experiment_id=1"), dir(".repair_old_experiment_id=1"))
    assert(ids === Seq(101L, 102L, 201L))
    // between the two renames: only the staged copy, and the unfinished
    // rewrite in its tmp dir — the partition reads absent until recovered
    deleteDirectory(dir("experiment_id=1"))
    copyDirectory(dir(".repair_old_experiment_id=1"), dir(".repair_tmp_experiment_id=1"))
    assert(ids === Seq(201L))
    store.deleteJudgments(1L, Some("j2"))
    assert(ids === Seq(101L, 201L))
    assert(store.liveJudgments(Some(1L)).select("id").as[Long].collect().toSeq === Seq(101L))
    // a drop after the same crash takes the staged copy along, so a
    // later rewrite has nothing to restore
    moveDirectory(dir("experiment_id=2"), dir(".repair_old_experiment_id=2"))
    store.deleteJudgments(2L)
    store.deleteJudgments(2L, Some("j2"))
    assert(ids === Seq(101L))
    assert(root.toFile.list().filterNot(_.endsWith(".crc")).sorted.toSeq ===
      Seq("_SUCCESS", "experiment_id=1"))
  }

  test("schema migration: late columns land with the reference defaults, idempotently (main.py:14-30)") {
    val store = freshStore()
    // a pre-upgrade experiments table: written before the tuning/judge
    // columns existed (exactly the reference's migration scenario)
    store.saveExperiment(exp)
    val legacy = spark.read.parquet(s"${store.baseDir}/experiments")
      .drop("judge_system_prompt", "temperature", "max_tokens",
        "judge_temperature", "judge_max_tokens")
    val tmp = s"${store.baseDir}/experiments_legacy"
    legacy.write.parquet(tmp)
    store.spark.catalog.refreshByPath(store.baseDir)
    val target = java.nio.file.Paths.get(s"${store.baseDir}/experiments")
    org.apache.commons.io.FileUtils.deleteDirectory(target.toFile)
    java.nio.file.Files.move(java.nio.file.Paths.get(tmp), target)

    val added = store.migrateExperimentsSchema()
    assert(added.toSet === Set("judge_system_prompt", "temperature",
      "max_tokens", "judge_temperature", "judge_max_tokens"))
    // typed reads work again and the defaults are the reference's
    val e = store.getExperiment(1L).get
    assert(e.temperature === 0.7 && e.max_tokens === 2048)
    assert(e.judge_temperature === 0.3 && e.judge_max_tokens === 4096)
    assert(e.judge_system_prompt === null) // TEXT with no default
    assert(e.name === exp.name) // pre-existing data untouched
    // second run is a no-op (reference re-runs this on every startup)
    assert(store.migrateExperimentsSchema() === Seq.empty)
    // schema evolution on an APPEND table: a new batch carrying a late
    // column coexists with old files via mergeSchema — old rows null
    store.appendAnswers(Seq((10L, 1L, "a")).toDF("id", "experiment_id", "answer_text"))
    store.appendAnswers(Seq((11L, 1L, "b", 42))
      .toDF("id", "experiment_id", "answer_text", "tokens_used"))
    val merged = spark.read.option("mergeSchema", "true")
      .parquet(s"${store.baseDir}/answers")
    val byId = merged.select("id", "tokens_used").collect()
      .map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(byId === Map(10L -> None, 11L -> Some(42)))
  }
}

/** A stub client whose every call waits for `release`, counting down
  * `started` first. The client is serialized into the tasks, so its
  * latches live in this object, not in the instance. */
class BlockingClient extends LlmClient {
  private val stub = new DeterministicStubClient
  override def complete(model: String, messages: Seq[LlmMessage],
                        temperature: Double, maxTokens: Int): LlmResult = {
    BlockingClient.started.countDown()
    BlockingClient.release.await(120, TimeUnit.SECONDS)
    stub.complete(model, messages, temperature, maxTokens)
  }
}

object BlockingClient {
  @volatile var started = new CountDownLatch(1)
  @volatile var release = new CountDownLatch(1)
  def reset(): Unit = {
    started = new CountDownLatch(1)
    release = new CountDownLatch(1)
  }
}
