package graft.lexam

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, lit}
import graft.lexam.pipeline._

/** Hand-checkable LEXam fixture rows exercising every semantic corner
  * FIXTURES.md §A calls for: all areas/jurisdictions/both languages/3
  * years, tri-state booleans (true/false/null), multi- and single-config
  * questions, word counts at bin edges, international + domestic.
  */
object Fixtures {

  val questions: Seq[Question] = Seq(
    Question("q1", "What is consideration in contract law?", "US Business Law",
      "en", "Private", "International", 2020,
      negative_question = Some(false), international = Some(true)),
    Question("q2", "Welche Straftat liegt vor?", "Strafrecht I",
      "de", "Criminal", "Swiss", 2021,
      negative_question = Some(true), international = Some(false)),
    Question("q3", "Explain the separation of powers.", "Public Law",
      "en", "Public", "Generic", 2022,
      negative_question = None, international = Some(false)),
    Question("q4", "Was ist eine juristische Person?", "Privatrecht",
      "de", "Private", "Swiss", 2021,
      negative_question = Some(false), international = None),
    Question("q5", "Which treaty governs the sale of goods? Answer carefully.",
      "International Trade Law", "en", "Interdisciplinary", "International", 2022,
      negative_question = None, international = Some(true)),
    Question("q6", "Le droit des obligations...", "Public Law",
      "en", "Public", "Swiss", 2020,
      negative_question = Some(true), international = Some(false)))

  val variants: Seq[Variant] = Seq(
    // q1: full config spread (multi-config question)
    Variant(1, "q1", "mcq_4_choices", "dev",
      choices = Some(Seq("Mutual promise", "A gift", "A tort", "A crime")),
      gold = Some(0)),
    Variant(2, "q1", "mcq_8_choices", "test",
      choices = Some((1 to 8).map(i => s"Option $i")), gold = Some(3)),
    Variant(3, "q1", "open_question", "dev",
      answer = Some("Consideration is the bargained-for exchange of value.")),
    // q2: single config
    Variant(4, "q2", "mcq_4_choices", "test",
      choices = Some(Seq("Diebstahl", "Betrug", "Raub", "Nichts")), gold = Some(1)),
    // q3: open only, dev+test splits
    Variant(5, "q3", "open_question", "dev",
      answer = Some("Powers are divided among branches. " + ("word " * 45))), // 50 words
    Variant(6, "q3", "open_question", "test",
      answer = Some("Separation prevents concentration of authority.")),
    // q4: mcq_16 + open
    Variant(7, "q4", "mcq_16_choices", "dev",
      choices = Some((1 to 16).map(i => s"Wahl $i")), gold = Some(15)),
    Variant(8, "q4", "open_question", "test",
      answer = Some("Eine juristische Person ist ein Rechtssubjekt.")),
    // q5: mcq_32 only
    Variant(9, "q5", "mcq_32_choices", "test",
      choices = Some((1 to 32).map(i => s"Treaty $i")), gold = Some(7)),
    // q6: open with the search-target answer
    Variant(10, "q6", "open_question", "dev",
      answer = Some("Les obligations naissent du contrat. CISG applies here.")))

  /** The fixtures plus the corners a grouping-sets aggregate must keep
    * apart from its rolled-up rows: two NULL-course questions in
    * different areas, a NULL area, a NULL jurisdiction, NULL splits and
    * a language other than de/en. q7 and q8 are both open and MCQ, so
    * each NULL course sits on both sides of the open-vs-MCQ merge. */
  val edgeQuestions: Seq[Question] = questions ++ Seq(
    Question("q7", "Qu'est-ce qu'un contrat?", null, "fr", "Private", null, 2023,
      negative_question = Some(false), international = None),
    Question("q8", "Who interprets the treaty?", null, "en", "Public",
      "International", 2020, negative_question = None, international = Some(true)),
    Question("q9", "Was gilt im Zweifel?", "Strafrecht I", "de", null, "Swiss", 2021,
      negative_question = Some(true), international = Some(false)))

  val edgeVariants: Seq[Variant] = variants ++ Seq(
    Variant(11, "q7", "open_question", null, answer = Some("Un accord de volontés.")),
    Variant(12, "q7", "mcq_4_choices", "dev",
      choices = Some(Seq("Accord", "Don", "Délit", "Rien")), gold = Some(0)),
    Variant(13, "q8", "mcq_8_choices", null,
      choices = Some((1 to 8).map(i => s"Court $i")), gold = Some(2)),
    Variant(14, "q8", "open_question", "test",
      answer = Some("The court " * 120)), // 240 words
    Variant(15, "q9", "open_question", "dev",
      answer = Some("Im Zweifel für den Angeklagten.")))

  def writeTo(store: graft.lexam.pipeline.LexamStore): Unit = {
    store.writeQuestions(questions)
    store.writeVariants(variants)
  }

  def writeEdgeTo(store: graft.lexam.pipeline.LexamStore): Unit = {
    store.writeQuestions(edgeQuestions)
    store.writeVariants(edgeVariants)
  }

  /** A parquet store holding `write`'s questions and variants and one
    * generated, twice-judged experiment (id 1, every question, two runs)
    * plus a NULL-score judgment of an open answer. */
  def experimentStore(spark: SparkSession, write: LexamStore => Unit): LexamStore = {
    import spark.implicits._
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

  /** `body`'s result and the Spark jobs it starts, counted through its
    * job group (which the threads it hands work to inherit). A marker
    * job started after `body` returns is seen last, so every earlier job
    * start has been counted by then. */
  def sparkJobs[A](spark: SparkSession)(body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val group = s"counted-${java.util.UUID.randomUUID}"
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
      sc.setJobGroup(group, "counted")
      val a = body
      sc.setJobDescription("marker")
      sc.parallelize(Seq(1), 1).count()
      assert(marker.await(60, TimeUnit.SECONDS), "marker job not seen")
      (a, n.get)
    } finally {
      sc.clearJobGroup()
      sc.setJobDescription(null)
      sc.removeSparkListener(listener)
    }
  }
}
