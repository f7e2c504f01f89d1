package graft.lexam

import graft.lexam.pipeline._

/** Runnable walkthrough of the LEXam-shaped surface: seed → explore →
  * experiment → generate (stub LLM) → judge → stats. Mirrors the
  * reference's API flow (SURVEY §3) hermetically; also serves as the
  * library usage example.
  *
  * sbt "runMain graft.lexam.Demo [baseDir]"
  */
object Demo {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse(
      java.nio.file.Files.createTempDirectory("lexam_demo").toString)
    val spark = graft.LocalSession(4)

    val store = new LexamStore(spark, dir)
    // Seed (S1-ish): in production this is the HF-export ingest; here the
    // fixture rows double as the seed.
    store.writeQuestions(DemoData.questions)
    store.writeVariants(DemoData.variants)

    // Explore: one page, default sort (year DESC, id)
    val page = QuestionService.listQuestions(store.questions, store.variants,
      FilterConfig(language = Seq("en")), limit = 5)
    println(s"[explore] total=${page.total}")
    page.items.select("id", "course", "year").show(false)

    // Dataset stats
    val stats = DatasetAnalytics.stats(store.questions, store.variants)
    println(s"[stats] questions=${stats.totalQuestions} variants=${stats.totalVariants} " +
      s"byConfig=${stats.byConfig}")

    // Experiment lifecycle with the deterministic stub client
    val exp = Experiment(id = 1, name = "demo",
      filter_config = FilterConfig(language = Seq("en")), n_answers = 2)
    store.saveExperiment(exp)
    val progress = new ProgressStore
    val client = new DeterministicStubClient

    val nAnswers = Jobs.runGeneration(store, progress, client, 1L, parallelism = 4)
    println(s"[generate] answers=$nAnswers progress=${progress.get(Jobs.generationKey(1L))}")

    val nJudged = Jobs.runJudging(store, progress, client, 1L, "stub-judge", parallelism = 4)
    println(s"[judge] judgments=$nJudged progress=${progress.get(Jobs.judgingKey(1L, "stub-judge"))}")

    val enriched = ExperimentAnalytics.enriched(store.answers, store.variants,
      store.questions, store.judgments, 1L).cache()
    val mcq = ExperimentAnalytics.mcqStats(enriched)
    val open = ExperimentAnalytics.openStats(enriched, store.judgments)
    val cons = ExperimentAnalytics.selfConsistency(enriched)
    println(s"[stats] mcq=${mcq} open(total=${open.total}, judged=${open.judged}, " +
      s"avg=${open.avgScore}) consistency=$cons")
    ExperimentAnalytics.breakdownByField(enriched, store.judgments, "area").show(false)
    println(s"[status] ${store.getExperiment(1L).get.status}")

    // Training-data operators over the star-schema testdata, when present
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    if (new java.io.File(s"$sf/documents.parquet").exists) {
      val docs = graft.sources.Tables.documents(spark, sf)
      val pairs = graft.operators.Dedup
        .minhashLshPairs(docs, k = 3, bands = 8, rowsPerBand = 4, threshold = 0.05)
      val comps = graft.operators.Dedup.connectedComponents(pairs)
      println(s"[dedup] minhash-LSH pairs=${pairs.count()} " +
        s"clusters=${comps.select("comp").distinct().count()}")
      val emb = graft.sources.Tables.embeddings(spark, sf)
      val ann = graft.operators.Similarity
        .quantizedTopK(emb, sampleMod = 50, k = 5, rescoreK = 20)
      println(s"[ann] int8-quantized top-5 rows=${ann.count()}")
    }
    spark.stop()
  }
}

/** Same rows as the test fixtures (kept in main so the demo runs from a
  * bare `runMain` without the test classpath). */
object DemoData {
  val questions: Seq[Question] = Seq(
    Question("q1", "What is consideration in contract law?", "US Business Law",
      "en", "Private", "International", 2020,
      negative_question = Some(false), international = Some(true)),
    Question("q2", "Welche Straftat liegt vor?", "Strafrecht I",
      "de", "Criminal", "Swiss", 2021,
      negative_question = Some(true), international = Some(false)),
    Question("q3", "Explain the separation of powers.", "Public Law",
      "en", "Public", "Generic", 2022),
    Question("q5", "Which treaty governs the sale of goods?",
      "International Trade Law", "en", "Interdisciplinary", "International", 2022,
      international = Some(true)))

  val variants: Seq[Variant] = Seq(
    Variant(1, "q1", "mcq_4_choices", "dev",
      choices = Some(Seq("Mutual promise", "A gift", "A tort", "A crime")),
      gold = Some(0)),
    Variant(2, "q1", "open_question", "dev",
      answer = Some("Consideration is the bargained-for exchange of value.")),
    Variant(3, "q2", "mcq_4_choices", "test",
      choices = Some(Seq("Diebstahl", "Betrug", "Raub", "Nichts")), gold = Some(1)),
    Variant(4, "q3", "open_question", "test",
      answer = Some("Separation prevents concentration of authority.")),
    Variant(5, "q5", "mcq_8_choices", "test",
      choices = Some((1 to 8).map(i => s"Treaty $i")), gold = Some(7)))
}
