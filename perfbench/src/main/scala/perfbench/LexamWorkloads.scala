package perfbench

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.SparkSession
import graft.lexam.{Api, Experiment, FilterConfig}
import graft.lexam.pipeline.{DeterministicStubClient, JobRunner, LexamStore, ProgressStore}

/** The LEXam workload: sessions of a user who browses the dataset (the
  * eight Explore/Analyze endpoints) and then runs one experiment end to
  * end (create → generate → judge → the eight experiment read
  * endpoints) against a store that grows with every session. One client
  * thread, closed loop. */
object LexamWorkloads {
  val Volatile: Set[String] = Set("created_at", "updated_at", "elapsed", "eta", "rate")

  /** One call: the endpoint's layer name, the call, and its check. */
  final case class Req(ep: String, call: () => String, check: String => Unit)

  private def texts(n: JsonNode): Seq[String] = n.elements().asScala.map(_.asText).toSeq
  private def ints(n: JsonNode): Seq[Int] = n.elements().asScala.map(_.asInt).toSeq
  private def sumField(n: JsonNode, f: String): Long =
    n.elements().asScala.map(_.get(f).asLong).sum

  /** Build the store `Setups` times into fresh directories and keep the
    * last; setup_s is the median. One set-up = generate the inputs, write
    * them through LexamStore and read their row counts back. */
  def setup(ctx: Ctx): (LexamStore, LexamData) = {
    var last: (LexamStore, LexamData) = null
    val secs = (0 until Main.Setups).map { k =>
      val t0 = System.nanoTime()
      val data = LexamData.generate(ctx.seed, ctx.nQuestions)
      val store = new LexamStore(ctx.spark, s"${ctx.work}/lexam/setup$k")
      store.writeQuestions(data.questions)
      store.writeVariants(data.variants)
      Check.eq("stored variants", store.variants.count(), data.variants.size.toLong)
      last = (store, data)
      (System.nanoTime() - t0) / 1e9
    }
    ctx.res.metric("setup_s", Stats.median(secs), "s")
    Main.log(f"set up ${secs.map(s => f"$s%.2f").mkString(" ")}")
    last
  }

  // ------------------------------------------------------------ explore

  /** One active question-level filter with seeded values, broad enough
    * that no result is empty: every call of an endpoint has the same plan
    * shape and the same Spark job count, only the values vary. */
  private def oneDimFc(r: scala.util.Random): FilterConfig = {
    def pick[A](xs: Seq[A], n: Int) = r.shuffle(xs).take(n)
    r.nextInt(4) match {
      case 0 => FilterConfig(area = pick(LexamData.Areas, 1))
      case 1 => FilterConfig(language = pick(Seq("de", "en"), 1))
      case 2 => FilterConfig(year = pick(2000 until 2025, 3))
      case _ => FilterConfig(jurisdiction = pick(LexamData.Jurisdictions, 1))
    }
  }

  private def term(r: scala.util.Random): String =
    LexamData.Words(r.nextInt(LexamData.Words.size - 30))

  // the sort keys that order by a question column (config/split sort by
  // a per-question minimum over variants, a different plan)
  private val Sortable = Seq("id", "area", "course", "language", "year",
    "negative_question", "international", "question")

  val ExploreEndpoints: Seq[String] = Seq("questions_page", "question", "stats", "filters",
    "search_summary", "course_summary", "dashboard", "dashboard_comparison")

  /** A request to `ep` with seeded parameters, checked against the model. */
  def exploreReq(ep: String, r: scala.util.Random, store: LexamStore, d: LexamData): Req = {
    def q = store.questions
    def v = store.variants
    ep match {
      case "questions_page" =>
        val fc = oneDimFc(r)
        val search = Some(term(r))
        val sortBy = Some(Sortable(r.nextInt(Sortable.size)))
        val dir = if (r.nextBoolean()) "asc" else "desc"
        val offset = 50 * r.nextInt(3)
        Req(ep, () => Api.questionsPage(q, v, fc, search, sortBy, dir, offset, 50), out => {
          val j = Json.parse(out)
          val (total, ids) = d.pageIds(fc, search, sortBy, dir, offset, 50)
          Check.eq("questions_page total", j.get("total").asInt, total)
          Check.eq("questions_page ids", j.get("items").elements().asScala
            .map(_.get("id").asText).toSeq, ids)
        })
      case "question" =>
        val qq = d.questions(r.nextInt(d.questions.size))
        Req(ep, () => Api.question(q, v, qq.id), out => {
          val j = Json.parse(out)
          Check.eq("question id", j.get("id").asText, qq.id)
          Check.eq("question variants", j.get("variants").size, d.variantsByQ(qq.id).size)
        })
      case "stats" =>
        Req(ep, () => Api.stats(q, v), out => {
          val j = Json.parse(out)
          Check.eq("stats total_questions", j.get("total_questions").asInt, d.questions.size)
          Check.eq("stats total_variants", j.get("total_variants").asInt, d.variants.size)
          val byConfig = j.get("by_config").properties().iterator().asScala
            .map(e => e.getKey -> e.getValue.asInt).toMap
          Check.eq("stats by_config", byConfig,
            d.variants.groupBy(_.config).view.mapValues(_.size).toMap)
        })
      case "filters" =>
        val fc = oneDimFc(r)
        val search = None
        Req(ep, () => Api.filters(q, v, fc, search), out => {
          val j = Json.parse(out)
          Seq("configs" -> "config", "splits" -> "split", "areas" -> "area",
            "languages" -> "language", "courses" -> "course",
            "jurisdictions" -> "jurisdiction").foreach { case (k, dim) =>
            Check.eq(s"filters $k", texts(j.get(k)), d.viable(fc, search, dim))
          }
          Check.eq("filters years", ints(j.get("years")),
            d.viable(fc, search, "year").map(_.toInt).reverse)
        })
      case "search_summary" =>
        val fc = oneDimFc(r)
        val t = term(r)
        Req(ep, () => Api.searchSummary(q, v, fc, t), out => {
          val j = Json.parse(out)
          val hits = d.filterQuestions(fc, Some(t))
          Check.eq("search_summary total", j.get("total").asInt, hits.size)
          val byLang = j.get("by_language").properties().iterator().asScala
            .map(e => e.getKey -> e.getValue.asInt).toMap
          Check.eq("search_summary by_language", byLang,
            hits.groupBy(_.language).view.mapValues(_.size).toMap)
          val want = hits.groupBy(_.course).toSeq.map { case (c, xs) => (c, xs.size) }
            .sortBy { case (c, n) => (-n, c) }.take(10)
          Check.eq("search_summary by_course", j.get("by_course").properties().iterator().asScala
            .map(e => (e.getKey, e.getValue.asInt)).toSeq, want)
        })
      case "course_summary" =>
        val lang = Some(if (r.nextBoolean()) "de" else "en")
        Req(ep, () => Api.courseSummary(q, v, lang), out => {
          val j = Json.parse(out)
          val qs = d.questions.filter(x => lang.forall(_ == x.language))
          Check.eq("course_summary rows", j.size, qs.map(_.course).distinct.size)
          Check.eq("course_summary totals", sumField(j, "total"), qs.size.toLong)
        })
      case "dashboard" =>
        // open questions carry the reference answers the length panels
        // count; an MCQ-only cohort leaves those panels empty and changes
        // the job count
        val config = Seq("open_question")
        val language = Seq(if (r.nextBoolean()) "de" else "en")
        Req(ep, () => Api.dashboard(q, v, config, language), out => {
          val j = Json.parse(out)
          val want = d.questions.count { x =>
            (language.isEmpty || language.contains(x.language)) &&
              (config.isEmpty || d.variantsByQ(x.id).exists(vv => config.contains(vv.config)))
          }
          Check.eq("dashboard total_questions", j.get("total_questions").asInt, want)
          Check.eq("dashboard courses", sumField(j.get("courses"), "count"), want.toLong)
        })
      case "dashboard_comparison" =>
        val language = Seq(if (r.nextBoolean()) "de" else "en")
        Req(ep, () => Api.dashboardComparison(q, v, language = language), out => {
          val j = Json.parse(out)
          val qs = d.questions.filter(x => language.isEmpty || language.contains(x.language))
          def has(x: graft.lexam.Question, p: String => Boolean) =
            d.variantsByQ(x.id).exists(vv => p(vv.config))
          Check.eq("comparison open", sumField(j.get("area_comparison"), "Open-Ended"),
            qs.count(has(_, _ == "open_question")).toLong)
          Check.eq("comparison mcq", sumField(j.get("area_comparison"), "MCQ"),
            qs.count(has(_, _.startsWith("mcq_"))).toLong)
        })
    }
  }

  /** Op and unit (session, pass) metrics shared by all workloads. */
  def reportOps(ctx: Ctx, ops: Seq[Timing], units: Seq[Timing]): Unit = {
    val res = ctx.res
    res.metric("op_cpu_ms", Stats.geomean(ops.map(_.cpu * 1e3)), "ms")
    res.metric("cycle_cpu_s", Stats.median(units.map(_.cpu)), "s")
    res.metric("op_gmean_ms", Stats.geomean(ops.map(_.wall * 1e3)), "ms")
    res.metric("op_p50_ms", Stats.median(ops.map(_.wall)) * 1e3, "ms")
    res.metric("cycle_p50_s", Stats.median(units.map(_.wall)), "s")
    res.extra("op_samples") = ops.size
    res.extra("op_ms") = ops.map(x => math.rint(x.wall * 1e4) / 10)
    res.extra("op_cpu_ms") = ops.map(x => math.rint(x.cpu * 1e4) / 10)
    res.extra("cycle_samples") = units.size
  }

  private def apiLayer(ctx: Ctx, eps: Seq[String]): Unit = {
    val t = ctx.tracer
    eps.foreach { ep =>
      val ss = t.named(s"api.$ep")
      ctx.res.metric(s"api.$ep.ms", if (ss.isEmpty) 0.0 else Stats.median(ss.map(t.selfMs)), "ms")
      ctx.res.metric(s"api.$ep.jobs",
        if (ss.isEmpty) 0.0 else Stats.medianLong(ss.map(t.selfCounts(_).jobs)), "count")
    }
  }

  // --------------------------------------------------------- experiment

  val ExperimentEndpoints: Seq[String] = Seq("experiment_stats", "stats_by_question",
    "compare_judges", "judge_summary", "answers_page", "judgments_page",
    "list_experiments", "question_count")

  val Judge = "stub-judge"

  def session(ctx: Ctx): Unit = {
    val (store, data) = setup(ctx)
    val res = ctx.res
    val t = ctx.tracer
    val progress = new ProgressStore
    // one fresh thread per job: Spark local properties (the span id) are
    // inherited when a thread is created, so the job's Spark work is
    // charged to the span that started it
    val ec = ExecutionContext.fromExecutor { (job: Runnable) =>
      val th = new Thread(job, "perfbench-job"); th.setDaemon(true); th.start()
    }
    val runner = new JobRunner(store, progress, new DeterministicStubClient,
      parallelism = ctx.cores)(ec)

    val lat = mutable.ArrayBuffer[Timing]()
    val units = mutable.ArrayBuffer[Timing]()
    val cycles = mutable.ArrayBuffer[Timing]()
    val digests = mutable.LinkedHashMap[String, String]()
    val genRows = mutable.ArrayBuffer[(Long, Double)]()
    val judgeRows = mutable.ArrayBuffer[(Long, Double)]()
    var llmFailed = 0L
    var created = 0

    /** Every explore endpoint once, in seeded order, with seeded
      * parameters. */
    def browse(k: Int): Option[Timing] = {
      val r = new scala.util.Random(ctx.seed * 1000 + 500 + k)
      var round = Timing(0, 0)
      var ok = true
      r.shuffle(ExploreEndpoints).foreach { ep =>
        val req = exploreReq(ep, r, store, data)
        res.op(ep)(t.op(s"api.$ep")(req.call()))(req.check) match {
          case Some((out, s)) =>
            lat += s; round += s
            if (k == 0) digests(ep) = Json.digest(out, Volatile)
          case None => ok = false
        }
      }
      if (ok) Some(round) else None
    }

    /** One create → generate → judge → read cycle. */
    def cycle(k: Int): Option[Timing] = t.op("cycle") {
      val r = new scala.util.Random(ctx.seed * 1000 + k)
      val fc = FilterConfig(area = Seq(LexamData.Areas(r.nextInt(4))),
        language = Seq(if (r.nextBoolean()) "de" else "en"))
      val n = 2
      val cohort = data.cohort(fc)
      val open = cohort.count(_.config == "open_question")
      val mcq = cohort.size - open
      val timings = mutable.ArrayBuffer[Timing]()
      val outs = mutable.LinkedHashMap[String, String]()
      var ok = true
      def step[T](what: String)(call: => T)(check: T => Unit): Option[T] =
        res.op(what)(call)(check) match {
          case Some((v, s)) => timings += s; Some(v)
          case None => ok = false; None
        }

      val exp = step("create_experiment")(t.span("store.create_experiment")(
        store.createExperiment(Experiment(id = 0L, name = s"bench-$k",
          filter_config = fc, n_answers = n))))(e => Check.eq("status", e.status, "created"))
      exp.foreach { e =>
        created += 1
        val id = e.id
        if (t.enabled) {
          t.span("store.get_experiment")(store.getExperiment(id))
          t.span("pipeline.gen_worklist")(
            graft.lexam.pipeline.Jobs.generationWorkList(store, e).count())
        }
        val g0 = System.nanoTime()
        step("generation")(t.span("pipeline.generation")(
          Await.result(runner.startGeneration(id), 30.minutes))) { rows =>
          Check.eq("generated rows", rows, cohort.size.toLong * n)
          val p = runner.pollGeneration(id)
          llmFailed += p("failed").asInstanceOf[Long]
          Check.eq("generation progress failed", p("failed"), 0L)
        }.foreach(rows => genRows += ((rows, (System.nanoTime() - g0) / 1e9)))
        if (t.enabled) t.span("pipeline.judge_worklist")(
          graft.lexam.pipeline.Jobs.judgingWorkList(store, e, Judge).count())
        val j0 = System.nanoTime()
        step("judging")(t.span("pipeline.judging")(
          Await.result(runner.startJudging(id, Judge), 30.minutes))) { rows =>
          Check.eq("judged rows", rows, open.toLong * n)
          val p = runner.pollJudging(id, Judge)
          llmFailed += p("failed").asInstanceOf[Long]
          Check.eq("judging progress failed", p("failed"), 0L)
        }.foreach(rows => judgeRows += ((rows, (System.nanoTime() - j0) / 1e9)))

        val answers = cohort.size.toLong * n
        val judged = open.toLong * n
        val offset = 50 * r.nextInt(math.max(1, (answers / 50).toInt))
        def read(ep: String)(call: => String)(check: JsonNode => Unit): Unit =
          step(ep)(t.span(s"api.$ep")(call))(out => check(Json.parse(out)))
            .foreach(out => outs(ep) = out)
        read("experiment_stats")(Api.experimentStats(store, id)) { j =>
          Check.eq("total_answers", j.get("total_answers").asLong, answers)
          Check.eq("mcq total", j.get("mcq").get("total").asLong, mcq.toLong * n)
          Check.eq("open total", j.get("open").get("total").asLong, judged)
          Check.eq("open judged", j.get("open").get("judged").asLong, judged)
        }
        read("stats_by_question")(Api.statsByQuestion(store, id)) { j =>
          Check.eq("stats_by_question rows", j.size, cohort.map(_.question_id).distinct.size)
        }
        read("compare_judges")(Api.compareJudges(store, id)) { j =>
          Check.eq("compare_judges rows", j.size, if (judged > 0) 1 else 0)
        }
        read("judge_summary")(Api.judgeSummary(store, id)) { j =>
          Check.eq("judge_summary rows", j.size, if (judged > 0) 1 else 0)
        }
        read("answers_page")(Api.answersPage(store, id, offset)) { j =>
          Check.eq("answers total", j.get("total").asLong, answers)
          val ids = j.get("items").elements().asScala.map(_.get("id").asLong).toSeq
          Check.eq("answers page size", ids.size.toLong, math.min(50L, answers - offset))
          Check(ids == ids.sorted, "answers page not in id order")
        }
        read("judgments_page")(Api.judgmentsPage(store, id)) { j =>
          Check.eq("judgments total", j.get("total").asLong, judged)
          Check.eq("judgments page size", j.get("items").size.toLong, math.min(50L, judged))
        }
        read("list_experiments")(Api.listExperiments(store)) { j =>
          Check.eq("experiments listed", j.size, created)
          Check.eq("newest first", j.get(0).get("id").asLong, id)
          Check.eq("answer_count", j.get(0).get("answer_count").asLong, answers)
        }
        read("question_count")(Api.questionCount(store, fc).toString) { j =>
          Check.eq("question_count", j.asLong, cohort.size.toLong)
        }
      }
      if (k == 0) outs.foreach { case (ep, o) => digests(ep) = Json.digest(o, Volatile) }
      lat ++= timings
      if (ok) Some(timings.reduce(_ + _)) else None
    }

    // the first session's responses are the ones pinned per seed
    var k = 0
    while (units.isEmpty || units.map(_.wall).sum < ctx.seconds) {
      val b = browse(k)
      val c = cycle(k)
      c.foreach(cycles += _)
      for (x <- b; y <- c) units += x + y
      k += 1
      if (k > 20) throw new IllegalStateException("no session completed")
    }
    res.extra("digests") = digests
    reportOps(ctx, lat.toSeq, units.toSeq)
    res.extra("generated_rows") = genRows.map(_._1).sum
    res.extra("judged_rows") = judgeRows.map(_._1).sum

    if (t.enabled) {
      apiLayer(ctx, ExploreEndpoints ++ ExperimentEndpoints)
      def layer(name: String, rows: Seq[(Long, Double)]): Unit = {
        val ss = t.named(s"pipeline.$name")
        res.metric(s"pipeline.$name.ms", Stats.median(ss.map(_.ms)), "ms")
        res.metric(s"pipeline.$name.jobs", Stats.medianLong(ss.map(t.totalCounts(_).jobs)), "count")
        res.metric(s"pipeline.$name.rows", Stats.medianLong(rows.map(_._1)), "rows")
      }
      layer("generation", genRows.toSeq)
      layer("judging", judgeRows.toSeq)
      Seq("gen_worklist", "judge_worklist").foreach { w =>
        res.metric(s"pipeline.$w.ms", Stats.median(t.named(s"pipeline.$w").map(_.ms)), "ms")
      }
      res.metric("pipeline.llm_failed", llmFailed.toDouble, "count")
      Seq("get_experiment", "create_experiment").foreach { s =>
        res.metric(s"store.$s.ms", Stats.median(t.named(s"store.$s").map(_.ms)), "ms")
      }
      def files(table: String): Seq[java.nio.file.Path] = {
        val dir = java.nio.file.Paths.get(store.baseDir, table)
        val s = java.nio.file.Files.walk(dir)
        try s.iterator().asScala.filter(_.toString.endsWith(".parquet")).toSeq finally s.close()
      }
      res.metric("store.answers_files", files("answers").size.toDouble, "count")
      res.metric("store.judgments_files", files("judgments").size.toDouble, "count")
      val answerRows = store.answers.count()
      res.metric("store.bytes_per_answer",
        files("answers").map(java.nio.file.Files.size).sum.toDouble / answerRows, "B")
      res.metric("pipeline.generate_rows_per_s", genRows.map(_._1).sum / genRows.map(_._2).sum, "rows/s")
      res.metric("pipeline.judge_rows_per_s", judgeRows.map(_._1).sum / judgeRows.map(_._2).sum, "rows/s")
    }
  }
}
