package perfbench

import graft.lexam.{DatasetAnalytics, FilterConfig, Question, Variant}

/** Seeded synthetic LEXam store in the real dataset's proportions, plus a
  * plain-collections model of it that the output checks compare the
  * library's responses against.
  *
  * Shape (at the default 5,000 questions): ~58% open questions with one
  * `open_question` variant carrying a long reference answer, ~42% MCQ
  * questions with `mcq_4_choices` and (97% each) the 8/16/32-choice
  * variants — about 11.1k variants. de/en, the four areas, the three
  * jurisdictions, 25 years, ~120 courses (one area and jurisdiction per
  * course), tri-state booleans. All text is ASCII, so string order in the
  * model matches Spark's binary order.
  */
final case class LexamData(questions: Vector[Question], variants: Vector[Variant]) {
  val variantsByQ: Map[String, Vector[Variant]] = variants.groupBy(_.question_id)
  val byId: Map[String, Question] = questions.map(q => q.id -> q).toMap
  val courses: Vector[String] = questions.map(_.course).distinct.sorted

  private def qMatches(q: Question, fc: FilterConfig, skip: Set[String]): Boolean = {
    def dim[A](name: String, vals: Seq[A], v: A) = skip(name) || vals.isEmpty || vals.contains(v)
    dim("area", fc.area, q.area) && dim("language", fc.language, q.language) &&
      dim("course", fc.course, q.course) && dim("jurisdiction", fc.jurisdiction, q.jurisdiction) &&
      dim("year", fc.year, q.year) &&
      (skip("negative_question") || fc.negative_question.forall(b => q.negative_question.contains(b))) &&
      (skip("international") || fc.international.forall(b => q.international.contains(b)))
  }

  private def vMatches(v: Variant, fc: FilterConfig, skip: Set[String]): Boolean =
    (skip("config") || fc.config.isEmpty || fc.config.contains(v.config)) &&
      (skip("split") || fc.split.isEmpty || fc.split.contains(v.split))

  private def hasVariantDims(fc: FilterConfig, skip: Set[String]): Boolean =
    (!skip("config") && fc.config.nonEmpty) || (!skip("split") && fc.split.nonEmpty)

  /** `Filters.filterQuestions` semantics. */
  def filterQuestions(fc: FilterConfig, search: Option[String],
                      skip: Set[String] = Set.empty): Vector[Question] =
    questions.filter { q =>
      val vs = variantsByQ.getOrElse(q.id, Vector.empty)
      qMatches(q, fc, skip) &&
        (!hasVariantDims(fc, skip) || vs.exists(vMatches(_, fc, skip))) &&
        search.filter(_.nonEmpty).forall { term =>
          val t = term.toLowerCase
          q.question.toLowerCase.contains(t) ||
            vs.exists(_.answer.exists(_.toLowerCase.contains(t)))
        }
    }

  /** `Filters.filterVariants` (experiment cohort: negative_question is
    * deliberately not applied). */
  def cohort(fc: FilterConfig): Vector[Variant] =
    variants.filter(v => vMatches(v, fc, Set.empty) &&
      qMatches(byId(v.question_id), fc, Set("negative_question")))

  /** `Filters.viableValues` for one facet, ascending. */
  def viable(fc: FilterConfig, search: Option[String], dim: String): Seq[String] = {
    val qs = filterQuestions(fc, search, skip = Set(dim))
    if (dim == "config" || dim == "split") {
      val ids = qs.map(_.id).toSet
      variants.filter(v => ids(v.question_id) && vMatches(v, fc, Set(dim)))
        .map(v => if (dim == "config") v.config else v.split).distinct.sorted
    } else qs.map { q =>
      dim match {
        case "area" => q.area; case "language" => q.language
        case "course" => q.course; case "jurisdiction" => q.jurisdiction
        case "year" => q.year.toString
      }
    }.distinct.sortBy(s => if (dim == "year") f"${s.toInt}%08d" else s)
  }

  /** The id order `QuestionService.listQuestions` pages through. */
  def pageIds(fc: FilterConfig, search: Option[String], sortBy: Option[String],
              sortDir: String, offset: Int, limit: Int): (Int, Seq[String]) = {
    val qs = filterQuestions(fc, search)
    def minOf(q: Question, f: Variant => String): Option[String] =
      variantsByQ.get(q.id).map(_.map(f).min)
    // nulls first ascending, last descending (Spark's default orders)
    type Key = (Int, String)
    def key(q: Question): Key = {
      def s(o: Option[String]): Key = o.map(v => (1, v)).getOrElse((0, ""))
      sortBy.getOrElse("") match {
        case "id" => (1, q.id); case "area" => (1, q.area)
        case "course" => (1, q.course); case "language" => (1, q.language)
        case "question" => (1, q.question); case "year" => (1, f"${q.year}%08d")
        case "config" => s(minOf(q, _.config)); case "split" => s(minOf(q, _.split))
        case "negative_question" => s(q.negative_question.map(_.toString))
        case "international" => s(q.international.map(_.toString))
        case _ => (1, f"${99999999 - q.year}%08d") // default: year desc
      }
    }
    val desc = sortBy.isDefined && sortDir == "desc"
    val ord = Ordering.Tuple2(Ordering.Int, Ordering.String)
    val sorted = qs.sortWith { (a, b) =>
      val c = ord.compare(key(a), key(b))
      if (c != 0) (if (desc) c > 0 else c < 0) else a.id < b.id
    }
    (qs.size, sorted.slice(offset, offset + limit).map(_.id))
  }
}

object LexamData {
  val Areas: Seq[String] = DatasetAnalytics.Areas
  val Jurisdictions: Seq[String] = DatasetAnalytics.Jurisdictions
  val McqConfigs: Seq[String] = DatasetAnalytics.McqConfigs

  val Words: Vector[String] = Vector(
    "contract", "liability", "tort", "damages", "consent", "statute", "court",
    "appeal", "verdict", "plaintiff", "defendant", "evidence", "witness",
    "property", "lease", "tenant", "owner", "possession", "title", "estate",
    "inheritance", "will", "trust", "company", "shareholder", "board", "merger",
    "tax", "income", "canton", "federal", "constitution", "right", "freedom",
    "equality", "procedure", "criminal", "offence", "intent", "negligence",
    "fraud", "theft", "sentence", "penalty", "prosecutor", "police", "custody",
    "administrative", "authority", "permit", "zoning", "environment", "treaty",
    "union", "trade", "competition", "market", "consumer", "employment",
    "worker", "salary", "dismissal", "notice", "claim", "defence", "remedy",
    "injunction", "jurisdiction", "venue", "arbitration", "mediation",
    "settlement", "obligation", "performance", "breach", "termination",
    "guarantee", "security", "pledge", "mortgage", "debtor", "creditor",
    "bankruptcy", "insolvency", "registry", "marriage", "divorce", "custody",
    "child", "parent", "adoption", "nationality", "asylum", "residence",
    "data", "privacy", "copyright", "patent", "trademark", "licence", "the",
    "a", "of", "and", "under", "whether", "which", "must", "may", "shall",
    "article", "paragraph", "section", "code", "law", "rule", "principle",
    "doctrine", "case", "decision", "judgment", "reasoning", "analysis")

  private def text(r: scala.util.Random, lo: Int, hi: Int): String =
    Vector.fill(lo + r.nextInt(hi - lo + 1))(Words(r.nextInt(Words.size))).mkString(" ")

  private def tri(r: scala.util.Random): Option[Boolean] = r.nextInt(3) match {
    case 0 => None; case 1 => Some(true); case _ => Some(false)
  }

  def generate(seed: Long, nQuestions: Int): LexamData = {
    val r = new scala.util.Random(seed)
    val nCourses = math.max(8, nQuestions / 42)
    val courses = (0 until nCourses).map { c =>
      val name = s"${Words(r.nextInt(Words.size)).capitalize} Law ${c + 1}"
      (name, Areas(c % Areas.size), Jurisdictions(r.nextInt(Jurisdictions.size)))
    }
    val qs = Vector.newBuilder[Question]
    val vs = Vector.newBuilder[Variant]
    var vid = 0L
    for (i <- 0 until nQuestions) {
      val (course, area, jur) = courses(r.nextInt(nCourses))
      val id = f"${java.lang.Long.toHexString(seed & 0xffffL)}-q$i%05d"
      val open = r.nextDouble() < 0.58
      qs += Question(id = id, question = text(r, 20, 80), course = course,
        language = if (r.nextDouble() < 0.55) "de" else "en", area = area,
        jurisdiction = jur, year = 2000 + r.nextInt(25),
        n_statements = if (!open && r.nextBoolean()) Some(2 + r.nextInt(4)) else None,
        none_as_an_option = if (open) None else tri(r),
        negative_question = tri(r), international = tri(r))
      if (open) {
        vid += 1
        vs += Variant(vid, id, "open_question",
          if (r.nextDouble() < 0.2) "dev" else "test", answer = Some(text(r, 60, 300)))
      } else McqConfigs.zipWithIndex.foreach { case (cfg, k) =>
        if (k == 0 || r.nextDouble() < 0.97) {
          val n = 4 << k
          vid += 1
          vs += Variant(vid, id, cfg, "test",
            choices = Some(Vector.fill(n)(text(r, 3, 10))), gold = Some(r.nextInt(n)))
        }
      }
    }
    LexamData(qs.result(), vs.result())
  }
}
