package graft.lexam.pipeline

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, Encoders, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.lexam._
import graft.sources.Table

/** Parquet-backed store for the five LEXam tables (S6–S9, SURVEY §2.1).
  * Every read states its table's schema (`LexamStore.Questions` …
  * `Experiments`), derived from the case classes the writers serialize;
  * `appendAnswers`/`appendJudgments` still take any frame, so a batch
  * may carry extra columns (a stated read does not show them).
  *
  * Mutations on immutable storage (SURVEY §7.4 item 7), each taking
  * `writeLock` itself:
  *  - answers/judgments are append-only, partitioned by experiment
  *    (the 100 TB layout: partition pruning makes per-experiment reads
  *    and deletes touch only their own files);
  *  - deletes are rewrite-a-partition (or drop-a-partition when the
  *    predicate is the partition key) — reference cascade semantics
  *    (models.py:23,38,136; routers/experiments.py:130-137);
  *  - the tiny `experiments` dimension is read-modify-overwrite through
  *    the driver (S9 status transitions).
  * All but the two appends go through the `sources.TableSwap` swap
  * (`Table.rewrite`, `rewritePartition`, `dropPartition`), which
  * recovers a crashed swap's leftovers at entry.
  *
  * The experiments table is served from a driver-side snapshot
  * `(stamp, rows)`. The stamp is the name, size and mtime of every file
  * under `experiments/`, taken with one directory listing and no Spark
  * job; a read whose listing differs from the snapshot's stamp re-reads
  * the table under `writeLock`, so it waits out a swap in progress.
  * Every rewrite of the table (through any store instance or process)
  * swaps in files with fresh UUID names, so a rewrite always changes the
  * stamp. A write through this store installs the rows it wrote, as a
  * stated read would return them, with the stamp taken after the swap —
  * the next read sees it without a Spark job.
  *
  * The store runs every read, write and job in a session of its own,
  * `spark`, which evaluates interpreted: no expression or whole-stage
  * code is generated at runtime. It is derived from the caller's session
  * (`newSession()` over the same SparkContext, extensions and shared
  * state, then every modifiable SQL conf the caller has set), and the
  * caller's session is not modified. Every frame the store hands out
  * belongs to this session, so `Api`, `Jobs` and the analytics evaluate
  * interpreted too; join store frames only with store frames. Why: the
  * LEXam calls plan small queries over KB–MB tables, where compiling a
  * query costs more than running it. One cold perfbench `lexam_session`
  * JVM (seed 1) compiled 365 Janino classes (5.7 s of compile time)
  * with codegen and 39 (1.3 s) with the store interpreted; Spark's
  * codegen cache holds 100 classes, fewer than one session compiles, so
  * a warm session would recompile them all. On 4 cores, over 10
  * alternating parent/change pairs (seeds 1–10), the median
  * `op_gmean_ms` fell from 1206 to 910 ms and `cycle_p50_s` from 30.3
  * to 22.2 s, with every pinned digest and every endpoint's job count
  * unchanged.
  */
class LexamStore(caller: SparkSession, val baseDir: String) {
  /** The store's own session; see the class doc. */
  val spark: SparkSession = LexamStore.interpreted(caller)
  import spark.implicits._

  /** In-process write lock: concurrent jobs (JobRunner) may mutate the
    * same tables — the experiments read-modify-overwrite and parquet
    * appends (shared _temporary staging dir) are not concurrency-safe
    * per table. Coarse lock; writes are small and infrequent next to
    * the LLM calls. */
  private val writeLock = new Object

  /** Rows last read or written, with the stamp of the files they came
    * from; an absent table has the empty stamp and reads empty. None
    * until the first read, which recovers the table first. */
  @volatile private var snapshot: Option[(Seq[(String, Long, Long)], Seq[Experiment])] = None

  private def exists(t: Table): Boolean = Files.exists(Paths.get(t.at(baseDir)))

  /** `t` read with its stated schema: no footer-inference job per read,
    * and an absent table (or one whose partitions were all dropped)
    * loads empty with the same columns in the same order. */
  private def read(t: Table): DataFrame =
    if (exists(t)) t.read(spark, baseDir)
    else spark.createDataFrame(java.util.List.of[Row](), t.schema)

  // ------------------------------------------------------------- reads

  def questions: DataFrame = read(LexamStore.Questions)
  def variants: DataFrame  = read(LexamStore.Variants)
  def answers: DataFrame   = read(LexamStore.Answers)
  def judgments: DataFrame = read(LexamStore.Judgments)

  /** Judgments still reachable through a surviving answer, with the
    * answer's experiment id as `eid`, `variant_id` and `answer_text`.
    * The reference counts judgments via the ExperimentAnswer join
    * (routers/experiments.py:79-84, 183-189; routers/judging.py:96-101),
    * so judgments orphaned by a bulk answer delete never surface
    * anywhere — this is THE single judgment read path for Api and Jobs,
    * so the rule can't drift between them. A judgment is stored in its
    * answer's experiment partition (`Jobs.runJudging` judges only that
    * experiment's answers), so `Some(id)` reads that one partition of
    * both tables. */
  def liveJudgments(experimentId: Option[Long] = None): DataFrame = {
    def scoped(t: DataFrame) =
      experimentId.fold(t)(id => t.where(col("experiment_id") === id))
    scoped(judgments).drop("experiment_id")
      .join(scoped(answers).select(col("id").as("answer_id"), col("experiment_id").as("eid"),
        col("variant_id"), col("answer_text")), Seq("answer_id"))
  }

  /** The experiments table, from the snapshot while the files are the
    * ones it was taken from (lock-free, no Spark job); else recovered,
    * listed and read under `writeLock`. The stamp is listed before the
    * Spark read, so another process's rewrite racing the read leaves a
    * stamp the next read does not match. */
  def experiments: Seq[Experiment] =
    served(experimentsStamp).getOrElse(writeLock.synchronized {
      LexamStore.Experiments.recover(spark, baseDir)
      val stamp = experimentsStamp
      served(stamp).getOrElse {
        val fresh = read(LexamStore.Experiments).as[Experiment].collect().toSeq
        stamp.foreach(s => snapshot = Some((s, fresh)))
        fresh
      }
    })

  private def served(stamp: Option[Seq[(String, Long, Long)]]): Option[Seq[Experiment]] =
    snapshot.collect { case (seen, rows) if stamp.contains(seen) => rows }

  /** (name, size, mtime) of every file under `experiments/`, sorted;
    * empty when the table is absent, None when a concurrent swap moved
    * the files while they were listed. */
  private def experimentsStamp: Option[Seq[(String, Long, Long)]] = {
    import java.nio.file.attribute.BasicFileAttributes
    import scala.jdk.CollectionConverters._
    val dir = Paths.get(LexamStore.Experiments.at(baseDir))
    try {
      val files = Files.walk(dir)
      try Some(files.iterator().asScala.toSeq.flatMap { f =>
        val a = Files.readAttributes(f, classOf[BasicFileAttributes])
        if (a.isDirectory) None
        else Some((dir.relativize(f).toString, a.size, a.lastModifiedTime.toMillis))
      }.sorted)
      finally files.close()
    } catch {
      case _: java.nio.file.NoSuchFileException if !Files.exists(dir) => Some(Nil)
      case _: java.io.IOException | _: java.io.UncheckedIOException => None
    }
  }

  def getExperiment(id: Long): Option[Experiment] = experiments.find(_.id == id)

  // ------------------------------------------------------------ writes

  def writeQuestions(qs: Seq[Question]): Unit =
    writeLock.synchronized(LexamStore.Questions.rewrite(spark, baseDir)(qs.toDF()))
  def writeVariants(vs: Seq[Variant]): Unit =
    writeLock.synchronized(LexamStore.Variants.rewrite(spark, baseDir)(vs.toDF()))

  /** Upsert one experiment row (S9). The dimension is tiny by contract,
    * so driver-side read-modify-overwrite is the idiomatic batch move. */
  def saveExperiment(exp: Experiment): Unit = writeLock.synchronized {
    writeExperiments(upserted(experiments, exp))
  }

  /** Replace the experiments table with `rows` (id order, one file)
    * through `Table.rewrite`. Every mutation reads the table once under
    * `writeLock` and passes those rows here. */
  private def writeExperiments(rows: Seq[Experiment]): Unit = {
    val sorted = rows.sortBy(_.id)
    LexamStore.Experiments.rewrite(spark, baseDir)(sorted.toDF().coalesce(1))
    experimentsStamp.foreach(s => snapshot = Some((s, sorted.map(LexamStore.storedForm))))
  }

  private def upserted(rows: Seq[Experiment], exp: Experiment): Seq[Experiment] =
    rows.filterNot(_.id == exp.id) :+ exp

  /** POST /api/experiments (routers/experiments.py:45-70): mint the next
    * autoincrement id, force status "created", stamp created_at. The
    * reference's DB-level constraints become requires: name non-empty
    * (nullable=False) and unique (models.py:45). Caller-supplied prompt
    * fields ride in on the Experiment defaults exactly like the
    * reference's "only set when provided" loop. */
  def createExperiment(exp: Experiment): Experiment = writeLock.synchronized {
    require(exp.name != null && exp.name.nonEmpty, "experiment name required")
    val rows = experiments
    require(!rows.exists(_.name == exp.name),
      s"experiment name '${exp.name}' already exists")
    val now = new java.sql.Timestamp(System.currentTimeMillis())
    val created = exp.copy(
      id = rows.map(_.id).maxOption.getOrElse(0L) + 1,
      status = "created", created_at = Some(now), updated_at = Some(now))
    writeExperiments(rows :+ created)
    created
  }

  /** PUT /api/experiments/{id} (routers/experiments.py:115-128): partial
    * merge — only provided fields overwrite; throws for a missing id
    * (the reference 404). Divergence, documented: the reference lets an
    * update race a live generation/judging worker (the worker holds a
    * stale row and the edit silently half-applies); here a busy
    * experiment rejects the update instead. */
  def updateExperiment(id: Long, patch: ExperimentPatch): Experiment =
    modifyExperiment(id) { exp =>
      require(!StatusMachine.isBusy(exp.status),
        s"experiment busy: ${exp.status}")
      patch.name.filter(_ != exp.name).foreach(n =>
        require(!experiments.exists(_.name == n),
          s"experiment name '$n' already exists"))
      exp.copy(
        name = patch.name.getOrElse(exp.name),
        description = patch.description.orElse(exp.description),
        filter_config = patch.filter_config.getOrElse(exp.filter_config),
        open_question_prompt = patch.open_question_prompt.getOrElse(exp.open_question_prompt),
        mcq_prompt = patch.mcq_prompt.getOrElse(exp.mcq_prompt),
        judge_system_prompt = patch.judge_system_prompt.getOrElse(exp.judge_system_prompt),
        judge_prompt = patch.judge_prompt.getOrElse(exp.judge_prompt),
        model_name = patch.model_name.getOrElse(exp.model_name),
        temperature = patch.temperature.getOrElse(exp.temperature),
        max_tokens = patch.max_tokens.getOrElse(exp.max_tokens),
        judge_temperature = patch.judge_temperature.getOrElse(exp.judge_temperature),
        judge_max_tokens = patch.judge_max_tokens.getOrElse(exp.judge_max_tokens),
        n_answers = patch.n_answers.getOrElse(exp.n_answers),
        updated_at = Some(new java.sql.Timestamp(System.currentTimeMillis())))
    }.getOrElse(throw new NoSuchElementException(s"experiment $id"))

  /** Status transition, checked and written under one lock hold — a
    * concurrent writer cannot move the status between the check and
    * the write. */
  def setStatus(id: Long, status: String): Unit =
    modifyExperiment(id) { e =>
      StatusMachine.requireTransition(e.status, status)
      e.copy(status = status)
    }

  /** Experiment `id` rewritten as `f` returns it, read once and written
    * under one lock hold, so a status another thread writes cannot land
    * between the read and the write and be overwritten; `f` may act on
    * the store first (a delete) under the same hold. No write when `f`
    * returns the row unchanged; None when there is no such id. */
  private[pipeline] def modifyExperiment(id: Long)(f: Experiment => Experiment): Option[Experiment] =
    writeLock.synchronized {
      val rows = experiments
      rows.find(_.id == id).map { e =>
        val next = f(e)
        if (next != e) writeExperiments(upserted(rows, next))
        next
      }
    }

  /** Append a batch of answers under the experiment's partition (S7 —
    * batched, not the reference's per-row commits). */
  def appendAnswers(batch: DataFrame): Unit = writeLock.synchronized {
    batch.write.mode(SaveMode.Append)
      .partitionBy("experiment_id").parquet(LexamStore.Answers.at(baseDir))
  }

  def appendJudgments(batch: DataFrame): Unit = writeLock.synchronized {
    batch.write.mode(SaveMode.Append)
      .partitionBy("experiment_id").parquet(LexamStore.Judgments.at(baseDir))
  }

  /** Delete all answers of an experiment (S8): partition drop. */
  def deleteAnswers(experimentId: Long): Unit =
    writeLock.synchronized(LexamStore.Answers.dropPartition(spark, baseDir, experimentId))

  /** Delete judgments of an experiment, optionally one judge only
    * (routers/judging.py:80-108): partition drop or partition rewrite. */
  def deleteJudgments(experimentId: Long, judgeModel: Option[String] = None): Unit =
    writeLock.synchronized {
      judgeModel match {
        case None => LexamStore.Judgments.dropPartition(spark, baseDir, experimentId)
        case Some(m) =>
          // null-safe keep-predicate: judge_model is nullable in the
          // reference model (models.py:164) and its equality delete filter
          // keeps NULL-model rows — `=!=` would silently drop them
          LexamStore.Judgments.rewritePartition(spark, baseDir, experimentId)(
            _.where(!(col("judge_model") <=> m)))
      }
    }

  /** Cascade delete (routers/experiments.py:130-137): judgments →
    * answers → experiment row. */
  def deleteExperiment(id: Long): Unit = writeLock.synchronized {
    deleteJudgments(id)
    deleteAnswers(id)
    val rows = experiments
    if (rows.exists(_.id == id)) writeExperiments(rows.filterNot(_.id == id))
  }

  /** Startup schema migration (main.py:14-30 `_migrate_experiments_table`):
    * add late columns with defaults to an EXISTING experiments table
    * that predates them. ALTER TABLE ADD COLUMN on immutable parquet =
    * read → withColumn(default) → `Table.rewrite`. Idempotent like the
    * reference: a no-op when the table is absent or already carries
    * every column. Returns the column names actually added. The one
    * footer-inferred read of the store: a stated read would show the
    * missing columns as NULLs instead of telling them apart. */
  def migrateExperimentsSchema(migrations: Seq[(String, org.apache.spark.sql.Column)]
                                 = LexamStore.ExperimentMigrations): Seq[String] =
    writeLock.synchronized {
      val t = LexamStore.Experiments
      t.recover(spark, baseDir)
      if (!exists(t)) Seq.empty
      else {
        val df = spark.read.parquet(t.at(baseDir))
        val missing = migrations.filterNot { case (n, _) => df.columns.contains(n) }
        if (missing.nonEmpty) t.rewrite(spark, baseDir)(missing.foldLeft(df) {
          case (d, (n, default)) => d.withColumn(n, default)
        }.coalesce(1))
        missing.map(_._1)
      }
    }

  /** Compact one experiment's partition into one file —
    * streaming/incremental appends (S7) accumulate small files; compaction
    * is the standard maintenance pass that keeps scans fast. */
  def compactAnswers(experimentId: Long): Unit =
    writeLock.synchronized {
      LexamStore.Answers.rewritePartition(spark, baseDir, experimentId)(_.coalesce(1))
    }
}

object LexamStore {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions.lit
  import org.apache.spark.sql.internal.SQLConf

  /** A new session over `caller`'s context, with every modifiable SQL
    * conf `caller` has set, that generates no code at runtime: in Spark
    * 4.1 the factory mode `NO_CODEGEN` turns off expression codegen and
    * whole-stage codegen (`CollapseCodegenStages` checks it). */
  private def interpreted(caller: SparkSession): SparkSession = {
    val s = caller.newSession()
    caller.conf.getAll.foreach { case (k, v) => if (caller.conf.isModifiable(k)) s.conf.set(k, v) }
    s.conf.set(SQLConf.CODEGEN_FACTORY_MODE.key, "NO_CODEGEN")
    s
  }

  /** `s` as DDL with every column nullable, the way parquet reads it. */
  private def ddl(s: StructType): String =
    s.fields.map(f => s"`${f.name}` ${f.dataType.sql}").mkString(", ")

  /** The stated layout of the five tables, taken from the encoders of
    * the case classes their writers serialize. The partitioned tables
    * state `experiment_id` last, as a partitioned read orders it. */
  val Questions: Table = Table("questions", ddl(Encoders.product[Question].schema))
  val Variants: Table = Table("variants", ddl(Encoders.product[Variant].schema))
  val Answers: Table = Table("answers", ddl(StructType(Encoders.product[ExperimentAnswer]
    .schema.filterNot(_.name == "experiment_id"))) + ", experiment_id BIGINT", "experiment_id")
  val Judgments: Table = Table("judgments", ddl(Encoders.product[ExperimentJudgment].schema) +
    ", experiment_id BIGINT", "experiment_id")
  val Experiments: Table = Table("experiments", ddl(Encoders.product[Experiment].schema))

  private lazy val (toRow, fromRow) = {
    val enc = org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Experiment]()
    (enc.createSerializer(), enc.resolveAndBind().createDeserializer())
  }

  /** `e` as a stated read of the written table returns it: through the
    * encoder and back, so a timestamp keeps microseconds as parquet
    * does. */
  private def storedForm(e: Experiment): Experiment = synchronized(fromRow(toRow(e).copy()))

  /** The reference's migration set (main.py:20-26), with its defaults. */
  val ExperimentMigrations: Seq[(String, Column)] = Seq(
    "judge_system_prompt" -> lit(null).cast("string"),
    "temperature"         -> lit(0.7),
    "max_tokens"          -> lit(2048),
    "judge_temperature"   -> lit(0.3),
    "judge_max_tokens"    -> lit(4096))
}

/** Experiment status state machine (P6; models.py:131 + transitions in
  * generation.py:82,127,135 / judging.py:57,105,112). */
object StatusMachine {
  val Transitions: Map[String, Set[String]] = Map(
    // created→judging is legal: the reference judge worker sets
    // status="judging" unconditionally (judging.py:57) and an experiment
    // with no answers judges zero items and finishes "completed".
    "created"    -> Set("generating", "judging", "error"),
    "generating" -> Set("generated", "error"),
    "generated"  -> Set("generating", "judging", "error"),
    "judging"    -> Set("completed", "error"),
    "completed"  -> Set("generating", "judging", "error"),
    "error"      -> Set("generating", "judging"))

  // reset-status (routers/experiments.py:140-162) writes via
  // saveExperiment directly — whitelisting its targets here would make
  // the guard vacuous for exactly the transitions the table forbids.
  def canTransition(from: String, to: String): Boolean =
    from == to || Transitions.get(from).exists(_.contains(to))

  def requireTransition(from: String, to: String): Unit =
    require(canTransition(from, to), s"illegal status transition $from -> $to")

  /** Concurrency guard (routers/generation.py:18-19, judging.py:23-24). */
  def isBusy(status: String): Boolean =
    status == "generating" || status == "judging"

  /** reset-status recomputation from data (routers/experiments.py:140-162). */
  def recompute(answerCount: Long, judgmentCount: Long): String =
    if (judgmentCount > 0) "completed"
    else if (answerCount > 0) "generated"
    else "created"
}
