package graft.lexam

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.lexam.pipeline._

/** `LexamStore` serves the experiments table from a snapshot stamped
  * with the table's files: a write through this store is read back
  * without a Spark job, as a stated read would return it; a rewrite
  * through another store on the same directory changes the stamp and
  * is seen by the next read; an absent table reads empty; a read racing
  * a rewrite, or following a crash inside one, sees the table.
  */
class ExperimentsSnapshotSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshDir(): String =
    java.nio.file.Files.createTempDirectory("experiments_snapshot").toString

  private def jobs[A](body: => A): (A, Int) = Fixtures.sparkJobs(spark)(body)

  test("an absent table reads empty, without a Spark job") {
    val store = new LexamStore(spark, freshDir())
    val (rows, n) = jobs((store.experiments, store.getExperiment(1L)))
    assert(rows === ((Nil, None)))
    assert(n === 0)
    // a table deleted behind the store's back reads empty again
    store.saveExperiment(Experiment(id = 1, name = "gone"))
    assert(store.experiments.map(_.id) === Seq(1L))
    val dir = java.nio.file.Paths.get(store.baseDir, "experiments")
    scala.util.Using.resource(java.nio.file.Files.walk(dir)) { files =>
      files.sorted(java.util.Comparator.reverseOrder()).forEach(java.nio.file.Files.delete(_))
    }
    assert(store.experiments === Nil)
  }

  test("installed rows equal a fresh stated read, and are read back without a Spark job") {
    val dir = freshDir()
    val store = new LexamStore(spark, dir)
    // nanoseconds below the microsecond do not survive parquet
    val ts = java.sql.Timestamp.valueOf("2024-05-06 07:08:09.123456789")
    store.saveExperiment(Experiment(id = 4, name = "stamped", description = Some("d"),
      filter_config = FilterConfig(area = Seq("Private"), year = Seq(2020, 2021),
        international = Some(true)),
      created_at = Some(ts), updated_at = None))
    val created = store.createExperiment(Experiment(id = 0, name = "created", n_answers = 3))
    store.setStatus(created.id, "generating")
    val (installed, n) = jobs(store.experiments)
    assert(n === 0, "a read after a write through the same store starts no Spark job")
    val stated = new LexamStore(spark, dir).experiments
    assert(installed === stated)
    assert(stated.map(e => (e.id, e.status)) === Seq(4L -> "created", 5L -> "generating"))
    assert(installed.head.created_at.get.getNanos === 123456000)
  }

  test("a row written through a second store on the same directory is seen by the next read") {
    val dir = freshDir()
    val first = new LexamStore(spark, dir)
    val second = new LexamStore(spark, dir)
    first.saveExperiment(Experiment(id = 1, name = "one"))
    assert(second.experiments.map(_.name) === Seq("one"))
    second.saveExperiment(Experiment(id = 2, name = "two"))
    second.setStatus(1L, "generating")
    assert(first.experiments.map(e => (e.name, e.status)) ===
      Seq("one" -> "generating", "two" -> "created"))
    // a status write checks the row the other store wrote
    intercept[IllegalArgumentException](first.setStatus(1L, "completed"))
    first.setStatus(1L, "generated")
    assert(second.getExperiment(1L).map(_.status) === Some("generated"))
    // a delete through the first store is seen by the second
    first.deleteExperiment(2L)
    assert(second.experiments.map(_.id) === Seq(1L))
  }

  test("a reader racing 200 rewrites of the table finds the experiment on every call") {
    val store = new LexamStore(spark, freshDir())
    store.saveExperiment(Experiment(id = 1, name = "raced"))
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]
    val writer = new Thread(() =>
      try (1 to 200).foreach(i => store.saveExperiment(
        Experiment(id = 1, name = "raced", description = Some(s"rewrite $i"))))
      catch { case t: Throwable => failure.set(t) })
    writer.start()
    var reads = 0
    try while (writer.isAlive) {
      assert(store.getExperiment(1L).map(_.name) === Some("raced"), s"after $reads reads")
      reads += 1
    } finally writer.join()
    assert(failure.get === null)
    assert(reads > 0)
    assert(store.getExperiment(1L).flatMap(_.description) === Some("rewrite 200"))
  }

  test("a crash between the swap's two renames loses no experiment: the next read and status write see the old rows") {
    val dir = freshDir()
    val store = new LexamStore(spark, dir)
    store.saveExperiment(Experiment(id = 1, name = "one"))
    store.saveExperiment(Experiment(id = 2, name = "two"))
    val root = java.nio.file.Paths.get(dir)
    // the state such a crash leaves: the live table staged aside and the
    // unfinished rewrite in its tmp dir
    def crash(): Unit = {
      java.nio.file.Files.move(root.resolve("experiments"),
        root.resolve("_repair_old_experiments"))
      Seq(Experiment(id = 3, name = "unfinished")).toDF()
        .write.parquet(root.resolve("_repair_tmp_experiments").toString)
    }
    def leftovers = Seq("_repair_old_experiments", "_repair_tmp_experiments")
      .filter(n => java.nio.file.Files.exists(root.resolve(n)))
    crash()
    // a restarted process
    assert(new LexamStore(spark, dir).getExperiment(1L).map(_.name) === Some("one"))
    assert(leftovers === Nil)
    crash()
    // the store that was writing
    store.setStatus(2L, "generating")
    assert(leftovers === Nil)
    assert(new LexamStore(spark, dir).experiments.map(e => (e.id, e.status)) ===
      Seq(1L -> "created", 2L -> "generating"))
  }
}
