package graft.lexam

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.lexam.pipeline._

/** `LexamStore` serves the experiments table from a snapshot stamped
  * with the table's files: a write through this store is read back
  * without a Spark job, as a stated read would return it; a rewrite
  * through another store on the same directory changes the stamp and
  * is seen by the next read; an absent table reads empty.
  */
class ExperimentsSnapshotSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

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
}
