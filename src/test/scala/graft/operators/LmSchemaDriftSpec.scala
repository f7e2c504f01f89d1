package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.types.StructType
import graft.TestSpark
import graft.operators.LmScore.{LmSpec, Smoothing}

/** The persisted LM and LangId loaders read with STATED schemas (no
  * per-load parquet inference). A writer that renames, reorders or
  * retypes a column would make those reads return NULL columns
  * silently, so every layout is written here and its inferred schema
  * must equal the loader's stated one, column for column. Schemas do
  * not depend on the data, so a small in-memory corpus suffices.
  */
class LmSchemaDriftSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Two languages; en fills every modified-KN count tier (1 to 4+). */
  private def labeled = {
    import spark.implicits._
    Seq((1L, "en", "a b a b a b a b c d c d"), (2L, "en", "e f e f e f g h"),
      (3L, "de", "x y x y z w"), (4L, "de", "w z y x"))
      .toDF("doc_id", "lang", "text")
  }

  private def tmpDir(prefix: String) =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def assertNoDrift(root: String, layout: Seq[(String, String)]): Unit =
    layout.foreach { case (dir, ddl) =>
      def cols(s: StructType) = s.fields.map(f => f.name -> f.dataType).toSeq
      val inferred = spark.read.parquet(s"$root/$dir").schema
      assert(cols(inferred) === cols(StructType.fromDDL(ddl)),
        s"$dir: written ${inferred.toDDL}, stated $ddl")
    }

  test("every LM spec: the written schema equals the loader's stated schema; the nightly detects its family") {
    val label = Map[Smoothing, String](Smoothing.AddHalf -> "lm",
      Smoothing.Kn -> "kn-lm", Smoothing.Mkn -> "mkn-lm")
    for (sm <- label.keys; perLang <- Seq(false, true)) {
      val spec = LmSpec(sm, perLang)
      val dir = tmpDir("lmdrift")
      LmScore.save(spec, labeled, dir)
      assertNoDrift(dir, LmScore.layout(spec))
      assert(Maintenance.nightly(spark, dir).family === label(sm), spec)
    }
  }

  test("LangId: the written schema equals the loader's stated schema") {
    val dir = tmpDir("lidrift")
    LangId.saveLangId(labeled, dir)
    assertNoDrift(dir, LangId.layout)
  }
}
