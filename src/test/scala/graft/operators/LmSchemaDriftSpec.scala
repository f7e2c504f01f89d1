package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.types.StructType
import graft.TestSpark
import graft.operators.LmScore.{LmSpec, Smoothing}

/** Every persisted artifact loader reads with STATED schemas (no
  * per-load parquet inference): the LM and LangId models, the cluster
  * registry and the decon index. A writer that renames, reorders or
  * retypes a column would make those reads return NULL columns
  * silently, so every layout is written here and checked against the
  * loader's stated one, column for column. Schemas do not depend on the
  * data, so small in-memory inputs suffice.
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

  /** For layouts whose partition columns are stated wider than
    * directory inference reads them (INT → BIGINT, on purpose): the
    * data columns of every parquet footer equal the stated ones, the
    * partition columns follow them in stated order, and every directory
    * value parses as its stated type. */
  private def assertNoPartitionedDrift(root: String,
                                       layout: Seq[(String, String)]): Unit = {
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    layout.foreach { case (dir, ddl) =>
      val stated = StructType.fromDDL(ddl)
      val base = java.nio.file.Paths.get(root, dir)
      val files = java.nio.file.Files.walk(base).iterator.asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
      assert(files.nonEmpty, s"$dir: no parquet files written")
      // (column, value) of every `column=value` directory above a file
      val partValues = files.flatMap { f =>
        base.relativize(f.getParent).iterator.asScala.map(_.toString)
          .filter(_.contains("=")).map { seg =>
            val Array(k, v) = seg.split("=", 2); k -> v
          }
      }
      val partCols = partValues.map(_._1).distinct
      val dataCols = stated.fields.toSeq.filterNot(f => partCols.contains(f.name))
      assert(stated.fieldNames.toSeq === dataCols.map(_.name) ++ partCols,
        s"$dir: stated $ddl, partition columns $partCols")
      files.foreach { f =>
        val footer = spark.read.parquet(f.toString).schema
        assert(footer.fields.map(c => c.name -> c.dataType).toSeq ===
          dataCols.map(c => c.name -> c.dataType),
          s"$dir: footer of $f is ${footer.toDDL}, stated $ddl")
      }
      partValues.groupMap(_._1)(_._2).foreach { case (c, vs) =>
        val t = stated(c).dataType.sql
        val bad = vs.distinct.toDF("v")
          .where(org.apache.spark.sql.functions.expr(s"try_cast(v AS $t) IS NULL"))
          .as[String].collect()
        assert(bad.isEmpty, s"$dir: $c values ${bad.mkString(",")} do not parse as $t")
      }
    }
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

  test("cluster registry: data columns equal the file footers; partition values parse as the stated types") {
    import spark.implicits._
    val dir = tmpDir("regdrift")
    Clusters.updateRegistry(spark, dir, 0L, Seq(10L, 20L, 30L).toDF("doc_id"),
      Seq.empty[(Long, Long)].toDF("bid", "cid"), nDocParts = 4)
    Clusters.updateRegistry(spark, dir, 1L, Seq(8L).toDF("doc_id"),
      Seq(8L -> 10L).toDF("bid", "cid"))
    assertNoPartitionedDrift(dir, Clusters.registryLayout)
    // the consolidation archive's batch id is Long.MinValue — the reason
    // batch_id is stated BIGINT
    Clusters.compactRegistry(spark, dir, consolidateUpTo = Some(1L))
    assert(new java.io.File(s"$dir/members/batch_id=${Clusters.ArchiveBatchId}").isDirectory)
    assertNoPartitionedDrift(dir, Clusters.registryLayout.filter(_._1 == "members"))
  }

  test("decon index: data columns equal the file footers; partition values parse as the stated types") {
    val dir = tmpDir("decondrift")
    Dedup.saveDeconIndex(labeled.select("doc_id", "text"), 3, dir, nHashParts = 4)
    assertNoPartitionedDrift(dir, Dedup.deconLayout)
  }
}
