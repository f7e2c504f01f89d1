package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.types.StructType
import graft.TestSpark
import graft.operators.LmScore.{LmSpec, Smoothing}
import graft.sources.Table

/** Every persisted artifact is read with the STATED schemas of its
  * [[graft.sources.Artifact]] descriptor (no per-load parquet
  * inference): the LSH, Hamming, decon, IVF, margin and PQ-IVF indexes,
  * the LM and LangId models, the BPE tokenizer and the cluster
  * registry. A writer that renames, reorders or retypes a column would
  * make those reads return NULL columns silently, so every layout is
  * written here and checked against its descriptor, column for column.
  * Schemas do not depend on the data, so small in-memory inputs
  * suffice.
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

  private def assertNoDrift(root: String, tables: Seq[Table]): Unit =
    tables.foreach { t =>
      def cols(s: StructType) = s.fields.map(f => f.name -> f.dataType).toSeq
      val inferred = spark.read.parquet(t.at(root)).schema
      assert(cols(inferred) === cols(t.schema),
        s"${t.dir}: written ${inferred.toDDL}, stated ${t.ddl}")
    }

  /** For layouts whose partition columns are stated wider than
    * directory inference reads them (INT → BIGINT, on purpose): the
    * data columns of every parquet footer equal the stated ones, the
    * partition columns follow them in stated order, and every directory
    * value parses as its stated type. */
  private def assertNoPartitionedDrift(root: String,
                                       tables: Seq[Table]): Unit = {
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    tables.foreach { t =>
      val (dir, ddl, stated) = (t.dir, t.ddl, t.schema)
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
      assert(t.partitionBy === partCols, s"$dir: partitioned by $partCols")
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
      assertNoDrift(dir, LmScore.artifact(spec).tables)
      assert(Maintenance.nightly(spark, dir).family === label(sm), spec)
    }
  }

  test("LangId: the written schema equals the loader's stated schema") {
    val dir = tmpDir("lidrift")
    LangId.saveLangId(labeled, dir)
    assertNoDrift(dir, LangId.ModelArtifact.tables)
  }

  test("cluster registry: data columns equal the file footers; partition values parse as the stated types") {
    import spark.implicits._
    val dir = tmpDir("regdrift")
    Clusters.updateRegistry(spark, dir, 0L, Seq(10L, 20L, 30L).toDF("doc_id"),
      Seq.empty[(Long, Long)].toDF("bid", "cid"), nDocParts = 4)
    Clusters.updateRegistry(spark, dir, 1L, Seq(8L).toDF("doc_id"),
      Seq(8L -> 10L).toDF("bid", "cid"))
    assertNoPartitionedDrift(dir, Clusters.RegistryArtifact.tables)
    // the consolidation archive's batch id is Long.MinValue — the reason
    // batch_id is stated BIGINT
    Clusters.compactRegistry(spark, dir, consolidateUpTo = Some(1L))
    assert(new java.io.File(s"$dir/members/batch_id=${Clusters.ArchiveBatchId}").isDirectory)
    assertNoPartitionedDrift(dir, Seq(Clusters.RegistryArtifact("members")))
  }

  test("decon index: data columns equal the file footers; partition values parse as the stated types") {
    val dir = tmpDir("decondrift")
    Dedup.saveDeconIndex(labeled.select("doc_id", "text"), 3, dir, nHashParts = 4)
    assertNoPartitionedDrift(dir, Seq(Dedup.DeconArtifact("hashes")))
  }

  test("decon meta and bloom: written as stated; a legacy 4-column meta reads NULL digests") {
    import spark.implicits._
    val dir = tmpDir("deconmeta")
    Dedup.saveDeconIndex(labeled.select("doc_id", "text"), 3, dir, nHashParts = 4)
    assertNoDrift(dir, Seq(Dedup.DeconArtifact("meta"), Dedup.DeconArtifact("bloom")))
    val legacy = tmpDir("deconlegacy")
    Seq((3, 0.01, 5L, 4)).toDF("k", "fpp", "n_hashes", "n_hash_parts")
      .write.parquet(Dedup.DeconArtifact("meta").at(legacy))
    val m = Dedup.DeconArtifact.meta(spark, legacy)
    assert(m.getAs[Int]("n_hash_parts") === 4)
    assert(m.isNullAt(m.fieldIndex("content_digest")) &&
      m.isNullAt(m.fieldIndex("bloom_digest")))
  }

  test("LSH index: bands, docs, stats and meta are written as stated") {
    val dir = tmpDir("lshdrift")
    Dedup.saveLshIndex(labeled.select("doc_id", "text"), k = 2, bands = 2,
      rowsPerBand = 2, dir, nBucketParts = 4)
    assertNoDrift(dir, Dedup.LshArtifact.tables)
  }

  test("Hamming index: bands and meta are written as stated") {
    import spark.implicits._
    val dir = tmpDir("hamdrift")
    Dedup.saveHammingIndex(Seq((1L, 0x0F0FL), (2L, 0xFFFFL)).toDF("id", "fp"),
      "id", "fp", bits = 16, bands = 4, dir, nBucketParts = 4)
    assertNoDrift(dir, Dedup.HammingArtifact.tables)
  }

  /** 32 float vectors of the 64 dimensions the PQ trainer expects. */
  private def embeddings = {
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    (0 until 32).map(i => (i.toLong, Seq.fill(64)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
  }

  test("IVF index: cells and centroids are written as stated") {
    val (index, assigned) = Similarity.buildIvfTrained(embeddings, k = 2)
    val dir = tmpDir("ivfdrift")
    Similarity.saveIvf(index, assigned, dir)
    assertNoDrift(dir, Similarity.IvfArtifact.tables)
  }

  test("margin index: cells, centroids, yden and margin_meta are written as stated") {
    val (index, assigned) = Similarity.buildIvfTrained(embeddings, k = 2)
    val dir = tmpDir("margindrift")
    Similarity.saveMarginIndex(index, assigned.localCheckpoint(), k = 1, dir)
    assertNoDrift(dir, Similarity.MarginArtifact.tables)
  }

  test("PQ-IVF index: cells, centroids, codebooks and meta are written as stated") {
    val dir = tmpDir("pqdrift")
    Similarity.savePqIvf(embeddings, nCentroids = 2, m = 2, kCode = 2, dir,
      trainIters = 2)
    assertNoDrift(dir, Similarity.PqIvfArtifact.tables)
  }

  test("BPE tokenizer: merges are written as stated") {
    val dir = tmpDir("bpedrift")
    Bpe.saveTokenizer(spark, Seq(Bpe.Merge("a", "b", 3L), Bpe.Merge("ab", "c", 2L)),
      dir)
    assertNoDrift(dir, Bpe.TokenizerArtifact.tables)
  }

  test("LEXam store: every table is read as stated; absent tables and dropped partitions read empty with the same columns") {
    import graft.lexam.{Experiment, FilterConfig, Fixtures}
    import graft.lexam.pipeline.{DeterministicStubClient, Jobs, LexamStore, ProgressStore}
    def cols(df: org.apache.spark.sql.DataFrame) =
      df.schema.fields.map(f => f.name -> f.dataType).toSeq
    def stated(t: Table) = t.schema.fields.map(f => f.name -> f.dataType).toSeq
    val dir = tmpDir("lexamdrift")
    val store = new LexamStore(spark, dir)
    assert(cols(store.answers) === stated(LexamStore.Answers))
    assert(cols(store.judgments) === stated(LexamStore.Judgments))
    assert(store.answers.isEmpty && store.judgments.isEmpty && store.experiments.isEmpty)

    Fixtures.writeTo(store)
    store.saveExperiment(Experiment(id = 1, name = "drift",
      filter_config = FilterConfig(language = Seq("en"))))
    val progress = new ProgressStore
    Jobs.runGeneration(store, progress, new DeterministicStubClient, 1L, parallelism = 2)
    Jobs.runJudging(store, progress, new DeterministicStubClient, 1L, "j", parallelism = 2)
    assertNoDrift(dir, Seq(LexamStore.Questions, LexamStore.Variants, LexamStore.Experiments))
    assertNoPartitionedDrift(dir, Seq(LexamStore.Answers, LexamStore.Judgments))
    Seq(store.questions -> LexamStore.Questions, store.variants -> LexamStore.Variants,
        store.answers -> LexamStore.Answers, store.judgments -> LexamStore.Judgments)
      .foreach { case (df, t) =>
        assert(cols(df) === stated(t), t.dir)
        assert(!df.isEmpty, t.dir)
      }

    // every partition dropped: the directories stay, the reads are empty
    store.deleteExperiment(1L)
    assert(java.nio.file.Files.isDirectory(java.nio.file.Paths.get(dir, "answers")))
    assert(cols(store.answers) === stated(LexamStore.Answers) && store.answers.isEmpty)
    assert(cols(store.judgments) === stated(LexamStore.Judgments) && store.judgments.isEmpty)
    assert(store.experiments.isEmpty)
  }

  test("the writer refuses a frame whose column type differs from the stated DDL") {
    import spark.implicits._
    val e = intercept[IllegalArgumentException] {
      Dedup.LshArtifact("meta").writer(
        Seq((3L, 2, 2, 4)).toDF("k", "bands", "rows_per_band", "n_bucket_parts"))
    }
    assert(e.getMessage.contains("column k is BIGINT, stated INT"), e.getMessage)
  }
}
