package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark
import graft.operators.Similarity

/** The vector-index curation sink (enrich against the persisted PQ-IVF
  * index → exactly-once enrichment verdicts → append novel vectors →
  * periodic drift check/rebuild) vs the manual batch loop it streams:
  * per-batch enrichments and the resulting index must match exactly;
  * replays must be no-ops (markers and, after GC, the floor); the
  * at-least-once append window must move no sealed verdicts, with
  * repairPqIvf restoring row-level hygiene; and a mid-stream drift
  * trip must rebuild without touching any sealed enrichment.
  */
class IndexedVectorSinkSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def emb = graft.sources.Tables
    .embeddings(spark, "/root/testdata/sf0.001")
    .select(col("vec_id"), col("embedding"))

  private def role(b: Int) = emb.where(pmod(col("vec_id"), lit(8)) === b)

  private def drive(batch: org.apache.spark.sql.DataFrame, id: Long,
                    idx: String, out: String,
                    driftCheckEvery: Int = 0): Unit =
    VectorStreams.processVectorBatch(batch, id, idx, out, k = 5,
      nProbe = 3, rescoreK = 20, novelCos = 0.999,
      driftCheckEvery = driftCheckEvery, driftSampleMod = 10,
      skewBound = 4.0, recallFloor = 0.0, compactEvery = 2,
      maxFilesPerPart = 8)

  private def enrichment(out: String, id: Long): Seq[Seq[Any]] =
    spark.read.parquet(s"$out/batch_id=$id")
      .orderBy(col("q_id"), col("rank")).collect().map(_.toSeq).toSeq

  test("streamed curation equals the manual batch loop: per-batch enrichment and final index; clones are not re-appended") {
    val idxS = java.nio.file.Files.createTempDirectory("vsink_idx").toString
    val idxT = java.nio.file.Files.createTempDirectory("vsink_twin").toString
    val out = java.nio.file.Files.createTempDirectory("vsink_out").toString
    Similarity.savePqIvf(role(0), nCentroids = 8, m = 8, kCode = 16, idxS)
    Similarity.savePqIvf(role(0), nCentroids = 8, m = 8, kCode = 16, idxT)
    // one arrival per batch is an exact CLONE of an indexed vector
    // (cos 1.0 >= novelCos): enriched, but never appended
    val clones = scala.collection.mutable.Map[Long, Long]()
    (1 to 3).foreach { b =>
      val cloneOf = role(0).select(min(col("vec_id"))).head().getLong(0) + 0L
      val clone = role(0).where(col("vec_id") === cloneOf)
        .select((col("vec_id") + lit(9000000L + b)).as("vec_id"),
          col("embedding"))
      clones(9000000L + b + cloneOf) = cloneOf
      val batch = role(b).unionByName(clone)
      drive(batch, b - 1L, idxS, out)
      // manual twin of the same batch, same order of operations
      val enriched = Similarity.pqIvfSearch(spark, idxT, batch, k = 5,
        nProbe = 3, rescoreK = 20)
      val expected = enriched.collect().map(_.toSeq).toSeq
      val known = enriched.where(col("cos") >= 0.999)
        .select(col("q_id").as("vec_id")).distinct()
      Similarity.appendToPqIvf(batch.join(known, Seq("vec_id"), "left_anti"),
        idxT)
      assert(enrichment(out, b - 1L) === expected, s"batch $b enrichment diverges")
      assert(expected.nonEmpty)
    }
    // identical final indexes: same rows cell for cell...
    val a = spark.read.parquet(s"$idxS/cells")
      .select(col("cell"), col("vec_id")).orderBy(col("cell"), col("vec_id"))
      .collect().map(_.toSeq).toSeq
    val b = spark.read.parquet(s"$idxT/cells")
      .select(col("cell"), col("vec_id")).orderBy(col("cell"), col("vec_id"))
      .collect().map(_.toSeq).toSeq
    assert(a === b)
    // ...the clones were enriched but NOT appended...
    val resident = a.map(_(1).asInstanceOf[Long]).toSet
    assert(clones.keys.forall(id => !resident(id)),
      s"clones must not re-enter the index: $clones vs appended ${a.size}")
    // ...and both indexes serve a later probe identically
    val later = role(5)
    val pa = Similarity.pqIvfSearch(spark, idxS, later, k = 5, nProbe = 3,
      rescoreK = 20).collect().map(_.toSeq).toSeq
    val pb = Similarity.pqIvfSearch(spark, idxT, later, k = 5, nProbe = 3,
      rescoreK = 20).collect().map(_.toSeq).toSeq
    assert(pa === pb)
    assert(pa.nonEmpty)
  }

  test("replay is a no-op: committed marker, and after GC the floor stands in") {
    val idx = java.nio.file.Files.createTempDirectory("vsink_rep_idx").toString
    val out = java.nio.file.Files.createTempDirectory("vsink_rep_out").toString
    Similarity.savePqIvf(role(0), nCentroids = 8, m = 8, kCode = 16, idx)
    drive(role(1), 0L, idx, out)
    drive(role(2), 1L, idx, out)
    def state() = (
      spark.read.parquet(out).orderBy(col("batch_id"), col("q_id"), col("rank"))
        .collect().map(_.toSeq).toSeq,
      spark.read.parquet(s"$idx/cells").count())
    val before = state()
    drive(role(1), 0L, idx, out)
    assert(state() === before, "marker replay must change nothing")
    // GC both marker dirs behind the floor; pruned ids still no-op
    assert(DocStreams.gcSinkMarkers(spark, out, upTo = 1L) === 1L)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new org.apache.hadoop.fs.Path(out).toUri,
      spark.sessionState.newHadoopConf())
    Seq("_committed", "_enriched").foreach { d =>
      val names = fs.listStatus(new org.apache.hadoop.fs.Path(s"$out/$d"))
        .map(_.getPath.getName).filter(_.startsWith("batch_"))
      assert(names.isEmpty, s"$d still holds $names")
    }
    drive(role(1), 0L, idx, out)
    drive(role(2), 1L, idx, out)
    assert(state() === before, "floor replay must change nothing")
  }

  test("a batch with ZERO enrichment rows commits cleanly and replays as a no-op (no wedge behind the seal)") {
    val idx = java.nio.file.Files.createTempDirectory("vsink_zero_idx").toString
    val out = java.nio.file.Files.createTempDirectory("vsink_zero_out").toString
    // two far-apart residents, one per cell; the arrivals carry the
    // SAME vec_ids, so with nProbe=1 each probes only its own cell and
    // the self-exclusion drops the single candidate — pqIvfSearch
    // returns zero rows and the batch_id partition dir is never
    // created. The sink must still append (no neighbor ⇒ novel),
    // seal, and replay as a no-op instead of wedging on a read of the
    // missing dir.
    val two = Seq(
      (1L, Seq.fill(64)(1.0f)),
      (2L, Seq.tabulate(64)(i => if (i < 32) 5.0f else -5.0f)))
      .toDF("vec_id", "embedding")
    Similarity.savePqIvf(two, nCentroids = 2, m = 8, kCode = 4, idx)
    def drive0(): Unit = VectorStreams.processVectorBatch(two, 0L, idx, out,
      k = 5, nProbe = 1, rescoreK = 20, novelCos = 0.999,
      driftCheckEvery = 0, driftSampleMod = 10, skewBound = 4.0,
      recallFloor = 0.0, compactEvery = 0, maxFilesPerPart = 8)
    drive0()
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new org.apache.hadoop.fs.Path(out).toUri,
      spark.sessionState.newHadoopConf())
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$out/_committed/batch_0")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$out/batch_id=0")))
    val cells = spark.read.parquet(s"$idx/cells").count()
    assert(cells === 4L, "the candidate-less arrivals are novel and appended")
    drive0()
    assert(spark.read.parquet(s"$idx/cells").count() === cells)
  }

  test("crash after append: sealed enrichment reused verbatim; repairPqIvf removes the duplicate rows") {
    val idx = java.nio.file.Files.createTempDirectory("vsink_crash_idx").toString
    val clean = java.nio.file.Files.createTempDirectory("vsink_clean_idx").toString
    val out = java.nio.file.Files.createTempDirectory("vsink_crash_out").toString
    Similarity.savePqIvf(role(0), nCentroids = 8, m = 8, kCode = 16, idx)
    Similarity.savePqIvf(role(0), nCentroids = 8, m = 8, kCode = 16, clean)
    drive(role(1), 0L, idx, out)
    val sealedRows = enrichment(out, 0L)
    val appended = spark.read.parquet(s"$idx/cells").count()
    // crash between append and commit marker: the replay must reuse
    // the sealed enrichment (re-probing would see the batch's own
    // appended vectors as neighbors) and re-append
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new org.apache.hadoop.fs.Path(out).toUri,
      spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(s"$out/_committed/batch_0"), true)
    drive(role(1), 0L, idx, out)
    assert(enrichment(out, 0L) === sealedRows,
      "replay recomputed enrichment against the batch's own appended rows")
    assert(spark.read.parquet(s"$idx/cells").count() > appended,
      "fixture must actually duplicate cell rows")
    // repair restores row-level hygiene: identical to a never-crashed twin
    Similarity.repairPqIvf(spark, idx)
    drive(role(1), 0L, clean, java.nio.file.Files
      .createTempDirectory("vsink_clean_out").toString)
    val later = role(3)
    def probe(p: String) = Similarity.pqIvfSearch(spark, p, later, k = 5,
      nProbe = 3, rescoreK = 20).collect().map(_.toSeq).toSeq
    assert(spark.read.parquet(s"$idx/cells").count() ===
      spark.read.parquet(s"$clean/cells").count())
    assert(probe(idx) === probe(clean))
    // idempotent on a healthy index
    Similarity.repairPqIvf(spark, clean)
    assert(probe(idx) === probe(clean))
  }

  test("mid-stream drift trip rebuilds the index without touching sealed enrichments") {
    val idx = java.nio.file.Files.createTempDirectory("vsink_drift_idx").toString
    val out = java.nio.file.Files.createTempDirectory("vsink_drift_out").toString
    Similarity.savePqIvf(role(0), nCentroids = 8, m = 8, kCode = 16, idx)
    drive(role(1), 0L, idx, out, driftCheckEvery = 2)
    val sealed0 = enrichment(out, 0L)
    // a drifted micro-batch: 2x the resident mass in a region no
    // frozen centroid covers (the TrainedIvfSpec ball) — novel, so it
    // is appended, and the id=1 drift check (driftCheckEvery=2) trips
    val nResident = spark.read.parquet(s"$idx/cells").count()
    val ball = spark.range(2 * nResident)
      .select((col("id") + lit(1000000L)).as("vec_id"),
        array((0 until 64).map(i =>
          (lit(2.5) + sin((col("id") * 13 + lit(i)) * lit(0.7)) * lit(0.8))
            .cast("float")): _*).as("embedding"))
    drive(ball, 1L, idx, out, driftCheckEvery = 2)
    // the rebuild ran: the shared snapshot protocol echoed its token...
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new org.apache.hadoop.fs.Path(idx).toUri,
      spark.sessionState.newHadoopConf())
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$idx/rebuild_done_token")),
      "skewed append must trip the id=1 drift check and rebuild")
    // ...and fixed the occupancy skew
    val after = Similarity.pqIvfDriftCheck(spark, idx, sampleMod = 10,
      k = 5, nProbe = 3, rescoreK = 20, skewBound = 4.0, recallFloor = 0.0)
    assert(!after.skewDrifted, s"rebuilt index still skewed: $after")
    // sealed verdicts are files — the rebuild cannot move them
    assert(enrichment(out, 0L) === sealed0)
    // and the rebuilt index still holds everything (resident + ball)
    assert(spark.read.parquet(s"$idx/cells").count() === 3 * nResident)
  }
}
