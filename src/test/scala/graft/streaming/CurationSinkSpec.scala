package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark
import graft.operators.{Dedup, TextAnalysis}

/** The full streaming curation pipeline ([[DocStreams.curationSink]]:
  * repetition gate → persisted-index decontamination → exactly-once
  * indexed dedup) vs the batch composition it streams: per-batch
  * curated cohorts, quarantine trail, and the final index must match
  * the manual loop exactly; replays must be no-ops; the quarantine
  * partition must be idempotent under the documented crash windows;
  * and neither repetition-gated nor contaminated docs may ever reach
  * the index.
  */
class CurationSinkSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // corpus slices from the fixture; every 5th doc of a batch gets its
  // 12-word head appended twice so the repetition gate provably binds
  private def docsAll = graft.sources.Tables
    .documents(spark, "/root/testdata/sf0.001")
    .select(col("doc_id"), col("text"))

  private def synth(df: org.apache.spark.sql.DataFrame) = {
    val wr = split(col("text"), " ")
    val rep = concat(col("text"), lit(" "),
      array_join(slice(wr, 1, 12), " "), lit(" "),
      array_join(slice(wr, 1, 12), " "))
    df.select(col("doc_id"),
      when(pmod(col("doc_id"), lit(5)) === 0, rep)
        .otherwise(col("text")).as("text"))
  }

  private def role(b: Int) = synth(
    docsAll.where(pmod(col("doc_id"), lit(12)) === b))

  // benchmark for the decon index: a disjoint slice of the corpus, so
  // real contamination hits exist (fixture texts repeat across docs)
  private def bench = docsAll.where(pmod(col("doc_id"), lit(12)) === 11)

  private def tmp(p: String) =
    java.nio.file.Files.createTempDirectory(p).toString

  private def mkDecon(): String = {
    val d = tmp("cur_decon") + "/decon"
    Dedup.saveDeconIndex(bench, k = 8, d, nHashParts = 8)
    d
  }

  /** A decon index over a benchmark no fixture doc overlaps. */
  private def mkDisjointDecon(): String = {
    val d = tmp("cur_decon") + "/decon"
    Dedup.saveDeconIndex(Seq((1L, (1 to 12).map(i => s"qzxv$i").mkString(" ")))
      .toDF("doc_id", "text"), k = 8, d, nHashParts = 8)
    d
  }

  /** The batch twin of one curation micro-batch: gate → decon → the
    * manual probe/append loop against `idx`. Returns the probe's
    * verdict rows (collected BEFORE the append — rerunning the probe
    * after it would see the batch's own rows) and the (doc_id, stage)
    * quarantine rows. */
  private def manualBatch(b: org.apache.spark.sql.DataFrame, decon: String,
                          idx: String, threshold: Double, maxB: Option[Int])
      : (Seq[Seq[Any]], Seq[(Long, String)]) = {
    val repBad = TextAnalysis
      .repetitionSignals(b, topNs = Nil, dupNs = Seq(10))
      .where(col("dup10_char_frac") >= 0.10).select(col("doc_id"))
    val gated = b.join(repBad, Seq("doc_id"), "left_anti")
    val contaminated = Dedup.decontaminateAgainstDeconIndex(gated, decon)
      .where(col("containment") >= 0.5).select(col("doc_id"))
    val curated = gated.join(contaminated, Seq("doc_id"), "left_anti")
    val quarantined =
      repBad.collect().map(r => (r.getLong(0), "repetition")).toSeq ++
      contaminated.collect().map(r => (r.getLong(0), "contamination")).toSeq
    val probed = Dedup.dedupAgainstLshIndex(curated, idx, threshold, maxB)
    val verdictRows = probed.orderBy(col("doc_id")).collect()
      .map(_.toSeq).toSeq
    Dedup.appendToLshIndex(
      curated.join(probed.where(!col("is_dup")).select(col("doc_id")),
        "doc_id"), idx)
    (verdictRows, quarantined)
  }

  test("streamed curation equals the manual gate→decon→dedup loop; quarantine trail matches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val streamIdx = tmp("cur_idx")
    val twinIdx = tmp("cur_twin")
    val verdicts = tmp("cur_verd")
    val quarantine = tmp("cur_quar")
    val decon = mkDecon()
    Dedup.saveLshIndex(role(0), k = 3, bands = 8, rowsPerBand = 4,
      streamIdx, nBucketParts = 8)
    Dedup.saveLshIndex(role(0), k = 3, bands = 8, rowsPerBand = 4,
      twinIdx, nBucketParts = 8)
    val input = MemoryStream[StreamDoc]
    val q = DocStreams.curationSink(input.toDF(), streamIdx, decon,
        verdicts, threshold = 0.05, maxContainment = 0.5,
        gate = Some(DocStreams.RepetitionGate(dupN = 10, maxCharFrac = 0.10)),
        quarantinePath = Some(quarantine), maxBucket = Some(3))
      .option("checkpointLocation", tmp("cur_ckpt"))
      .start()
    try {
      var sawQuarantine = false
      (1 to 3).foreach { b =>
        input.addData(role(b).as[(Long, String)].collect()
          .map(t => StreamDoc(t._1, t._2)): _*)
        q.processAllAvailable()
        val (expVerdicts, expQuar) = manualBatch(role(b), decon, twinIdx,
          threshold = 0.05, maxB = Some(3))
        val got = spark.read.parquet(verdicts)
          .where(col("batch_id") === (b - 1)) // MemoryStream ids 0-based
          .select(col("doc_id"), col("n_matches"), col("match_id"),
            col("is_dup"))
          .orderBy(col("doc_id")).collect().map(_.toSeq).toSeq
        assert(got === expVerdicts, s"batch $b verdicts diverge")
        assert(expVerdicts.nonEmpty)
        val gotQuar = spark.read.parquet(quarantine)
          .where(col("batch_id") === (b - 1))
          .select(col("doc_id"), col("stage")).collect()
          .map(r => (r.getLong(0), r.getString(1))).toSet
        assert(gotQuar === expQuar.toSet, s"batch $b quarantine diverges")
        if (expQuar.nonEmpty) sawQuarantine = true
      }
      assert(sawQuarantine, "fixture must exercise the quarantine path")
    } finally q.stop()
    // both indexes must serve identical answers to a later batch
    val later = role(5)
    val a = Dedup.dedupAgainstLshIndex(later, streamIdx, threshold = 0.05,
      maxBucket = Some(3)).collect().map(_.toSeq).toSeq
    val b2 = Dedup.dedupAgainstLshIndex(later, twinIdx, threshold = 0.05,
      maxBucket = Some(3)).collect().map(_.toSeq).toSeq
    assert(a === b2)
    assert(a.nonEmpty)
  }

  test("quarantined docs never enter the index; clean docs all accounted for") {
    val idx = tmp("cur_idx2")
    val verdicts = tmp("cur_verd2")
    val quarantine = tmp("cur_quar2")
    val decon = mkDecon()
    Dedup.saveLshIndex(role(0), k = 3, bands = 8, rowsPerBand = 4, idx,
      nBucketParts = 8)
    DocStreams.processCurationBatch(role(1), 0L, idx, decon, verdicts,
      threshold = 0.05, maxContainment = 0.5,
      gate = Some(DocStreams.RepetitionGate()),
      quarantinePath = Some(quarantine),
      maxBucket = Some(3), compactEvery = 0, maxFilesPerPart = 8)
    val quarIds = spark.read.parquet(quarantine)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(quarIds.nonEmpty, "fixture must quarantine something")
    val indexed = spark.read.parquet(s"$idx/docs")
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(quarIds.intersect(indexed).isEmpty,
      "quarantined docs must never reach the index doc store")
    // every batch doc is exactly one of: quarantined, verdicted
    val verdicted = spark.read.parquet(verdicts)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val batchIds = role(1).select(col("doc_id")).collect()
      .map(_.getLong(0)).toSet
    assert(quarIds.intersect(verdicted).isEmpty)
    assert((quarIds ++ verdicted) === batchIds,
      "gate+decon+dedup must partition the batch exactly")
  }

  test("a fully-committed batch replayed is a no-op (index, verdicts, quarantine untouched)") {
    val idx = tmp("cur_idx3")
    val verdicts = tmp("cur_verd3")
    val quarantine = tmp("cur_quar3")
    val decon = mkDecon()
    Dedup.saveLshIndex(role(0), k = 3, bands = 8, rowsPerBand = 4, idx,
      nBucketParts = 8)
    def drive() = DocStreams.processCurationBatch(role(1), 0L, idx, decon,
      verdicts, threshold = 0.05, maxContainment = 0.5,
      gate = Some(DocStreams.RepetitionGate()),
      quarantinePath = Some(quarantine),
      maxBucket = Some(3), compactEvery = 0, maxFilesPerPart = 8)
    drive()
    def state() = (
      spark.read.parquet(verdicts).orderBy(col("doc_id"))
        .collect().map(_.toSeq).toSeq,
      spark.read.parquet(quarantine).orderBy(col("doc_id"))
        .collect().map(_.toSeq).toSeq,
      spark.read.parquet(s"$idx/bands").count(),
      spark.read.parquet(s"$idx/docs").count())
    val before = state()
    drive()
    assert(state() === before, "replay of a committed batch must change nothing")
  }

  test("crash after quarantine write, before dedup: replay overwrites the partition in place") {
    val idx = tmp("cur_idx4")
    val verdicts = tmp("cur_verd4")
    val quarantine = tmp("cur_quar4")
    val decon = mkDecon()
    Dedup.saveLshIndex(role(0), k = 3, bands = 8, rowsPerBand = 4, idx,
      nBucketParts = 8)
    def drive() = DocStreams.processCurationBatch(role(1), 0L, idx, decon,
      verdicts, threshold = 0.05, maxContainment = 0.5,
      gate = Some(DocStreams.RepetitionGate()),
      quarantinePath = Some(quarantine),
      maxBucket = Some(3), compactEvery = 0, maxFilesPerPart = 8)
    drive()
    val committed = spark.read.parquet(quarantine)
      .orderBy(col("doc_id")).collect().map(_.toSeq).toSeq
    // simulate a crash AFTER the quarantine write but BEFORE the dedup
    // stage committed: delete the final marker (the quarantine
    // partition survives) and replay — the pure stages re-derive the
    // identical rows and dynamic overwrite replaces them in place
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new org.apache.hadoop.fs.Path(verdicts).toUri,
      spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(s"$verdicts/_committed/batch_0"),
      true)
    drive()
    val after = spark.read.parquet(quarantine)
      .orderBy(col("doc_id")).collect().map(_.toSeq).toSeq
    assert(after === committed,
      "replayed quarantine partition must be byte-identical rows")
  }

  test("decon re-save between committed batches is legal; inside a crash-replay window it fails loudly") {
    val idx = tmp("cur_idx6")
    val verdicts = tmp("cur_verd6")
    val decon = mkDecon()
    Dedup.saveLshIndex(role(0), k = 3, bands = 8, rowsPerBand = 4, idx,
      nBucketParts = 8)
    def drive(b: Int) = DocStreams.processCurationBatch(role(b + 1),
      b.toLong, idx, decon, verdicts, threshold = 0.05,
      maxContainment = 0.5, gate = Some(DocStreams.RepetitionGate()),
      quarantinePath = None, maxBucket = Some(3), compactEvery = 0,
      maxFilesPerPart = 8)
    drive(0)
    // re-save with a DIFFERENT benchmark BETWEEN committed batches —
    // the documented legal cadence; the next batch records the new
    // fingerprint and proceeds
    Dedup.saveDeconIndex(docsAll.where(pmod(col("doc_id"), lit(12)) === 10),
      k = 8, decon, nHashParts = 8)
    drive(1)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new org.apache.hadoop.fs.Path(verdicts).toUri,
      spark.sessionState.newHadoopConf())
    assert(fs.exists(
      new org.apache.hadoop.fs.Path(s"$verdicts/_committed/batch_1")))
    // crash window: batch 2 fully ran (verdicts sealed) but the final
    // commit marker is lost; the benchmark is then re-saved — the
    // replay must refuse, because its recomputed curated cohort is no
    // longer the one the sealed verdicts describe
    drive(2)
    fs.delete(new org.apache.hadoop.fs.Path(s"$verdicts/_committed/batch_2"),
      true)
    Dedup.saveDeconIndex(bench, k = 8, decon, nHashParts = 8)
    val ex = intercept[IllegalStateException] { drive(2) }
    assert(ex.getMessage.contains("crash-replay window"))
    // same-content re-save mid-window does NOT trip (fingerprint is
    // content, so the verdicts are still reconstructible): restore the
    // window's benchmark and the replay completes
    Dedup.saveDeconIndex(docsAll.where(pmod(col("doc_id"), lit(12)) === 10),
      k = 8, decon, nHashParts = 8)
    drive(2)
    assert(fs.exists(
      new org.apache.hadoop.fs.Path(s"$verdicts/_committed/batch_2")))
  }

  test("sealed verdicts with NO recorded fingerprint refuse to replay") {
    // the upgrade trap: a stream that crashed mid-window under the
    // pre-tripwire code has sealed verdicts but no _decon marker — the
    // index they were computed against is unknowable, so blessing the
    // live one would be the exact silent wrong-survivor append the
    // tripwire exists to stop
    val idx = tmp("cur_idx9")
    val verdicts = tmp("cur_verd9")
    val decon = mkDecon()
    Dedup.saveLshIndex(role(0), k = 3, bands = 8, rowsPerBand = 4, idx,
      nBucketParts = 8)
    def drive() = DocStreams.processCurationBatch(role(1), 0L, idx, decon,
      verdicts, threshold = 0.05, maxContainment = 0.5,
      gate = Some(DocStreams.RepetitionGate()), quarantinePath = None,
      maxBucket = Some(3), compactEvery = 0, maxFilesPerPart = 8)
    drive()
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new org.apache.hadoop.fs.Path(verdicts).toUri,
      spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(s"$verdicts/_committed/batch_0"),
      true)
    fs.delete(new org.apache.hadoop.fs.Path(s"$verdicts/_decon"), true)
    val ex = intercept[IllegalStateException] { drive() }
    assert(ex.getMessage.contains("no decon fingerprint is on record"))
    // an OLD-FORMAT marker (pre-versioning) is the other upgrade state:
    // the index may be untouched, but that can no longer be proven —
    // refuse must say the FORMAT is the problem, not claim the index
    // changed
    SinkMarkers.seal(fs, new org.apache.hadoop.fs.Path(
      s"$verdicts/_decon/batch_0_deadbeefdeadbeef"))
    val ex2 = intercept[IllegalStateException] { drive() }
    assert(ex2.getMessage.contains("predates the current fingerprint format"))
    fs.delete(new org.apache.hadoop.fs.Path(
      s"$verdicts/_decon/batch_0_deadbeefdeadbeef"), false)
    // the documented remediation completes the batch: discard the
    // verdict seal and partition so the replay recomputes everything
    // against the live index
    fs.delete(new org.apache.hadoop.fs.Path(s"$verdicts/_verdicts/batch_0"),
      true)
    fs.delete(new org.apache.hadoop.fs.Path(s"$verdicts/batch_id=0"), true)
    drive()
    assert(fs.exists(
      new org.apache.hadoop.fs.Path(s"$verdicts/_committed/batch_0")))
  }

  test("fingerprint change BEFORE the verdict seal re-records and proceeds") {
    val idx = tmp("cur_idx7")
    val verdicts = tmp("cur_verd7")
    val decon = mkDecon()
    Dedup.saveLshIndex(role(0), k = 3, bands = 8, rowsPerBand = 4, idx,
      nBucketParts = 8)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new org.apache.hadoop.fs.Path(verdicts).toUri,
      spark.sessionState.newHadoopConf())
    // a crash can land after the _decon marker but before anything is
    // sealed; a re-save in that window is safe (nothing derived from
    // the old index survives) — the marker must re-record, not throw
    SinkMarkers.seal(fs,
      new org.apache.hadoop.fs.Path(s"$verdicts/_decon/batch_0_deadbeef"))
    DocStreams.processCurationBatch(role(1), 0L, idx, decon, verdicts,
      threshold = 0.05, maxContainment = 0.5,
      gate = Some(DocStreams.RepetitionGate()), quarantinePath = None,
      maxBucket = Some(3), compactEvery = 0, maxFilesPerPart = 8)
    val markers = fs.listStatus(
      new org.apache.hadoop.fs.Path(s"$verdicts/_decon"))
      .map(_.getPath.getName).toSeq
    assert(!markers.contains("batch_0_deadbeef"), "stale marker replaced")
    assert(markers.count(_.startsWith("batch_0_")) === 1)
    assert(markers.exists(_ ===
      "batch_0_" + Dedup.deconIndexFingerprint(spark, decon)))
  }

  test("fingerprint re-record purges the superseded attempt's stale verdict/pairs partitions (empty recompute cannot commit around them)") {
    val idx = tmp("cur_idx9")
    val verdicts = tmp("cur_verd9")
    val decon = mkDecon()
    Dedup.saveLshIndex(role(0), k = 3, bands = 8, rowsPerBand = 4, idx,
      nBucketParts = 8)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new org.apache.hadoop.fs.Path(verdicts).toUri,
      spark.sessionState.newHadoopConf())
    // attempt 1 under a SUPERSEDED decon index: verdict + pairs
    // partitions written, fp marker recorded, crash BEFORE the verdict
    // seal — the one state where a fingerprint change legally proceeds
    Seq((999L, 1L, 5L, true)).toDF("doc_id", "n_matches", "match_id", "is_dup")
      .withColumn("batch_id", lit(0L))
      .write.partitionBy("batch_id").mode("overwrite").parquet(verdicts)
    Seq((999L, 5L)).toDF("bid", "cid").withColumn("batch_id", lit(0L))
      .write.partitionBy("batch_id").mode("overwrite")
      .parquet(s"$verdicts/_pairs")
    SinkMarkers.seal(fs,
      new org.apache.hadoop.fs.Path(s"$verdicts/_decon/batch_0_deadbeef"))
    // the replay's cohort curates to EMPTY (everything repetition-gated
    // at threshold 0.0): the recomputation writes NO verdict partition,
    // so without the purge the stale rows above would survive into a
    // committed batch — phantom verdicts under an unknowable index
    DocStreams.processCurationBatch(role(1), 0L, idx, decon, verdicts,
      threshold = 0.05, maxContainment = 0.5,
      gate = Some(DocStreams.RepetitionGate(maxCharFrac = 0.0)),
      quarantinePath = None, maxBucket = Some(3), compactEvery = 0,
      maxFilesPerPart = 8)
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      s"$verdicts/_committed/batch_0")), "the empty batch must commit")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$verdicts/batch_id=0")),
      "the superseded attempt's verdict partition must be purged")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$verdicts/_pairs/batch_id=0")),
      "the superseded attempt's pairs partition must be purged")
    // and the fp marker now records the LIVE index
    assert(SinkMarkers.suffixOf(fs,
      new org.apache.hadoop.fs.Path(s"$verdicts/_decon"), 0L)
      === Some(Dedup.deconIndexFingerprint(spark, decon)))
  }

  test("fingerprint re-record purges the superseded attempt's quarantine slice (a recompute that quarantines nothing cannot commit around it)") {
    val idx = tmp("cur_idx10")
    val verdicts = tmp("cur_verd10")
    val q = tmp("cur_q10")
    // the recomputation quarantines nothing, so its dynamic overwrite
    // writes no partition
    val decon = mkDisjointDecon()
    Dedup.saveLshIndex(role(0), k = 3, bands = 8, rowsPerBand = 4, idx,
      nBucketParts = 8)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new org.apache.hadoop.fs.Path(verdicts).toUri,
      spark.sessionState.newHadoopConf())
    // attempt 1 under a SUPERSEDED decon index quarantined doc 999 and
    // crashed before the verdict seal
    Seq((999L, "contamination")).toDF("doc_id", "stage")
      .withColumn("batch_id", lit(0L))
      .write.partitionBy("batch_id").mode("overwrite").parquet(q)
    SinkMarkers.seal(fs,
      new org.apache.hadoop.fs.Path(s"$verdicts/_decon/batch_0_deadbeef"))
    DocStreams.processCurationBatch(role(1), 0L, idx, decon, verdicts,
      threshold = 0.05, maxContainment = 0.5, gate = None,
      quarantinePath = Some(q), maxBucket = Some(3), compactEvery = 0,
      maxFilesPerPart = 8)
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      s"$verdicts/_committed/batch_0")), "the batch must commit")
    val slice = new org.apache.hadoop.fs.Path(s"$q/batch_id=0")
    assert(!fs.exists(slice) ||
      spark.read.parquet(slice.toString).where(col("doc_id") === 999L).isEmpty,
      "the superseded attempt's quarantine rows must be purged")
  }

  test("two coexisting fingerprint markers for one batch fail loudly (ambiguous record)") {
    val verdicts = tmp("cur_verd7b")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new org.apache.hadoop.fs.Path(verdicts).toUri,
      spark.sessionState.newHadoopConf())
    val dir = new org.apache.hadoop.fs.Path(s"$verdicts/_decon")
    // a failed stale-marker delete racing the new seal is the one way
    // two records for one batch can coexist; whichever listStatus
    // returned first used to win silently — the tripwire could then
    // refuse a valid replay or bless a stale fingerprint
    SinkMarkers.seal(fs,
      new org.apache.hadoop.fs.Path(dir, "batch_0_deadbeef"))
    SinkMarkers.seal(fs,
      new org.apache.hadoop.fs.Path(dir, "batch_0_cafebabe"))
    val ex = intercept[IllegalStateException] {
      SinkMarkers.suffixOf(fs, dir, 0L)
    }
    assert(ex.getMessage.contains("deadbeef") &&
      ex.getMessage.contains("cafebabe"), ex.getMessage)
    // other batch ids are unaffected
    assert(SinkMarkers.suffixOf(fs, dir, 1L) === None)
  }

  test("gcCurationMarkers prunes _decon markers; a pruned id still replays as a no-op") {
    val idx = tmp("cur_idx8")
    val verdicts = tmp("cur_verd8")
    val decon = mkDecon()
    Dedup.saveLshIndex(role(0), k = 3, bands = 8, rowsPerBand = 4, idx,
      nBucketParts = 8)
    def drive(b: Int) = DocStreams.processCurationBatch(role(b + 1),
      b.toLong, idx, decon, verdicts, threshold = 0.05,
      maxContainment = 0.5, gate = Some(DocStreams.RepetitionGate()),
      quarantinePath = None, maxBucket = Some(3), compactEvery = 0,
      maxFilesPerPart = 8)
    drive(0); drive(1)
    assert(DocStreams.gcSinkMarkers(spark, verdicts, upTo = 1L) === 1L)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new org.apache.hadoop.fs.Path(verdicts).toUri,
      spark.sessionState.newHadoopConf())
    val left = fs.listStatus(
      new org.apache.hadoop.fs.Path(s"$verdicts/_decon"))
      .map(_.getPath.getName).toSeq
    assert(!left.exists(_.startsWith("batch_0_")))
    assert(!left.exists(_.startsWith("batch_1_")))
    // floor covers the pruned ids: replay is a no-op even though the
    // decon marker (and fingerprint) is gone
    def state() = (
      spark.read.parquet(verdicts).orderBy(col("doc_id"))
        .collect().map(_.toSeq).toSeq,
      spark.read.parquet(s"$idx/docs").count())
    val before = state()
    drive(0)
    assert(state() === before)
    // the one GC serves every sink: on a registry-mode curation dir it
    // prunes the _decon and _pairs_sealed markers and the _pairs slices
    // together with _committed/_verdicts (the unsynthesized corpus
    // slices, ungated and uncontaminated, so batch 2 carries pairs)
    val idxR = tmp("cur_idx8r")
    val verdR = tmp("cur_verd8r")
    val reg = tmp("cur_reg8r") + "/reg"
    val deconR = mkDisjointDecon()
    def plain(b: Int) = docsAll.where(pmod(col("doc_id"), lit(12)) === b)
    Dedup.saveLshIndex(plain(0), k = 3, bands = 8, rowsPerBand = 4, idxR,
      nBucketParts = 8)
    graft.operators.Clusters.updateRegistry(spark, reg, -1L,
      plain(0).select(col("doc_id")),
      Seq.empty[(Long, Long)].toDF("bid", "cid"), nDocParts = 8)
    (0 to 2).foreach { b =>
      DocStreams.processCurationBatch(plain(b + 1), b.toLong, idxR, deconR,
        verdR, threshold = 0.05, maxContainment = 0.5, gate = None,
        quarantinePath = None, maxBucket = Some(3), compactEvery = 0,
        maxFilesPerPart = 8, registryPath = Some(reg))
    }
    def names(d: String, prefix: String) = fs.listStatus(
        new org.apache.hadoop.fs.Path(s"$verdR/$d"))
      .map(_.getPath.getName).filter(_.startsWith(prefix)).sorted.toSeq
    assert(names("_pairs_sealed", "batch_") === Seq("batch_0", "batch_1", "batch_2"))
    assert(names("_decon", "batch_").size === 3)
    assert(names("_pairs", "batch_id=").nonEmpty, "fixture must persist pair slices")
    assert(DocStreams.gcSinkMarkers(spark, verdR, upTo = 2L) === 2L)
    Seq("_committed", "_verdicts", "_decon", "_pairs_sealed").foreach { d =>
      assert(names(d, "batch_").isEmpty, s"$d still holds ${names(d, "batch_")}")
    }
    assert(names("_pairs", "batch_id=").isEmpty, "pair slices must be pruned")
  }

  test("empty batch and gate=None both commit cleanly") {
    val idx = tmp("cur_idx5")
    val verdicts = tmp("cur_verd5")
    val decon = mkDecon()
    Dedup.saveLshIndex(role(0), k = 3, bands = 8, rowsPerBand = 4, idx,
      nBucketParts = 8)
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    DocStreams.processCurationBatch(empty, 0L, idx, decon, verdicts,
      threshold = 0.05, maxContainment = 0.5, gate = None,
      quarantinePath = None, maxBucket = Some(3), compactEvery = 0,
      maxFilesPerPart = 8)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new org.apache.hadoop.fs.Path(verdicts).toUri,
      spark.sessionState.newHadoopConf())
    assert(fs.exists(
      new org.apache.hadoop.fs.Path(s"$verdicts/_committed/batch_0")))
    // gate=None: no repetition stage — decon still applies
    DocStreams.processCurationBatch(role(2), 1L, idx, decon, verdicts,
      threshold = 0.05, maxContainment = 0.5, gate = None,
      quarantinePath = None, maxBucket = Some(3), compactEvery = 0,
      maxFilesPerPart = 8)
    assert(spark.read.parquet(verdicts).count() > 0)
  }
}
