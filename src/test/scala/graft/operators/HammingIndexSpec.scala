package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

/** The persisted Hamming-band index lifecycle (m7/d19): save → probe →
  * append survivors → compact, the d14 discipline applied to ≤64-bit
  * fingerprints. Probes must be exact (XOR-popcount verify), read ONE
  * DPP-pruned band scan, agree with the in-memory banding machinery,
  * see appended docs, never self-match, and be invariant under
  * compaction.
  */
class HammingIndexSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // bits=16, bands=4 → 4-bit fields; hand-checkable fingerprints
  private def corpus = Seq(
    (1L, 0x0000L), (2L, 0xFFFFL), (3L, 0x0F0FL)).toDF("media_id", "fp")
  private def batch = Seq(
    (10L, 0x0001L), // dist 1 from id 1 → dup
    (11L, 0x00FFL), // band-collides with id 1 (high fields) but dist 8 → verify kills
    (12L, 0xFFFEL), // dist 1 from id 2 → dup
    (13L, 0x1234L)  // no band collision with anything → not even a candidate
  ).toDF("media_id", "fp")

  private def newIdx() =
    java.nio.file.Files.createTempDirectory("hamming_idx").toString

  private def verdicts(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1),
      if (r.isNullAt(2)) -1L else r.getLong(2), r.getBoolean(3))).toSeq

  test("probe verdicts are exact: popcount-verified matches, non-candidates and failed verifies clean") {
    val idx = newIdx()
    Dedup.saveHammingIndex(corpus, "media_id", "fp", bits = 16, bands = 4,
      idx, nBucketParts = 8)
    val probed = Dedup.dedupAgainstHammingIndex(batch, "media_id", "fp",
      idx, maxDist = 3)
    assert(verdicts(probed) === Seq(
      (10L, 1L, 1L, true), (11L, 0L, -1L, false),
      (12L, 1L, 2L, true), (13L, 0L, -1L, false)))
  }

  test("probe reads ONE band scan and it is DPP-pruned; probe pairs equal the in-memory banding machinery") {
    // corpus-scale shape: fingerprints derived from the documents
    // table, batch = a filtered slice (the selective predicate DPP
    // keys off, exactly how a real arrivals probe looks); 16-bit fps
    // over 500 docs make random ≤3-bit collisions plentiful
    val fps = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id").as("media_id"),
        xxhash64(col("text")).bitwiseAND(lit(0xFFFFL)).as("fp"))
    val corpusFps = fps.where(pmod(col("media_id"), lit(11)) =!= 0)
    val batchFps = fps.where(pmod(col("media_id"), lit(11)) === 0)
    val idx = newIdx()
    Dedup.saveHammingIndex(corpusFps, "media_id", "fp", bits = 16, bands = 4,
      idx, nBucketParts = 8)
    val pairs = Dedup.hammingPairsAgainstIndex(batchFps, "media_id", "fp",
      idx, maxDist = 3)
    // the in-memory form over the union, restricted to cross pairs
    val batchIds = batchFps.select("media_id").as[Long].collect().toSet
    val inMem = Dedup.hammingNearDupPairs(corpusFps.unionByName(batchFps),
        "media_id", "fp", bits = 16, maxDist = 3, bands = 4)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .filter(p => batchIds(p._1) != batchIds(p._2))
      .map(p => if (batchIds(p._1)) (p._1, p._2, p._3) else (p._2, p._1, p._3))
      .toSet
    assert(pairs.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getInt(2))).toSet === inMem)
    assert(inMem.nonEmpty)
    // ONE corpus-side file scan, and the join carries the partition
    // column so dynamic partition pruning restricts it to the batch's
    // own buckets (pre-AQE plan: AdaptiveSparkPlanExec hides scans)
    val scans = pairs.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.toString.contains("bands")) => s
    }
    assert(scans.size === 1, pairs.queryExecution.sparkPlan.toString)
    val plan = pairs.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"), plan)
  }

  test("append: later probes match appended survivors; re-probing an appended batch never self-matches") {
    val idx = newIdx()
    Dedup.saveHammingIndex(corpus, "media_id", "fp", bits = 16, bands = 4,
      idx, nBucketParts = 8)
    val probed = Dedup.dedupAgainstHammingIndex(batch, "media_id", "fp",
      idx, maxDist = 3).localCheckpoint()
    val survivors = batch.join(
      probed.where(!col("is_dup")).select(col("media_id")), "media_id")
    Dedup.appendToHammingIndex(survivors, "media_id", "fp", idx)
    // batch 2: 0x00FE is dist 1 from appended survivor 11 (0x00FF) —
    // the append is load-bearing; 0x4321 matches nothing
    val batch2 = Seq((20L, 0x00FEL), (21L, 0x4321L)).toDF("media_id", "fp")
    val probed2 = Dedup.dedupAgainstHammingIndex(batch2, "media_id", "fp",
      idx, maxDist = 3)
    assert(verdicts(probed2) === Seq((20L, 1L, 11L, true),
      (21L, 0L, -1L, false)))
    // idempotent resume: append batch2 too, re-probe it — no row may
    // match itself; 20 still matches 11, 21 still matches nothing
    Dedup.appendToHammingIndex(batch2, "media_id", "fp", idx)
    val reprobe = Dedup.dedupAgainstHammingIndex(batch2, "media_id", "fp",
      idx, maxDist = 3)
    assert(verdicts(reprobe) === Seq((20L, 1L, 11L, true),
      (21L, 0L, -1L, false)))
  }

  test("compaction: append-grown partitions shrink to one file, probe verdicts bit-identical") {
    val idx = newIdx()
    Dedup.saveHammingIndex(corpus, "media_id", "fp", bits = 16, bands = 4,
      idx, nBucketParts = 4)
    Dedup.appendToHammingIndex(batch, "media_id", "fp", idx)
    Dedup.appendToHammingIndex(
      Seq((30L, 0x0003L)).toDF("media_id", "fp"), "media_id", "fp", idx)
    val probeDf = Seq((40L, 0x0002L)).toDF("media_id", "fp")
    val before = verdicts(Dedup.dedupAgainstHammingIndex(probeDf, "media_id",
      "fp", idx, maxDist = 3))
    def filesPerPart(): Map[String, Int] = {
      val fs = graft.sources.Hdfs.forPath(spark, idx)
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$idx/bands"))
        .filter(st => st.isDirectory && st.getPath.getName.startsWith("part="))
        .map(st => st.getPath.getName ->
          fs.listStatus(st.getPath).count(_.getPath.getName.endsWith(".parquet")))
        .toMap
    }
    assert(filesPerPart().values.exists(_ > 1), filesPerPart().toString)
    val rewritten = Dedup.compactHammingBands(spark, idx, maxFilesPerPart = 1)
    assert(rewritten.nonEmpty)
    assert(filesPerPart().values.forall(_ == 1), filesPerPart().toString)
    val after = verdicts(Dedup.dedupAgainstHammingIndex(probeDf, "media_id",
      "fp", idx, maxDist = 3))
    assert(after === before)
    // 0x0002 matches corpus 1 (0x0000, dist 1) and the appended 10
    // (0x0001, dist 2) and 30 (0x0003, dist 1) — all three slices of
    // the index answered through the compaction
    assert(after === Seq((40L, 3L, 1L, true)))
  }

  test("maxBucket: a hot bucket is skipped (the flat-image guard), a pair whose OTHER band bucket is small survives the cap, and an uncapped probe is unchanged") {
    // bits=56, bands=4 → 14-bit fields. The hot family: 100 residents
    // sharing band-0 field 5 with DISTINCT upper fields (so only the
    // band-0 bucket is hot); resident 500 shares that hot band-0
    // bucket AND has unique upper fields the probe can collide in.
    val hot = (0L until 100L).map(i => (i,
      5L | ((i * 4 + 1) << 14) | ((i * 8 + 3) << 28) | ((i * 16 + 7) << 42)))
    val residentA = (500L,
      5L | (9999L << 14) | (8888L << 28) | (7777L << 42))
    // the all-identical family: every band bucket hot
    val flat = (1000L until 1100L).map(i => (i, 0x00FACADEL))
    val idx = newIdx()
    Dedup.saveHammingIndex(
      ((hot :+ residentA) ++ flat).toDF("media_id", "fp"),
      "media_id", "fp", bits = 56, bands = 4, idx, nBucketParts = 8)
    // probe P: differs from resident 500 only in field 3 by one bit
    // (dist 1 — a true near-dup whose FIRST colliding band is the hot
    // one); probe R: identical to the flat family (dist 0 to 100 rows)
    val probe = Seq(
      (9000L, 5L | (9999L << 14) | (8888L << 28) | ((7777L ^ 1L) << 42)),
      (9001L, 0x00FACADEL)).toDF("media_id", "fp")
    def run(cap: Option[Int]) = verdicts(
      Dedup.dedupAgainstHammingIndex(probe, "media_id", "fp", idx,
        maxDist = 3, maxBucket = cap))
    val uncapped = run(None)
    assert(uncapped === Seq((9000L, 1L, 500L, true), (9001L, 100L, 1000L, true)))
    val capped = run(Some(10))
    // P still finds 500 via the SMALL band-1/2 buckets (the capped arm
    // keeps a pair if ANY under-cap bucket holds it — first-band
    // dedup would have lost this recall); R's every bucket is hot, so
    // the flat family is skipped: the documented recall trade
    assert(capped === Seq((9000L, 1L, 500L, true), (9001L, 0L, -1L, false)))
  }

  test("maxBucket on the one-shot self-join: flat family's quadratic bucket skipped, cross-band pair kept, uncapped unchanged") {
    // same geometry as the probe-cap fixture, one-shot form: pair
    // (500, 501) first-collides in the hot band-0 bucket but also
    // collides in small band-1/2 buckets; the flat family pairs only
    // within its own (hot) buckets
    val hot = (0L until 50L).map(i => (i,
      5L | ((i * 4 + 1) << 14) | ((i * 8 + 3) << 28) | ((i * 16 + 7) << 42)))
    val pairA = Seq(
      (500L, 5L | (9999L << 14) | (8888L << 28) | (7777L << 42)),
      (501L, 5L | (9999L << 14) | (8888L << 28) | ((7777L ^ 1L) << 42)))
    val flat = (1000L until 1020L).map(i => (i, 0x00FACADEL))
    val fps = (hot ++ pairA ++ flat).toDF("media_id", "fp")
    def run(cap: Option[Int]) = Dedup.hammingNearDupPairs(fps, "media_id",
        "fp", bits = 56, maxDist = 3, bands = 4, maxBucket = cap)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val uncapped = run(None)
    assert(uncapped.contains((500L, 501L)))
    assert(uncapped.count { case (a, b) => a >= 1000L && b >= 1000L } ===
      20 * 19 / 2, "flat family pairs quadratically when uncapped")
    val capped = run(Some(10))
    assert(capped === Seq((500L, 501L)),
      "cap must keep the cross-band pair and skip the flat family")
  }

  test("probe on a path without meta fails loudly") {
    val idx = newIdx()
    val e = intercept[IllegalArgumentException] {
      Dedup.dedupAgainstHammingIndex(batch, "media_id", "fp", idx, maxDist = 3)
    }
    assert(e.getMessage.contains("saveHammingIndex"))
  }

  test("an INT-typed id column fails at save and at probe, naming the column") {
    val intIds = corpus.select(col("media_id").cast("int").as("media_id"),
      col("fp"))
    val atSave = intercept[IllegalArgumentException] {
      Dedup.saveHammingIndex(intIds, "media_id", "fp", bits = 16, bands = 4,
        newIdx(), nBucketParts = 8)
    }
    assert(atSave.getMessage.contains("column media_id must be BIGINT"),
      atSave.getMessage)
    val idx = newIdx()
    Dedup.saveHammingIndex(corpus, "media_id", "fp", bits = 16, bands = 4,
      idx, nBucketParts = 8)
    val atProbe = intercept[IllegalArgumentException] {
      Dedup.dedupAgainstHammingIndex(
        batch.select(col("media_id").cast("int").as("media_id"), col("fp")),
        "media_id", "fp", idx, maxDist = 3)
    }
    assert(atProbe.getMessage.contains("column media_id must be BIGINT"),
      atProbe.getMessage)
  }
}
