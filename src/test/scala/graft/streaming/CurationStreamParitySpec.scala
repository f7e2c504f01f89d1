package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark
import graft.operators.{Clusters, Dedup, LmScore}

/** The continuous-curation shape a production trainer runs, COMPOSED:
  * arriving docs stream through the registry-mode dedup sink
  * (persisted LSH index + cluster registry) while the same arrivals
  * stream through the LM quality enrich against a persisted
  * target-domain LM — the curation record per doc is (dedup verdict,
  * LM score). Both legs already have their own parity specs
  * (IndexedDedupSinkSpec, LmStreamSpec); this one pins the composition
  * over the c6 corpus/batch split: streamed verdicts ⋈ streamed scores
  * must equal the manual batch twin (probe → append loop ⋈
  * surprisalAgainstLm) row for row, across all three batches.
  */
class CurationStreamParitySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def docsAll = graft.sources.Tables
    .documents(spark, "/root/testdata/sf0.001")
    .select(col("doc_id"), col("text"))

  private def role(b: Int) = docsAll.where(pmod(col("doc_id"), lit(12)) === b)

  private def tmp(p: String) =
    java.nio.file.Files.createTempDirectory(p).toString

  test("registry-mode sink + LM enrich composed: streamed curation records equal the batch twin row for row") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val (streamIdx, twinIdx) = (tmp("cur_idxS"), tmp("cur_idxT"))
    val verd = tmp("cur_verd")
    val reg = tmp("cur_reg") + "/reg"
    val lmPath = tmp("cur_lm")
    // corpus slice: seeds BOTH indexes, pre-registers the registry
    // (reserved batch -1, as the sink scaladoc requires), and trains
    // the persisted target-domain LM the enrich leg scores against
    Dedup.saveLshIndex(role(0), k = 3, bands = 8, rowsPerBand = 4,
      streamIdx, nBucketParts = 8)
    Dedup.saveLshIndex(role(0), k = 3, bands = 8, rowsPerBand = 4,
      twinIdx, nBucketParts = 8)
    Clusters.updateRegistry(spark, reg, -1L, role(0).select(col("doc_id")),
      Seq.empty[(Long, Long)].toDF("bid", "cid"), nDocParts = 8)
    val lmSpec = LmScore.LmSpec(LmScore.Smoothing.AddHalf, perLang = false)
    LmScore.save(lmSpec, role(0), lmPath)

    // two streaming legs off the same arrivals (production: two
    // queries on one topic): dedup sink in registry mode, LM enrich
    val dedupIn = MemoryStream[StreamDoc]
    val lmIn = MemoryStream[DocRow]
    val qDedup = DocStreams.indexedDedupSink(dedupIn.toDF(), streamIdx, verd,
        threshold = 0.05, maxBucket = Some(3), compactEvery = 2,
        registryPath = Some(reg))
      .option("checkpointLocation", tmp("cur_ckptD")).start()
    val lmTable = s"cur_lm_scores_${System.nanoTime()}"
    val qLm = DocStreams.lmScoreEnrich(lmIn.toDF(), lmPath)
      .writeStream.format("memory").queryName(lmTable)
      .option("checkpointLocation", tmp("cur_ckptL"))
      .outputMode("append").start()
    try {
      (1 to 3).foreach { b =>
        val rows = role(b).as[(Long, String)].collect()
        dedupIn.addData(rows.map(t => StreamDoc(t._1, t._2)): _*)
        lmIn.addData(rows.map(t => DocRow(t._1, t._2)): _*)
        qDedup.processAllAvailable()
        qLm.processAllAvailable()
      }
    } finally { qDedup.stop(); qLm.stop() }

    // composed streamed record: verdict ⋈ score (LEFT join — sub-2-token
    // docs carry no LM row on either side, by the documented rule)
    val streamed = spark.read.parquet(verd)
      .select(col("batch_id"), col("doc_id"), col("n_matches"),
        col("match_id"), col("is_dup"))
      .join(spark.table(lmTable), Seq("doc_id"), "left_outer")
      .orderBy(col("batch_id"), col("doc_id"))
      .collect().map(_.toSeq).toSeq

    // manual batch twin: the c6 probe → append loop, scores from the
    // same persisted LM via the batch scorer
    val twin = (1 to 3).flatMap { b =>
      val probed = Dedup.dedupAgainstLshIndex(role(b), twinIdx,
        threshold = 0.05, maxBucket = Some(3)).localCheckpoint()
      Dedup.appendToLshIndex(
        role(b).join(probed.where(!col("is_dup")).select(col("doc_id")),
          "doc_id"), twinIdx)
      probed.withColumn("batch_id", lit((b - 1).toLong))
        .select(col("batch_id"), col("doc_id"), col("n_matches"),
          col("match_id"), col("is_dup"))
        .join(LmScore.score(LmScore.load(spark, lmSpec, lmPath), role(b)),
          Seq("doc_id"), "left_outer")
        .orderBy(col("doc_id"))
        .collect().map(_.toSeq).toSeq
    }.toSeq
    assert(streamed === twin)
    assert(streamed.nonEmpty)
    // the composition must actually exercise both legs: some dup
    // verdicts, and some scored docs
    assert(streamed.exists(r => r(4) == true),
      "fixture produced no duplicate verdicts")
    assert(streamed.exists(r => r(5) != null),
      "fixture produced no LM-scored docs")
    // and the registry leg is live: every arriving doc resolves
    val resolved = Clusters.resolvedClusters(spark, reg)
      .collect().map(_.getLong(0)).toSet
    val arrived = (1 to 3).flatMap(b =>
      role(b).collect().map(_.getLong(0))).toSet
    assert(arrived.subsetOf(resolved),
      s"registry is missing ${(arrived -- resolved).size} arrived docs")
  }
}
