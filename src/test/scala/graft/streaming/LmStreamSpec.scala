package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark
import graft.operators.LmScore
import graft.operators.LmScore.{LmSpec, Smoothing}

/** The persisted-LM serving path: batch scoring against a saved model
  * must equal the in-memory train+score pipeline, and the streaming
  * enrich must equal the batch scorer against the same loaded model row
  * for row on the same arrivals with zero streaming state (the per-doc
  * fold is a stateless shell).
  */
case class DocRow(doc_id: Long, text: String)

class LmStreamSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def docs = graft.sources.Tables.documents(
    spark, "/root/testdata/sf0.001").select(col("doc_id"), col("text"))

  test("surprisalAgainstLm(savedLm) equals surprisal(train, docs) row for row") {
    val spec = LmSpec(Smoothing.AddHalf, perLang = false)
    val path = java.nio.file.Files.createTempDirectory("lm_art").toString
    LmScore.save(spec, docs, path)
    val direct = LmScore.score(LmScore.train(spec, docs), docs)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    val served = LmScore.score(LmScore.load(spark, spec, path), docs)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(served === direct)
    assert(served.nonEmpty)
  }

  test("streaming lmScoreEnrich equals batch surprisalAgainstLm; shells keep zero state") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val path = java.nio.file.Files.createTempDirectory("lm_art2").toString
    // train on the even docs, score the odd ones — OOV paths included
    LmScore.save(LmSpec(Smoothing.AddHalf, perLang = false),
      docs.where(col("doc_id") % 2 === 0), path)
    val arriving = docs.where(col("doc_id") % 2 === 1)
      .as[DocRow].collect().toSeq
    assert(arriving.nonEmpty)
    val input = MemoryStream[DocRow]
    val name = s"lmstream_${System.nanoTime()}"
    val q = DocStreams.lmScoreEnrich(input.toDF(), path)
      .writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    val (streamed, stateRows) =
      try {
        // two triggers: scoring is per-document, the split cannot matter
        input.addData(arriving.take(arriving.size / 2): _*)
        q.processAllAvailable()
        input.addData(arriving.drop(arriving.size / 2): _*)
        q.processAllAvailable()
        (spark.table(name).orderBy("doc_id").collect().map(_.toSeq).toSeq,
          Option(q.lastProgress)
            .map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(0L))
      } finally q.stop()
    val batch = LmScore.score(LmScore.load(spark,
        LmSpec(Smoothing.AddHalf, perLang = false), path), arriving.toDF())
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(streamed === batch)
    assert(streamed.nonEmpty)
    assert(stateRows === 0L, s"expected stateless shells, got $stateRows rows")
  }

  /** Per-language targets of estimator `smoothing` trained on the even
    * docs; the odd docs arrive on the stream — seen-bigram, backoff and
    * unseen-w1 arms all exercised — plus one doc under a language NO
    * model was trained for (the lp-0 no-opinion arm). Streamed rows must
    * equal the batch scorer against the loaded model, with zero state. */
  private def perLangStreamParity(smoothing: Smoothing, noModelId: Long): Unit = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val spec = LmSpec(smoothing, perLang = true)
    val path = java.nio.file.Files.createTempDirectory("pllm_stream").toString
    val all = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("lang"), col("text"))
    LmScore.save(spec, all.where(col("doc_id") % 2 === 0), path)
    val arriving = all.where(col("doc_id") % 2 === 1)
      .as[(Long, String, String)].collect().toSeq :+
      ((noModelId, "xx", "some words never modelled"))
    val input = MemoryStream[(Long, String, String)]
    val name = s"pllmstream_${System.nanoTime()}"
    val q = DocStreams.lmScoreEnrichPerLang(
        input.toDF().toDF("doc_id", "lang", "text"), path, smoothing)
      .writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    val (streamed, stateRows) =
      try {
        input.addData(arriving.take(arriving.size / 2): _*)
        q.processAllAvailable()
        input.addData(arriving.drop(arriving.size / 2): _*)
        q.processAllAvailable()
        (spark.table(name).orderBy("doc_id").collect().map(_.toSeq).toSeq,
          Option(q.lastProgress)
            .map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(0L))
      } finally q.stop()
    val batch = LmScore.score(LmScore.load(spark, spec, path),
        arriving.toDF("doc_id", "lang", "text"))
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(streamed === batch)
    assert(streamed.nonEmpty)
    // the no-model lang took the 0L arm on BOTH engines
    assert(streamed.exists(r => r.head == noModelId && r(3) == 0L))
    assert(stateRows === 0L, s"expected stateless shells, got $stateRows rows")
  }

  test("streaming lmScoreEnrichPerLang equals batch surprisalAgainstLmPerLang incl. the no-model lang; zero state") {
    perLangStreamParity(Smoothing.AddHalf, 900001L)
  }

  test("streaming lmScoreEnrichKnPerLang equals batch surprisalKnAgainstLmPerLang incl. the no-model lang; zero state") {
    perLangStreamParity(Smoothing.Kn, 900002L)
  }

  test("streaming lmScoreEnrichMknPerLang equals batch surprisalMknAgainstLmPerLang incl. the no-model lang; zero state") {
    perLangStreamParity(Smoothing.Mkn, 900003L)
  }

  test("streaming langIdEnrich equals batch predictAgainstLangId row for row; zero state") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val path = java.nio.file.Files.createTempDirectory("lid_stream").toString
    val all = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("lang"), col("text"))
    // classifier trained on the even docs' labels; odd docs arrive
    // unlabeled on the stream — the c13 front half, continuous
    graft.operators.LangId.saveLangId(
      all.where(col("doc_id") % 2 === 0).select(col("lang"), col("text")),
      path)
    val arriving = all.where(col("doc_id") % 2 === 1)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().toSeq
    val input = MemoryStream[(Long, String)]
    val name = s"lidstream_${System.nanoTime()}"
    val q = DocStreams.langIdEnrich(
        input.toDF().toDF("doc_id", "text"), path)
      .writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    val (streamed, stateRows) =
      try {
        input.addData(arriving.take(arriving.size / 2): _*)
        q.processAllAvailable()
        input.addData(arriving.drop(arriving.size / 2): _*)
        q.processAllAvailable()
        (spark.table(name).orderBy("doc_id").collect().map(_.toSeq).toSeq,
          Option(q.lastProgress)
            .map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(0L))
      } finally q.stop()
    val batch = graft.operators.LangId.predictAgainstLangId(
        arriving.toDF("doc_id", "text"), spark, path)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(streamed === batch)
    assert(streamed.nonEmpty)
    assert(stateRows === 0L, s"expected stateless shells, got $stateRows rows")
  }
}
