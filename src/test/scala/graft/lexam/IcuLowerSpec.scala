package graft.lexam

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, StructField, StructType}
import graft.TestSpark
import graft.lexam.pipeline.LexamStore

/** `IcuLower` returns the bytes Spark's `lower()` returns, generated and
  * interpreted, for ASCII, non-ASCII letters with special case rules and
  * invalid UTF-8. */
class IcuLowerSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val inputs: Seq[Array[Byte]] = Seq(
    "Plain ASCII, MiXeD 123 !?", "", "ÄÖÜ Straße", "STRASSE ß ẞ", "ΟΔΟΣ Σ ΣΑ", "İstanbul İ",
    "Ǆ ǅ ǆ", "𐐀 Deseret").map(_.getBytes("UTF-8")) ++ Seq(
    Array[Byte](0x41, 0xff.toByte, 0x42), // invalid start byte
    Array[Byte](0xc3.toByte, 0x41),        // truncated two-byte sequence
    Array[Byte](0xe2.toByte, 0x82.toByte), // truncated three-byte sequence at the end
    Array[Byte](0xed.toByte, 0xa0.toByte, 0x80.toByte, 0x5a)) // encoded surrogate

  private def lowered(session: SparkSession): Seq[(Seq[Byte], Seq[Byte])] =
    session.createDataFrame(java.util.List.of(inputs.map(b => Row(b)): _*),
        StructType(Seq(StructField("b", BinaryType))))
      .repartition(1) // no local-relation folding: the projection runs in a plan
      .select(col("b").cast("string").as("s"))
      .select(lower(col("s")).cast("binary"), IcuLower.lower(session, "s").cast("binary"))
      .collect().toSeq.map(r => (r.getAs[Array[Byte]](0).toSeq, r.getAs[Array[Byte]](1).toSeq))

  test("icu_lower equals lower() byte for byte, generated and interpreted") {
    val interpreted = new LexamStore(spark,
      java.nio.file.Files.createTempDirectory("icu_lower").toString).spark
    for ((name, session) <- Seq("generated" -> spark, "interpreted" -> interpreted)) {
      val rows = lowered(session)
      assert(rows.size === inputs.size)
      rows.zip(inputs).foreach { case ((theirs, ours), in) =>
        assert(ours === theirs, s"$name: ${in.map(b => f"$b%02x").mkString(" ")}")
      }
    }
  }

  test("null in, null out") {
    val r = spark.range(1).select(lit(null).cast("string").as("s"))
      .select(IcuLower.lower(spark, "s")).head()
    assert(r.isNullAt(0))
  }
}
