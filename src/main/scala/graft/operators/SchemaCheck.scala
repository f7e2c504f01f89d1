package graft.operators
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev-only: builds the cluster registry and the decon index at sf0.001
  * and prints the schema parquet inference would produce — the source
  * of truth for the STATED schemas in their loaders. Re-run after
  * changing either writer and diff against the stated DDL strings: a
  * drift would otherwise surface as misread columns at probe time. The
  * LmScore and LangId layouts are checked by LmSchemaDriftSpec. */
object SchemaCheck {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.ui.enabled","false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.Registry.registerAll(spark)
    val dir = "/root/testdata/sf0.001"
    val docs = graft.sources.Tables.documents(spark, dir)
    def show(root: String, tables: Seq[String]): Unit = tables.foreach { t =>
      println(s"SCHEMA $root/$t: " + spark.read.parquet(s"$root/$t").schema.toDDL)
    }
    val d6 = java.nio.file.Files.createTempDirectory("sc_reg").toString
    Clusters.updateRegistry(spark, d6, 0L, docs.select(col("doc_id")).limit(50),
      spark.range(0).select(col("id").as("bid"), col("id").as("cid")), nDocParts = 4)
    show(d6, Seq("members","remaps","meta"))
    val d7 = java.nio.file.Files.createTempDirectory("sc_dc").toString
    Dedup.saveDeconIndex(docs.select(col("doc_id"), col("text")), 8, d7)
    new java.io.File(d7).listFiles().filter(_.isDirectory)
      .map(_.getName).sorted.foreach(t => show(d7, Seq(t)))
    spark.stop()
  }
}
