package graft.sources

import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DataType, StructType}

/** One table of a persisted [[Artifact]]: directory under the root,
  * stated DDL (data columns in file order, then partition columns in
  * directory order) and partition columns. Reads state the schema — no
  * per-read footer inference, empty tables load, partition values keep
  * their stated types; the writer refuses a frame whose column types
  * differ, so a drifted writer fails at save time instead of loading as
  * NULL columns at probe time. */
final case class Table(dir: String, ddl: String, partitionBy: String*) {
  val schema: StructType = StructType.fromDDL(ddl)

  def at(root: String): String = s"$root/$dir"

  def read(spark: SparkSession, root: String): DataFrame =
    spark.read.schema(schema).parquet(at(root))

  /** `df`'s stated columns in stated order, partitioned as stated; the
    * caller adds `.mode`/`.option` and the table path. */
  def writer(df: DataFrame): DataFrameWriter[Row] = {
    schema.fields.foreach { f =>
      val got = df.schema.find(_.name == f.name).getOrElse(throw
        new IllegalArgumentException(s"$dir: no column ${f.name} (stated: $ddl)"))
      if (!DataType.equalsStructurally(got.dataType, f.dataType,
            ignoreNullability = true))
        throw new IllegalArgumentException(s"$dir: column ${f.name} is " +
          s"${got.dataType.sql}, stated ${f.dataType.sql} ($ddl)")
    }
    val w = df.select(schema.fieldNames.toSeq.map(col): _*).write
    if (partitionBy.isEmpty) w else w.partitionBy(partitionBy: _*)
  }

  /** Overwrite the table at `path` with one row of stated-typed values. */
  def writeRow(spark: SparkSession, path: String, values: Any*): Unit =
    writer(spark.createDataFrame(java.util.List.of(Row(values: _*)), schema)
      .coalesce(1)).mode("overwrite").parquet(path)

  /** Restore or drop what a crashed [[TableSwap]] swap of the table left. */
  def recover(spark: SparkSession, root: String): Unit =
    TableSwap.recover(Hdfs.forPath(spark, root), root, dir)

  /** Replace the live table with `rows` (evaluated after recovering an
    * earlier swap's crash leftovers) through the [[TableSwap]] swap. */
  def rewrite(spark: SparkSession, root: String)(rows: => DataFrame): Unit = {
    recover(spark, root)
    TableSwap.rewrite(spark, Hdfs.forPath(spark, root), root, dir)(writer(rows).parquet(_))
  }

  /** Replace partition `value` of the first partition column with `f`
    * of its rows (stated data columns) through the [[TableSwap]] swap,
    * run inside the table dir; an absent partition stays absent. */
  def rewritePartition(spark: SparkSession, root: String, value: Any)(
      f: DataFrame => DataFrame): Unit = {
    val (fs, part) = recoverPartition(spark, root, value)
    if (fs.exists(part)) TableSwap.rewrite(spark, fs, at(root), part.getName)(
      f(spark.read.schema(StructType(schema.filterNot(c => partitionBy.contains(c.name))))
        .parquet(part.toString)).write.parquet(_))
  }

  /** Delete partition `value` of the first partition column, and with it
    * any copy a crashed swap staged aside, which would otherwise be
    * restored by the next rewrite. */
  def dropPartition(spark: SparkSession, root: String, value: Any): Unit = {
    val (fs, part) = recoverPartition(spark, root, value)
    fs.delete(part, true)
  }

  private def recoverPartition(spark: SparkSession, root: String, value: Any) = {
    val (fs, part) = (Hdfs.forPath(spark, root), s"${partitionBy.head}=$value")
    TableSwap.recover(fs, at(root), part)
    (fs, new org.apache.hadoop.fs.Path(at(root), part))
  }

  /** [[Compaction.compactPartitions]] over the first partition column. */
  def compact(spark: SparkSession, root: String, maxFilesPerPart: Int,
              targetFiles: Int = 1): Seq[String] =
    Compaction.compactPartitions(spark, at(root), s"${partitionBy.head}=",
      maxFilesPerPart, targetFiles)
}

/** The on-disk contract of one persisted family (every index, model and
  * registry): its tables and the commit-marker table whose presence
  * makes a root a saved `family`, written by `saver`. */
final case class Artifact(family: String, saver: String, marker: String)(
    val tables: Table*) {
  def apply(dir: String): Table = tables.find(_.dir == dir).get

  def isSaved(spark: SparkSession, root: String): Boolean =
    Hdfs.forPath(spark, root)
      .exists(new org.apache.hadoop.fs.Path(apply(marker).at(root)))

  def requireSaved(spark: SparkSession, root: String): Unit =
    require(isSaved(spark, root),
      s"$root is not a saved $family (no $marker/ — see $saver)")

  /** The marker's row, stated schema; read its fields by name. */
  def meta(spark: SparkSession, root: String): Row = {
    requireSaved(spark, root)
    apply(marker).read(spark, root).head()
  }

  /** Whether the marker's parquet footer carries every stated marker
    * column — tells apart families sharing directory names (LSH and
    * Hamming both have `bands/` + `meta/`) with one footer read. */
  def holds(spark: SparkSession, root: String): Boolean =
    isSaved(spark, root) && {
      val stored = spark.read.parquet(apply(marker).at(root)).schema.fieldNames
      apply(marker).schema.fieldNames.forall(stored.contains)
    }
}
