package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
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

  /** Restore or drop what a crashed [[TableSwap]] swap left: of the
    * whole table, then of each of its partitions. A compaction stages
    * partitions aside inside the table dir, where a whole-table read
    * skips them, so a rewrite that did not restore them first would
    * delete them with the old table. */
  def recover(spark: SparkSession, root: String): Unit = {
    val fs = Hdfs.forPath(spark, root)
    TableSwap.recover(fs, root, dir)
    if (partitionBy.nonEmpty && fs.exists(new HPath(at(root))))
      TableSwap.leftovers(fs, at(root)).foreach(TableSwap.recover(fs, at(root), _))
  }

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
    (fs, new HPath(at(root), part))
  }

  /** Small-file compaction over the first partition column — the
    * maintenance pass every append-grown index needs (IVF cells, LSH
    * bands, decon hashes): each appended batch adds at least one file
    * per touched partition, and probe scans go metadata-bound once
    * partitions hold hundreds of tiny files. [[recover]]s every swap
    * a crash left of the table or its partitions, then rewrites each partition
    * holding more than `maxFilesPerPart` parquet files into one file:
    * ALL of them in ONE Spark job (hash-repartitioning on the partition
    * column gives each partition one task, hence one file) into a
    * `.`-prefixed batch dir inside the table dir, which reads skip and
    * the next entry drops after a crash. Each partition is then
    * installed through the [[TableSwap]] swap. Content is never
    * changed, only row layout: readers see identical rows before and
    * after. Returns the compacted partition values. */
  def compact(spark: SparkSession, root: String, maxFilesPerPart: Int): Seq[String] = {
    require(maxFilesPerPart >= 1)
    val fs = Hdfs.forPath(spark, root)
    recover(spark, root)
    val dir = tableDir(fs, root)
    val batch = batchDir(dir)
    fs.delete(batch, true)
    val frag = fragmented(fs, dir, maxFilesPerPart)
    if (frag.nonEmpty) {
      spark.read.schema(schema).option("basePath", at(root))
        .parquet(frag.map(_.toString): _*)
        .repartition(frag.length, col(partitionBy.head))
        .write.partitionBy(partitionBy.head).mode("overwrite").parquet(batch.toString)
      frag.foreach { part =>
        TableSwap.rewrite(spark, fs, at(root), part.getName) { tmp =>
          if (!fs.rename(new HPath(batch, part.getName), new HPath(tmp)))
            throw new java.io.IOException(
              s"batched compaction rewrite produced no dir for $part")
        }
      }
      fs.delete(batch, true)
      // Spark caches parquet file listings per path: readers opened
      // after the rewrite would otherwise chase deleted files
      spark.catalog.refreshByPath(at(root))
    }
    frag.map(_.getName.stripPrefix(s"${partitionBy.head}="))
  }

  /** What [[compact]] would do now: whether a crashed swap or batch
    * left leftovers in the table dir, and how many partitions hold more
    * than `maxFilesPerPart` parquet files. Read-only; callers that take
    * a reader-visible bracket around the compaction (the decon
    * nightly's `_compacting` marker) skip it on healthy nights. */
  def compactionWork(spark: SparkSession, root: String,
                     maxFilesPerPart: Int): (Boolean, Int) = {
    val fs = Hdfs.forPath(spark, root)
    val dir = tableDir(fs, root)
    (TableSwap.leftovers(fs, at(root)).nonEmpty || fs.exists(batchDir(dir)),
      fragmented(fs, dir, maxFilesPerPart).size)
  }

  private def batchDir(dir: HPath) = new HPath(dir, ".compact_batch")

  private def tableDir(fs: FileSystem, root: String): HPath = {
    val dir = new HPath(at(root))
    require(fs.exists(dir), s"no partitioned table at $dir")
    dir
  }

  private def fragmented(fs: FileSystem, dir: HPath, maxFilesPerPart: Int): Seq[HPath] =
    fs.listStatus(dir).toSeq.filter(_.isDirectory).map(_.getPath)
      .filter(_.getName.startsWith(s"${partitionBy.head}="))
      .filter(part => fs.listStatus(part)
        .count(f => f.isFile && f.getPath.getName.endsWith(".parquet")) > maxFilesPerPart)
}

/** Per-batch slices: tables partitioned by `batch_id` whose partitions
  * are each written whole by one batch — the streaming sinks' verdicts,
  * probe pairs, enrichments and quarantine trail, and the cluster
  * registry's members and merge log. A slice is written by a dynamic
  * partition overwrite, so a replayed batch replaces its own partitions
  * and no other; a batch that writes zero rows creates no partition. */
private[graft] object Slices {
  private def dir(root: String, id: Long) = new HPath(s"$root/batch_id=$id")

  /** Replace under `root` exactly the partitions `w`'s rows fall in. */
  def overwrite(w: DataFrameWriter[Row], root: String): Unit =
    w.mode("overwrite").option("partitionOverwriteMode", "dynamic").parquet(root)

  /** Write `df` as batch `id`'s slice under `root`. */
  def writeSlice(df: DataFrame, root: String, id: Long): Unit =
    overwrite(df.withColumn("batch_id", lit(id)).write.partitionBy("batch_id"), root)

  /** Batch `id`'s slice under `root` (without the `batch_id` column),
    * or None when the batch wrote no partition there. Reads the one
    * partition dir, so the listing is O(1) in the batches committed. */
  def readSlice(spark: SparkSession, root: String, id: Long): Option[DataFrame] =
    if (Hdfs.forPath(spark, root).exists(dir(root, id)))
      Some(spark.read.parquet(dir(root, id).toString))
    else None

  /** Delete batch `id`'s slice under `root`; whether it is gone. */
  def dropSlice(fs: FileSystem, root: String, id: Long): Boolean =
    fs.delete(dir(root, id), true) || !fs.exists(dir(root, id))

  /** The batch ids holding a slice under `root`. */
  def ids(fs: FileSystem, root: String): Seq[Long] =
    if (!fs.exists(new HPath(root))) Nil
    else fs.listStatus(new HPath(root)).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("batch_id=")).flatMap(_.stripPrefix("batch_id=").toLongOption)
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
