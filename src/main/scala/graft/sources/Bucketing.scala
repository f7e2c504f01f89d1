package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Bucketed-table support: pre-shuffle a table ONCE at write time so
  * every subsequent equi-join/aggregation on the bucket key runs with
  * no exchange (SURVEY scale posture: "repartition/bucketing for
  * co-located joins"). This is the 100 TB answer to the fact-fact
  * joins (answers ⋈ judgments on answer_id, lineitem ⋈ orders on
  * orderkey) that are too big to broadcast: both sides bucketed on the
  * key join bucket-to-bucket locally.
  */
object Bucketing {

  /** Write `df` as a bucketed+sorted managed table. Drops any previous
    * incarnation first — the in-memory catalog forgets tables across
    * JVM restarts while their warehouse directories survive, and
    * saveAsTable refuses a managed location it didn't create. */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
                    buckets: Int): Unit = {
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val stale = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), table)
    Hdfs.forPath(spark, stale.toString).delete(stale, true)
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, bucketCol)
      .sortBy(bucketCol)
      .format("parquet")
      .saveAsTable(table)
  }

  /** Join two tables bucketed on the same key with the same bucket
    * count — planner elides both shuffles (verify: no Exchange above
    * either scan in the physical plan). */
  def bucketedJoin(spark: SparkSession, left: String, right: String,
                   key: String): DataFrame =
    spark.table(left).join(spark.table(right), key)
}
