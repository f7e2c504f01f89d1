package graft.sources

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import org.apache.hadoop.fs.{FileSystem, FilterFileSystem, Path => HPath}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

class TableSwapSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val Parts = Table("t", "id BIGINT, p INT", "p")

  private def tmpRoot(): String =
    java.nio.file.Files.createTempDirectory("table_swap").toString

  private def ids(path: String): Seq[Long] =
    spark.read.parquet(path).select("id").collect().map(_.getLong(0)).sorted.toSeq

  /** `fs` with a writer that recreates `live` (and appends one file to
    * it) right after the swap stages `live` aside. */
  private def racing(inner: FileSystem, live: HPath): FileSystem =
    new FilterFileSystem(inner) {
      override def rename(src: HPath, dst: HPath): Boolean = {
        val moved = super.rename(src, dst)
        if (moved && src.toUri.getPath == live.toUri.getPath) {
          fs.mkdirs(live)
          fs.create(new HPath(live, "part-racer.parquet")).close()
        }
        moved
      }
    }

  /** Rewrite `path/table` (holding ids 0..9) to ids 100..109 with a
    * writer racing the swap; the original must sit at a `swap_conflict`
    * name and the rewrite back at the tmp path. */
  private def assertTripwire(path: String, table: String): Unit = {
    val fs = Hdfs.forPath(spark, path)
    val live = new HPath(path, table)
    val err = intercept[java.io.IOException] {
      TableSwap.rewrite(spark, racing(fs, live), path, table)(
        spark.range(100, 110).toDF("id").write.parquet(_))
    }
    assert(err.getMessage.contains("concurrent writer recreated"), err.getMessage)
    val conflicts = fs.listStatus(new HPath(path)).map(_.getPath)
      .filter(_.getName.contains(s"swap_conflict_$table"))
    assert(conflicts.length === 1, conflicts.mkString(", "))
    assert(ids(conflicts.head.toString) === (0L until 10L))
    val (staged, tmp) = TableSwap.stageDirs(path, table)
    assert(!fs.exists(staged))
    assert(ids(tmp.toString) === (100L until 110L))
  }

  test("a writer recreating a whole table mid-swap: the swap throws and keeps both copies") {
    val root = tmpRoot()
    spark.range(10).toDF("id").write.parquet(s"$root/t")
    assertTripwire(root, "t")
  }

  test("a writer recreating a partition dir mid-swap: the swap throws and keeps both copies") {
    val root = tmpRoot()
    Parts.writer(spark.range(10).toDF("id").withColumn("p", lit(1)))
      .parquet(Parts.at(root))
    assertTripwire(Parts.at(root), "p=1")
  }

  /** `Parts` at a fresh root: `nParts` partitions of `appends` files each. */
  private def fragmentedTable(nParts: Int, appends: Int): String = {
    val root = tmpRoot()
    (0 until appends).foreach { a =>
      Parts.writer(spark.range(a * 100, a * 100 + 30).toDF("id")
          .withColumn("p", (col("id") % nParts).cast("int")).coalesce(1))
        .mode("append").parquet(Parts.at(root))
    }
    root
  }

  private def rows(root: String): Seq[(Long, Int)] = {
    spark.catalog.refreshByPath(Parts.at(root))
    Parts.read(spark, root).collect().map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq
  }

  test("compaction crash between a partition's two renames: the next compact restores it and drops the litter") {
    val root = fragmentedTable(nParts = 3, appends = 3)
    val before = rows(root)
    val fs = Hdfs.forPath(spark, root)
    // the swap of p=1 staged the live dir aside; its compacted copy is
    // at the tmp path, never installed
    val (staged, tmp) = TableSwap.stageDirs(Parts.at(root), "p=1")
    assert(fs.rename(new HPath(Parts.at(root), "p=1"), staged))
    org.apache.hadoop.fs.FileUtil.copy(fs, staged, fs, tmp, false, fs.getConf)
    assert(rows(root).size < before.size, "the staged partition must read absent")
    assert(Parts.compactionWork(spark, root, maxFilesPerPart = 1)._1)
    assert(Parts.compact(spark, root, maxFilesPerPart = 1).sorted === Seq("0", "1", "2"))
    assert(Parts.compactionWork(spark, root, maxFilesPerPart = 1) === ((false, 0)))
    assert(!fs.exists(staged) && !fs.exists(tmp))
    assert(fs.listStatus(new HPath(Parts.at(root))).forall(!_.getPath.getName.startsWith(".")))
    assert(rows(root) === before)
  }

  test("a whole-table rewrite after a crashed compaction keeps the partition staged aside") {
    val root = fragmentedTable(nParts = 3, appends = 2)
    val before = rows(root)
    val fs = Hdfs.forPath(spark, root)
    val (staged, _) = TableSwap.stageDirs(Parts.at(root), "p=2")
    assert(fs.rename(new HPath(Parts.at(root), "p=2"), staged))
    Parts.rewrite(spark, root)(Parts.read(spark, root))
    assert(!fs.exists(staged))
    assert(rows(root) === before)
  }

  /** Spark jobs `body` starts, and how many of them wrote output rows.
    * A marker job started after `body` is seen last, so every earlier
    * job and task event has been counted by then. */
  private def jobs(body: => Unit): (Int, Int) = {
    val sc = spark.sparkContext
    val group = s"counted-${java.util.UUID.randomUUID}"
    val stageJob = new ConcurrentHashMap[Int, Int]
    val writing = ConcurrentHashMap.newKeySet[Int]
    val marker = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group) {
          if (e.properties.getProperty("spark.job.description") == "marker") marker.countDown()
          else e.stageIds.foreach(stageJob.put(_, e.jobId))
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null && e.taskMetrics.outputMetrics.recordsWritten > 0)
          Option(stageJob.get(e.stageId)).foreach(writing.add)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      body
      sc.setJobDescription("marker")
      sc.parallelize(Seq(1), 1).count()
      assert(marker.await(60, TimeUnit.SECONDS), "marker job not seen")
      (new java.util.HashSet(stageJob.values).size, writing.size)
    } finally {
      sc.clearJobGroup()
      sc.setJobDescription(null)
      sc.removeSparkListener(listener)
    }
  }

  test("compact writes every fragmented partition in one Spark job") {
    val counts = Seq(3, 6).map { nParts =>
      val root = fragmentedTable(nParts, appends = 2)
      val before = rows(root)
      val (all, writes) = jobs {
        assert(Parts.compact(spark, root, maxFilesPerPart = 1).size === nParts)
      }
      assert(writes === 1, s"$nParts partitions: $writes write jobs of $all")
      assert(rows(root) === before)
      all
    }
    assert(counts.distinct.size === 1, s"jobs grow with the partitions: $counts")
    // the stated-schema read starts no footer-inference job
    assert(counts.head === 2, s"jobs: $counts")
  }
}
