package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

/** The nightly orchestrator driven over three nights of a drifting /
  * growing corpus, per index family: night 1 compacts append
  * fragmentation, night 2 trips the family's rebuild tripwire (PQ:
  * occupancy drift; LSH: rows-per-partition growth) and rebuilds,
  * night 3 is a no-op — and the index serves exactly throughout.
  */
class MaintenanceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("LSH three nights: compact, growth-rebuild (probe-identical), then no-op") {
    val docs = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"))
    def role(b: Int) = docs.where(pmod(col("doc_id"), lit(12)) === b)
    val probeBatch = docs.where(pmod(col("doc_id"), lit(12)) === 11)
    val path = java.nio.file.Files.createTempDirectory("mnt_lsh").toString
    Dedup.saveLshIndex(role(0), k = 3, bands = 8, rowsPerBand = 4, path,
      nBucketParts = 2)
    Dedup.appendToLshIndex(role(1), path)
    def probe() = Dedup.dedupAgainstLshIndex(probeBatch, path,
      threshold = 0.05, maxBucket = Some(3)).collect().map(_.toSeq).toSeq
    def rowsPerPart() = spark.read.parquet(s"$path/bands").count().toDouble /
      spark.read.parquet(s"$path/meta").head().getInt(3)
    // bounds sized off the observed index: tonight is in-bounds,
    // tripling the corpus later is not
    val lshCfg = Maintenance.LshConfig(
      targetRowsPerPart = math.ceil(rowsPerPart()).toLong,
      rebuildAtRowsPerPart = math.ceil(rowsPerPart() * 2).toLong)
    val beforeNight1 = probe()
    val night1 = Maintenance.nightly(spark, path, maxFilesPerPart = 1,
      lsh = lshCfg)
    assert(night1.family === "lsh")
    assert(night1.actions.exists(_.startsWith("compact:")),
      s"append fragmentation must compact: $night1")
    assert(!night1.rebuilt, s"in-bounds index must not rebuild: $night1")
    assert(probe() === beforeNight1)
    // growth: four more roles land — rows per part now exceeds the bound
    (2 to 5).foreach(b => Dedup.appendToLshIndex(role(b), path))
    val beforeNight2 = probe()
    val partsBefore = spark.read.parquet(s"$path/meta").head().getInt(3)
    val night2 = Maintenance.nightly(spark, path, maxFilesPerPart = 1,
      lsh = lshCfg)
    assert(night2.rebuilt, s"outgrown index must rebuild: $night2")
    assert(spark.read.parquet(s"$path/meta").head().getInt(3) > partsBefore,
      "rebuild must widen the bucket partitioning")
    // re-bucketing is pure layout: verdicts bit-identical
    assert(probe() === beforeNight2)
    val night3 = Maintenance.nightly(spark, path, maxFilesPerPart = 1,
      lsh = lshCfg)
    assert(night3.noOp, s"healthy compacted in-bounds night must no-op: $night3")
    assert(probe() === beforeNight2)
  }

  test("Hamming three nights: family detected (never LSH's meta shape), compact, growth-rebuild (probe-identical), repair night; then no-op") {
    val M56 = (1L << 56) - 1
    def fps(b: Int) = spark.range(400)
      .where(pmod(col("id"), lit(8)) === b)
      .select(col("id").as("media_id"),
        xxhash64(col("id")).bitwiseAND(lit(M56)).as("dhash"))
    // probe batch with planted near-dups of role-0 residents (two bits
    // flipped — distance 2, found with certainty under 4-band blocking)
    val probeBatch = spark.range(400)
      .where(pmod(col("id"), lit(8)) === 7)
      .select((col("id") + 100000L).as("media_id"),
        when(pmod(col("id"), lit(16)) === 7,
          xxhash64(col("id") - 7).bitwiseAND(lit(M56)).bitwiseXOR(lit(5L)))
          .otherwise(xxhash64(col("id")).bitwiseAND(lit(M56))).as("dhash"))
    val path = java.nio.file.Files.createTempDirectory("mnt_ham").toString
    Dedup.saveHammingIndex(fps(0), "media_id", "dhash", bits = 56,
      bands = 4, path, nBucketParts = 2)
    Dedup.appendToHammingIndex(fps(1), "media_id", "dhash", path)
    def probe() = Dedup.dedupAgainstHammingIndex(probeBatch, "media_id",
      "dhash", path, maxDist = 3).collect().map(_.toSeq).toSeq
    def rowsPerPart() = spark.read.parquet(s"$path/bands").count().toDouble /
      spark.read.parquet(s"$path/meta").head().getInt(2)
    val lshCfg = Maintenance.LshConfig(
      targetRowsPerPart = math.ceil(rowsPerPart()).toLong,
      rebuildAtRowsPerPart = math.ceil(rowsPerPart() * 2).toLong)
    val beforeNight1 = probe()
    assert(beforeNight1.exists(_(3) == true), "planted dups must be found")
    // night 1: the family routes to the Hamming pass — before the meta
    // discriminator this root's bands/ probe misdetected it as LSH and
    // nightlyLsh crashed reading n_bucket_parts at LSH meta's ordinal
    val night1 = Maintenance.nightly(spark, path, maxFilesPerPart = 1,
      lsh = lshCfg)
    assert(night1.family === "hamming")
    assert(night1.actions.exists(_.startsWith("compact:")),
      s"append fragmentation must compact: $night1")
    assert(!night1.rebuilt, s"in-bounds index must not rebuild: $night1")
    assert(probe() === beforeNight1)
    // growth: four more roles land — rows per part now exceeds the bound
    (2 to 5).foreach(b =>
      Dedup.appendToHammingIndex(fps(b), "media_id", "dhash", path))
    val beforeNight2 = probe()
    val partsBefore = spark.read.parquet(s"$path/meta").head().getInt(2)
    val night2 = Maintenance.nightly(spark, path, maxFilesPerPart = 1,
      lsh = lshCfg)
    assert(night2.rebuilt, s"outgrown index must rebuild: $night2")
    assert(spark.read.parquet(s"$path/meta").head().getInt(2) > partsBefore,
      "rebuild must widen the bucket partitioning")
    // re-bucketing is pure layout: verdicts bit-identical
    assert(probe() === beforeNight2)
    // repair night: a double append (the sink's at-least-once window)
    // doubles band rows and would double-count n_matches; repair = true
    // restores exact hygiene
    val rowsClean = spark.read.parquet(s"$path/bands").count()
    Dedup.appendToHammingIndex(fps(6), "media_id", "dhash", path)
    val beforeDup = probe()
    Dedup.appendToHammingIndex(fps(6), "media_id", "dhash", path)
    val nightR = Maintenance.nightly(spark, path, maxFilesPerPart = 1,
      lsh = lshCfg, repair = true)
    assert(nightR.actions.contains("repair"))
    assert(probe() === beforeDup,
      "repair must restore the single-copy index's exact verdicts")
    assert(spark.read.parquet(s"$path/bands").count() ===
      rowsClean + 4 * fps(6).count(),
      "repair must leave exactly one copy of each appended band row")
    val night3 = Maintenance.nightly(spark, path, maxFilesPerPart = 1,
      lsh = lshCfg)
    assert(night3.noOp, s"healthy compacted in-bounds night must no-op: $night3")
    assert(probe() === beforeDup)
  }

  test("decon three nights: compact, damaged-bloom rebuild (probe-identical), then no-op") {
    val docs = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"))
    val bench = docs.where(pmod(col("doc_id"), lit(12)) === 11)
    val batch = docs.where(pmod(col("doc_id"), lit(12)) === 3)
    val path = java.nio.file.Files
      .createTempDirectory("mnt_dec").toString + "/decon"
    Dedup.saveDeconIndex(bench, k = 8, path, nHashParts = 4)
    def probe() = Dedup.decontaminateAgainstDeconIndex(batch, path)
      .orderBy(col("doc_id")).collect().map(_.toSeq).toSeq
    val before = probe()
    assert(before.nonEmpty)
    // the nightly's every action must be fingerprint-STABLE, or the
    // cron would trip a live curationSink's decon-staleness tripwire
    // mid-window — pinned across all three nights below
    val fp = Dedup.deconIndexFingerprint(spark, path)
    // night 1: the save's shuffled write leaves several files per
    // hash partition — compacts, nothing else
    val night1 = Maintenance.nightly(spark, path, maxFilesPerPart = 1)
    assert(night1.family === "decon")
    assert(night1.actions.forall(_.startsWith("compact")),
      s"healthy fresh index must only compact: $night1")
    assert(probe() === before)
    assert(Dedup.deconIndexFingerprint(spark, path) === fp,
      "compaction must not change the content fingerprint")
    // damage: a bloom of the WRONG content (stale/corrupt sidecar) —
    // stored hashes now probe negative, which a correct bloom can
    // never do. Exactness holds meanwhile (the confirm join owns it).
    val badBloom = org.apache.spark.util.sketch.BloomFilter.create(1, 0.01)
    badBloom.putLong(Long.MinValue)
    val bo = new java.io.ByteArrayOutputStream(); badBloom.writeTo(bo)
    Seq(Tuple1(bo.toByteArray)).toDF("bloom").coalesce(1)
      .write.mode("overwrite").parquet(s"$path/bloom")
    // night 2: false-negative tripwire fires, bloom rebuilt from the
    // hash store, probe verdicts bit-identical
    val night2 = Maintenance.nightly(spark, path, maxFilesPerPart = 1)
    assert(night2.actions.contains("rebuild-bloom"),
      s"a bloom with false negatives must rebuild: $night2")
    assert(probe() === before)
    assert(Dedup.deconIndexFingerprint(spark, path) === fp,
      "a bloom heal must not change the content fingerprint")
    // night 3: no-op
    val night3 = Maintenance.nightly(spark, path, maxFilesPerPart = 1)
    assert(night3.noOp, s"healthy night must no-op: $night3")
    assert(probe() === before)
    assert(Dedup.deconIndexFingerprint(spark, path) === fp)
  }

  test("decon: nightly compaction brackets live probes — marker refuses, spanning probes fail the token check") {
    val docs = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"))
    val bench = docs.where(pmod(col("doc_id"), lit(12)) === 11)
    val batch = docs.where(pmod(col("doc_id"), lit(12)) === 3)
    val path = java.nio.file.Files
      .createTempDirectory("mnt_dec_brk").toString + "/decon"
    Dedup.saveDeconIndex(bench, k = 8, path, nHashParts = 4)
    def probe() = Dedup.decontaminateAgainstDeconIndex(batch, path)
      .orderBy(col("doc_id")).collect().map(_.toSeq).toSeq
    val before = probe()
    val fp = Dedup.deconIndexFingerprint(spark, path)
    val tok0 = Dedup.deconMetaToken(spark, path)
    // inside the compaction window (marker up) every probe and stamp
    // refuses rather than reading a possibly mid-swap hash partition
    // as empty (contaminated docs scoring clean)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new org.apache.hadoop.fs.Path(path).toUri,
      spark.sessionState.newHadoopConf())
    val marker = new org.apache.hadoop.fs.Path(s"$path/_compacting")
    fs.create(marker, true).close()
    intercept[IllegalStateException] {
      Dedup.decontaminateAgainstDeconIndex(batch, path)
    }
    intercept[IllegalStateException] { Dedup.deconMetaToken(spark, path) }
    intercept[IllegalStateException] { Dedup.deconIndexStamp(spark, path) }
    // an ORPHANED marker (that compaction crashed) keeps refusing until
    // the nightly heals; the heal must also bump the meta token — the
    // crashed run's swaps may have completed, and a probe that spanned
    // its whole window can only be caught at its closing token check
    val night = Maintenance.nightly(spark, path, maxFilesPerPart = 1)
    assert(night.actions.exists(_.startsWith("compact:")), s"$night")
    assert(night.actions.contains("heal-compaction-bracket"), s"$night")
    assert(!fs.exists(marker), "nightly must clear the marker")
    assert(Dedup.deconMetaToken(spark, path) !== tok0,
      "a spanning probe's closing token check must fail after swaps")
    assert(Dedup.deconIndexFingerprint(spark, path) === fp,
      "the token bump must be fingerprint-stable (no verdict-marker trips)")
    assert(probe() === before, "compaction must not change verdicts")
    // a night with nothing to compact and no orphan leaves the token
    // untouched — live probes see no aborts at all
    val tok1 = Dedup.deconMetaToken(spark, path)
    val night2 = Maintenance.nightly(spark, path, maxFilesPerPart = 8)
    assert(night2.noOp, s"$night2")
    assert(Dedup.deconMetaToken(spark, path) === tok1)
  }

  test("registry: the nightly tick folds the merge log and then no-ops; resolution never moves") {
    import spark.implicits._
    val path = java.nio.file.Files
      .createTempDirectory("mnt_reg").toString + "/reg"
    val noPairs = Seq.empty[(Long, Long)].toDF("bid", "cid")
    Clusters.updateRegistry(spark, path, 0L, Seq(10L, 20L).toDF("doc_id"),
      noPairs, nDocParts = 4)
    Clusters.updateRegistry(spark, path, 1L, Seq(5L).toDF("doc_id"),
      Seq(5L -> 10L, 5L -> 20L).toDF("bid", "cid"))
    def resolved() = Clusters.resolvedClusters(spark, path).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val before = resolved()
    assert(before === Map(5L -> 5L, 10L -> 5L, 20L -> 5L))
    val night1 = Maintenance.nightly(spark, path)
    assert(night1.family === "registry")
    assert(night1.actions === Seq("fold-log:1"), s"$night1")
    assert(resolved() === before)
    val night2 = Maintenance.nightly(spark, path)
    assert(night2.noOp, s"folded registry must no-op: $night2")
    assert(resolved() === before)
  }

  test("registry: the nightly heals a fold crash between TableSwap's two renames (members absent, staged aside)") {
    import spark.implicits._
    val path = java.nio.file.Files
      .createTempDirectory("mnt_reg_crash").toString + "/reg"
    Clusters.updateRegistry(spark, path, 0L, Seq(10L, 20L).toDF("doc_id"),
      Seq.empty[(Long, Long)].toDF("bid", "cid"), nDocParts = 4)
    Clusters.updateRegistry(spark, path, 1L, Seq(5L).toDF("doc_id"),
      Seq(5L -> 10L, 5L -> 20L).toDF("bid", "cid"))
    def resolved() = Clusters.resolvedClusters(spark, path).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val before = resolved()
    // simulate compactRegistry dying between the stage-aside and the
    // install: the reader bracket is SEALED, members/ is ABSENT, the
    // full table staged aside, and the half-written replacement sits
    // at the tmp name — exactly the state TableSwap.rewrite's crash
    // window leaves
    val fs = graft.sources.Hdfs.forPath(spark, path)
    def p(t: String) = new org.apache.hadoop.fs.Path(s"$path/$t")
    fs.create(p("_compacting"), true).close()
    assert(fs.rename(p("members"), p("_repair_old_members")))
    fs.mkdirs(p("_repair_tmp_members"))
    // every resolver/update refuses on the orphaned bracket (instead
    // of reading the absent members table as an empty registry)
    intercept[IllegalStateException] { resolved() }
    intercept[IllegalStateException] {
      Clusters.lookupClusters(spark, path, Seq(5L)) }
    intercept[IllegalStateException] {
      Clusters.updateRegistry(spark, path, 2L, Seq(7L).toDF("doc_id"),
        Seq.empty[(Long, Long)].toDF("bid", "cid")) }
    // without the pre-detection recovery this threw "neither cells/
    // nor bands/..." — the nightly could not heal the one crash state
    // its registry branch exists to recover
    val night = Maintenance.nightly(spark, path)
    assert(night.family === "registry", s"$night")
    assert(night.actions.contains("heal-compaction-bracket"), s"$night")
    assert(fs.exists(p("members")) && !fs.exists(p("_repair_old_members")) &&
      !fs.exists(p("_repair_tmp_members")) && !fs.exists(p("_compacting")),
      "recovery must restore the staged members table, drop the orphaned " +
        "tmp, and clear the reader bracket")
    assert(resolved() === before)
  }

  test("decon: a healthy legacy pre-digest index migrates its meta on the nightly tick") {
    val docs = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"))
    val bench = docs.where(pmod(col("doc_id"), lit(12)) === 11)
    val batch = docs.where(pmod(col("doc_id"), lit(12)) === 3)
    val path = java.nio.file.Files
      .createTempDirectory("mnt_dec_mig").toString + "/decon"
    Dedup.saveDeconIndex(bench, k = 8, path, nHashParts = 4)
    val fp = Dedup.deconIndexFingerprint(spark, path)
    def probe() = Dedup.decontaminateAgainstDeconIndex(batch, path)
      .orderBy(col("doc_id")).collect().map(_.toSeq).toSeq
    val before = probe()
    // strip meta to the legacy 4-column layout
    val legacy = spark.read.parquet(s"$path/meta")
      .select(col("k"), col("fpp"), col("n_hashes"), col("n_hash_parts"))
      .collect().toSeq
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new org.apache.hadoop.fs.Path(path).toUri,
      spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/meta"), true)
    spark.createDataFrame(
        spark.sparkContext.parallelize(legacy, 1),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("k",
            org.apache.spark.sql.types.IntegerType),
          org.apache.spark.sql.types.StructField("fpp",
            org.apache.spark.sql.types.DoubleType),
          org.apache.spark.sql.types.StructField("n_hashes",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("n_hash_parts",
            org.apache.spark.sql.types.IntegerType))))
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
    // a healthy legacy index must still migrate (otherwise a curation
    // sink's per-batch fingerprint pays a full store scan forever)
    val night = Maintenance.nightly(spark, path, maxFilesPerPart = 8)
    assert(night.actions.contains("migrate-meta"),
      s"healthy legacy meta must migrate: $night")
    val fields = spark.read.parquet(s"$path/meta").schema.fieldNames
    assert(fields.contains("content_digest") && fields.contains("bloom_digest"))
    assert(Dedup.deconIndexFingerprint(spark, path) === fp,
      "migration must not change the fingerprint")
    assert(probe() === before)
    // migrated: the next night is a true no-op
    val night2 = Maintenance.nightly(spark, path, maxFilesPerPart = 8)
    assert(night2.noOp, s"post-migration night must no-op: $night2")
  }

  test("decon: a bloom rebuild that died mid sub-table swap is healed by the nightly tick") {
    val docs = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"))
    val bench = docs.where(pmod(col("doc_id"), lit(12)) === 11)
    val batch = docs.where(pmod(col("doc_id"), lit(12)) === 3)
    val path = java.nio.file.Files
      .createTempDirectory("mnt_dec3").toString + "/decon"
    Dedup.saveDeconIndex(bench, k = 8, path, nHashParts = 4)
    val before = Dedup.decontaminateAgainstDeconIndex(batch, path)
      .orderBy(col("doc_id")).collect().map(_.toSeq).toSeq
    // the worst window of rebuildDeconBloom's bloom swap: live bloom
    // renamed aside, the replacement never arrived — probes throw and
    // the family's own layout marker (bloom/) is GONE, the state the
    // pre-detection recover exists for
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new org.apache.hadoop.fs.Path(path).toUri,
      spark.sessionState.newHadoopConf())
    assert(fs.rename(new org.apache.hadoop.fs.Path(s"$path/bloom"),
      new org.apache.hadoop.fs.Path(s"$path/_repair_old_bloom")))
    intercept[Exception] {
      Dedup.decontaminateAgainstDeconIndex(batch, path).collect()
    }
    val night = Maintenance.nightly(spark, path, maxFilesPerPart = 8)
    assert(night.family === "decon", s"family must survive the crash: $night")
    assert(Dedup.decontaminateAgainstDeconIndex(batch, path)
      .orderBy(col("doc_id")).collect().map(_.toSeq).toSeq === before,
      "healed index must serve the pre-crash verdicts")
  }

  test("decon: a hash partition torn by a crashed compaction is restored BEFORE the bloom check") {
    val docs = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"))
    val bench = docs.where(pmod(col("doc_id"), lit(12)) === 11)
    val batch = docs.where(pmod(col("doc_id"), lit(12)) === 3)
    val path = java.nio.file.Files
      .createTempDirectory("mnt_dec4").toString + "/decon"
    Dedup.saveDeconIndex(bench, k = 8, path, nHashParts = 4)
    val before = Dedup.decontaminateAgainstDeconIndex(batch, path)
      .orderBy(col("doc_id")).collect().map(_.toSeq).toSeq
    // compaction's dangerous window: a live hash partition staged
    // aside, replacement never arrived. If the bloom tripwire counted
    // the torn store FIRST it would rebuild a bloom missing this
    // partition's hashes — false negatives the probe would trust for
    // a day. The compact pass's entry sweep must restore it first.
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new org.apache.hadoop.fs.Path(path).toUri,
      spark.sessionState.newHadoopConf())
    assert(fs.rename(new org.apache.hadoop.fs.Path(s"$path/hashes/part=1"),
      graft.sources.TableSwap.stageDirs(s"$path/hashes", "part=1")._1))
    val night = Maintenance.nightly(spark, path, maxFilesPerPart = 8)
    assert(!night.actions.contains("rebuild-bloom"),
      s"restored store must count clean — a rebuild here means the " +
        s"tripwire saw the torn store: $night")
    assert(Dedup.decontaminateAgainstDeconIndex(batch, path)
      .orderBy(col("doc_id")).collect().map(_.toSeq).toSeq === before,
      "restored index must serve the pre-crash verdicts")
  }

  test("decon: a re-save that died mid root swap is healed by the nightly tick") {
    val docs = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"))
    val bench = docs.where(pmod(col("doc_id"), lit(12)) === 11)
    val batch = docs.where(pmod(col("doc_id"), lit(12)) === 3)
    val parent = java.nio.file.Files.createTempDirectory("mnt_dec2").toString
    val path = parent + "/decon"
    Dedup.saveDeconIndex(bench, k = 8, path, nHashParts = 4)
    val before = Dedup.decontaminateAgainstDeconIndex(batch, path)
      .orderBy(col("doc_id")).collect().map(_.toSeq).toSeq
    // simulate the swap's worst window: live renamed aside, the new
    // root never arrived — probes now have no meta to read at all
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new org.apache.hadoop.fs.Path(path).toUri,
      spark.sessionState.newHadoopConf())
    assert(fs.rename(new org.apache.hadoop.fs.Path(path),
      new org.apache.hadoop.fs.Path(parent, "_repair_old_decon")))
    intercept[Exception] {
      Dedup.decontaminateAgainstDeconIndex(batch, path).collect()
    }
    val night = Maintenance.nightly(spark, path, maxFilesPerPart = 1)
    assert(night.actions.contains("heal-swap"), s"must heal: $night")
    assert(Dedup.decontaminateAgainstDeconIndex(batch, path)
      .orderBy(col("doc_id")).collect().map(_.toSeq).toSeq === before,
      "healed index must serve the pre-crash verdicts")
  }

  test("a crashed rebuild is healed by the next nightly tick: heal-rebuild first, probes restored") {
    val docs = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"))
    val corpus = docs.where(pmod(col("doc_id"), lit(11)) =!= 0)
    val batch = docs.where(pmod(col("doc_id"), lit(11)) === 0)
    val path = java.nio.file.Files.createTempDirectory("mnt_heal").toString
    Dedup.saveLshIndex(corpus, k = 3, bands = 8, rowsPerBand = 4, path,
      nBucketParts = 4)
    val before = Dedup.dedupAgainstLshIndex(batch, path, threshold = 0.05,
      maxBucket = Some(3)).collect().map(_.toSeq).toSeq
    // stage a crashed mid-rebuild state: committed snapshot (params +
    // token), in-flight marker up, a band partition already clobbered
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new org.apache.hadoop.fs.Path(path).toUri,
      spark.sessionState.newHadoopConf())
    def write(p: String, s2: String): Unit = {
      val out = fs.create(new org.apache.hadoop.fs.Path(p), true)
      try out.write(s2.getBytes("UTF-8")) finally out.close()
    }
    spark.read.parquet(s"$path/docs")
      .write.mode("overwrite").parquet(s"$path/rebuild_src")
    write(s"$path/rebuild_src/_params",
      "k=3\nbands=8\nrows_per_band=4\nn_bucket_parts=8")
    write(s"$path/rebuild_src/_token", "tok-crashed")
    write(s"$path/rebuild_inflight", "tok-crashed")
    val gone = fs.listStatus(new org.apache.hadoop.fs.Path(s"$path/bands"))
      .filter(_.isDirectory).map(_.getPath)
      .find(_.getName.startsWith("part=")).get
    fs.delete(gone, true)
    intercept[IllegalStateException] {
      Dedup.dedupAgainstLshIndex(batch, path, threshold = 0.05)
    }
    // the nightly cron is the heal: it re-runs the rebuild from the
    // snapshot BEFORE anything that would probe
    val report = Maintenance.nightly(spark, path, maxFilesPerPart = 1)
    assert(report.actions.headOption === Some("heal-rebuild"), s"$report")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$path/rebuild_inflight")))
    assert(Dedup.dedupAgainstLshIndex(batch, path, threshold = 0.05,
      maxBucket = Some(3)).collect().map(_.toSeq).toSeq === before)
  }

  test("PQ-IVF three nights: compact, drift-rebuild, then no-op; serving stays exact") {
    val emb = graft.sources.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"))
    val resident = emb.where(col("vec_id") % 4 =!= 0)
    val extra = emb.where(col("vec_id") % 4 === 0)
    val nCells = 8
    val path = java.nio.file.Files.createTempDirectory("mnt_pq").toString
    Similarity.savePqIvf(resident, nCentroids = nCells, m = 8, kCode = 16, path)
    Similarity.appendToPqIvf(extra, path)
    val pqCfg = Maintenance.PqConfig(sampleMod = 10, k = 5, nProbe = 3,
      rescoreK = 20, skewBound = 4.0, recallFloor = 0.0)
    val night1 = Maintenance.nightly(spark, path, maxFilesPerPart = 1,
      pq = pqCfg)
    assert(night1.family === "pq-ivf")
    assert(night1.actions.exists(_.startsWith("compact:")),
      s"append fragmentation must compact: $night1")
    assert(!night1.rebuilt, s"healthy occupancy must not rebuild: $night1")
    // drifted ingest: 2x the index mass in a region no frozen centroid
    // covers — the hot-cell degeneration the tripwire exists for
    val n = spark.read.parquet(s"$path/cells").count()
    val ball = spark.range(2 * n)
      .select((col("id") + lit(1000000L)).as("vec_id"),
        array((0 until 64).map(i =>
          (lit(2.5) + sin((col("id") * 13 + lit(i)) * lit(0.7)) * lit(0.8))
            .cast("float")): _*).as("embedding"))
    Similarity.appendToPqIvf(ball, path)
    val night2 = Maintenance.nightly(spark, path, maxFilesPerPart = 1,
      pq = pqCfg)
    assert(night2.rebuilt, s"skewed append must trip drift and rebuild: $night2")
    assert(night2.drift.exists(_.skewDrifted), s"$night2")
    val night3 = Maintenance.nightly(spark, path, maxFilesPerPart = 1,
      pq = pqCfg)
    assert(night3.noOp, s"rebuilt+compacted night must no-op: $night3")
    assert(night3.drift.exists(!_.drifted), s"$night3")
    // serving exactness after the whole sequence: exhaustive probe of
    // the maintained index equals brute force over its own vectors
    val union = spark.read.parquet(s"$path/cells")
      .select(col("vec_id"), col("embedding"))
    val queries = union.where(col("vec_id") % 10 === 0)
    val full = Similarity.pqIvfSearch(spark, path, queries, k = 5,
      nProbe = nCells, rescoreK = Int.MaxValue)
      .collect().map(_.toSeq).toSeq
    val brute = Similarity.bruteForceTopK(union, sampleMod = 10, k = 5)
      .collect().map(_.toSeq).toSeq
    assert(full === brute)
    assert(full.nonEmpty)
  }

  test("PQ-IVF: a cell staged aside by a crashed compaction survives a repair night") {
    val emb = graft.sources.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"))
    val path = java.nio.file.Files.createTempDirectory("mnt_pq_torn").toString
    Similarity.savePqIvf(emb.where(col("vec_id") % 4 =!= 0), nCentroids = 8,
      m = 8, kCode = 16, path)
    Similarity.appendToPqIvf(emb.where(col("vec_id") % 4 === 0), path)
    val cells = Similarity.PqIvfArtifact("cells")
    def rows() = {
      spark.catalog.refreshByPath(cells.at(path))
      cells.read(spark, path).orderBy(col("vec_id")).collect().map(_.toSeq).toSeq
    }
    val before = rows()
    // compaction's window between its two renames: the live cell is
    // staged aside, its compacted copy sits at the tmp path. The repair
    // night rewrites cells/ whole, reading a table that skips the stage
    val fs = graft.sources.Hdfs.forPath(spark, path)
    val cell = fs.listStatus(new org.apache.hadoop.fs.Path(cells.at(path)))
      .map(_.getPath).find(_.getName.startsWith("cell=")).get
    val (staged, tmp) = graft.sources.TableSwap.stageDirs(cells.at(path), cell.getName)
    assert(fs.rename(cell, staged))
    org.apache.hadoop.fs.FileUtil.copy(fs, staged, fs, tmp, false, fs.getConf)
    assert(rows().size < before.size, "the staged cell must read absent")
    val night = Maintenance.nightly(spark, path, maxFilesPerPart = 1,
      pq = Maintenance.PqConfig(sampleMod = 10, k = 5, nProbe = 3,
        rescoreK = 20, skewBound = 4.0, recallFloor = 0.0), repair = true)
    assert(night.actions.contains("repair") && !night.rebuilt, s"$night")
    assert(!fs.exists(staged) && !fs.exists(tmp))
    assert(rows() === before)
  }

  test("LM retrain-and-swap: the new model replaces the old atomically; a mid-swap crash heals to ONE consistent model") {
    val v1Train = Seq((1L, "en", "a b a b a b"), (2L, "de", "x y x y"))
      .toDF("doc_id", "lang", "text")
    val v2Train = Seq((1L, "en", "c d c d c d"), (2L, "de", "x y x y"))
      .toDF("doc_id", "lang", "text")
    val score = Seq((10L, "en", "a b c d"), (11L, "de", "x y"))
      .toDF("doc_id", "lang", "text")
    val parent = java.nio.file.Files.createTempDirectory("mnt_lm").toString
    val path = parent + "/lm"
    val spec = LmScore.LmSpec(LmScore.Smoothing.AddHalf, perLang = true)
    def scores() = LmScore.score(LmScore.load(spark, spec, path), score)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    // build v1 (fresh path: retrainAndSwap installs without a swap)
    Maintenance.retrainAndSwap(spark, path)(tmp =>
      LmScore.save(spec, v1Train, tmp))
    val v1Scores = scores()
    // happy-path retrain: v2 fully replaces v1 and the scores move
    Maintenance.retrainAndSwap(spark, path)(tmp =>
      LmScore.save(spec, v2Train, tmp))
    val v2Scores = scores()
    assert(v2Scores !== v1Scores, "retrain must change the en model")
    // crash window 1: the staging write died — tmp litter, live intact.
    // The next retrain sweeps it and lands cleanly.
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new org.apache.hadoop.fs.Path(path).toUri,
      spark.sessionState.newHadoopConf())
    fs.mkdirs(new org.apache.hadoop.fs.Path(parent, "_repair_tmp_lm/bigrams"))
    Maintenance.retrainAndSwap(spark, path)(tmp =>
      LmScore.save(spec, v1Train, tmp))
    assert(scores() === v1Scores)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(parent, "_repair_tmp_lm")))
    // crash window 2: live staged aside, replacement never arrived —
    // the worst window, where a naive in-place save would serve HALF a
    // model. The nightly heals it back to the complete old model.
    assert(fs.rename(new org.apache.hadoop.fs.Path(path),
      new org.apache.hadoop.fs.Path(parent, "_repair_old_lm")))
    val night = Maintenance.nightly(spark, path)
    assert(night.family === "lm" && night.actions === Seq("heal-swap"),
      s"got $night")
    assert(scores() === v1Scores,
      "healed dir must serve the complete pre-crash model")
    // and a healthy night is a no-op on the lm family
    assert(Maintenance.nightly(spark, path).noOp)
  }

  test("margin-index roots: nightly detects the family (never the PQ drift check), compacts cells, heals a crashed root swap, probes identical") {
    val emb = graft.sources.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"))
    val resident = emb.where(col("vec_id") % 7 =!= 0)
    val batch = emb.where(col("vec_id") % 7 === 0)
    val parent = java.nio.file.Files.createTempDirectory("mnt_margin").toString
    val path = parent + "/margin"
    val (index, assigned) = Similarity.buildIvfTrained(resident, k = 4)
    Maintenance.retrainAndSwap(spark, path)(tmp =>
      Similarity.saveMarginIndex(index, assigned.localCheckpoint(),
        k = 3, tmp))
    def probe() = Similarity.marginAgainstIvf(spark, path, batch,
      minMargin = 0.8).collect().map(_.toSeq).toSeq
    val before = probe()
    val night1 = Maintenance.nightly(spark, path, maxFilesPerPart = 1)
    assert(night1.family === "margin-ivf", s"got $night1")
    assert(probe() === before)
    // a build-fresh, already-compacted index settles to a no-op night
    assert(Maintenance.nightly(spark, path, maxFilesPerPart = 1).noOp ||
      night1.actions.exists(_.startsWith("compact:")))
    // worst crash window: live staged aside mid retrain-and-swap
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new org.apache.hadoop.fs.Path(path).toUri,
      spark.sessionState.newHadoopConf())
    assert(fs.rename(new org.apache.hadoop.fs.Path(path),
      new org.apache.hadoop.fs.Path(parent, "_repair_old_margin")))
    val night = Maintenance.nightly(spark, path)
    assert(night.family === "margin-ivf" &&
      night.actions.contains("heal-swap"), s"got $night")
    assert(probe() === before,
      "healed index must serve the pre-crash pairs")
  }

  test("tokenizer retrain-and-swap: family detected, crashed swap heals, frozen merges identical") {
    val train = Seq((1L, "p q p q r"), (2L, "p q r r")).toDF("doc_id", "text")
    val parent = java.nio.file.Files.createTempDirectory("mnt_tok").toString
    val path = parent + "/tok"
    val (merges, syms) = Bpe.train(train, nMerges = 2)
    syms.unpersist(blocking = false)
    Maintenance.retrainAndSwap(spark, path)(tmp =>
      Bpe.saveTokenizer(spark, merges, tmp))
    assert(Bpe.loadTokenizer(spark, path) === merges)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new org.apache.hadoop.fs.Path(path).toUri,
      spark.sessionState.newHadoopConf())
    assert(fs.rename(new org.apache.hadoop.fs.Path(path),
      new org.apache.hadoop.fs.Path(parent, "_repair_old_tok")))
    val night = Maintenance.nightly(spark, path)
    assert(night.family === "tokenizer" &&
      night.actions === Seq("heal-swap"), s"got $night")
    assert(Bpe.loadTokenizer(spark, path) === merges)
  }
}
