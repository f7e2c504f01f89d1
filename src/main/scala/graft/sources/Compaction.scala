package graft.sources

import org.apache.spark.sql.SparkSession

/** Crash-safe small-file compaction for hive-partitioned parquet
  * tables — the maintenance pass every append-grown index needs
  * (IVF cells, LSH band partitions): each appended batch adds at
  * least one file per touched partition, and probe scans go
  * metadata-bound once partitions hold hundreds of tiny files.
  *
  * Extracted from the IVF compactor so every partitioned store shares
  * ONE audited swap protocol instead of re-growing its own: rewrite to
  * a tmp dir, stage the live dir aside, swap, delete the stage — every
  * crash point leaves the data recoverable, and the startup sweep
  * repairs a previous crash (restores a staged dir whose live twin
  * vanished mid-swap, drops orphaned tmp rewrites).
  */
/** The one Hadoop-FS handle rule for every on-disk index/table
  * protocol in the engine: resolve against the path's own scheme with
  * the session's Hadoop conf — so per-path credentials or FS settings
  * ever added to the conf reach every call site at once. */
object Hdfs {
  def forPath(spark: SparkSession,
              path: String): org.apache.hadoop.fs.FileSystem =
    org.apache.hadoop.fs.FileSystem.get(
      new org.apache.hadoop.fs.Path(path).toUri,
      spark.sessionState.newHadoopConf())
}

/** The one table-swap protocol for rewriting a live table in place
  * (LSH bands/docs/stats, PQ-IVF cells, the LEXam store's tables and
  * experiment partitions): `write` materializes the replacement into a
  * tmp dir, the live dir is staged aside, the replacement renamed in,
  * the stage deleted — every crash point leaves the data recoverable
  * by [[TableSwap.recover]], which every caller runs at entry. `table`
  * may be a partition dir of the table at `path`. Shared so every
  * rewrite audits ONE protocol.
  *
  * SINGLE-MAINTAINER protocol: a writer that appends to the live dir
  * CONCURRENTLY with the swap (e.g. a curation sink's
  * `appendToLshIndex` racing a repair) can recreate the live dir
  * between the two renames; Hadoop/posix rename-into-existing-dir
  * semantics would then NEST the replacement inside it and the
  * staged-aside original would be deleted — near-total silent data
  * loss. [[rewrite]] detects that state, preserves every copy (the
  * original at `_swap_conflict_<table>`, the rewrite back at the tmp
  * path) and throws instead. Schedule maintenance when no writer is
  * active — e.g. from the sink's own foreachBatch cadence, which is
  * serialized with its appends by construction. */
object TableSwap {

  /** Startup recovery for [[rewrite]]'s crash windows: restore a
    * staged table whose live twin vanished mid-swap, drop orphaned tmp
    * rewrites. */
  def recover(fs: org.apache.hadoop.fs.FileSystem, path: String,
              table: String): Unit = {
    import org.apache.hadoop.fs.{Path => HPath}
    val root = new HPath(path)
    val old = new HPath(root, aside("repair_old", table))
    val live = new HPath(root, table)
    if (fs.exists(old)) {
      if (!fs.exists(live)) {
        if (!fs.rename(old, live)) throw new java.io.IOException(
          s"staged-table recovery could not restore $old to $live")
      } else fs.delete(old, true)
    }
    val tmp = new HPath(root, aside("repair_tmp", table))
    if (fs.exists(tmp)) fs.delete(tmp, true)
  }

  /** `table`'s stage name for `kind`; `.`-prefixed for a partition dir
    * (`col=value`), as Spark's file listing reads a `_`-prefixed name
    * holding `=` as a partition of the table around it. */
  private def aside(kind: String, table: String): String =
    s"${if (table.contains("=")) "." else "_"}${kind}_$table"

  /** Rewrite `path/table` via the stage-aside swap. A live dir that
    * does not exist yet (e.g. backfilling a side table onto a legacy
    * index) renames the tmp straight in. */
  def rewrite(spark: SparkSession, fs: org.apache.hadoop.fs.FileSystem,
              path: String, table: String)(write: String => Unit): Unit = {
    import org.apache.hadoop.fs.{Path => HPath}
    val root = new HPath(path)
    val live = new HPath(root, table)
    val tmp = new HPath(root, aside("repair_tmp", table))
    write(tmp.toString)
    if (fs.exists(live)) {
      val old = new HPath(root, aside("repair_old", table))
      if (!fs.rename(live, old))
        throw new java.io.IOException(s"staged rewrite could not stage $live aside")
      if (!fs.rename(tmp, live)) {
        fs.rename(old, live)
        throw new java.io.IOException(s"staged rewrite rename failed for $live")
      }
      guardNestedRename(fs, live, tmp, old,
        conflictPath(root, aside("swap_conflict", table)))
      fs.delete(old, true)
    } else if (!fs.rename(tmp, live))
      throw new java.io.IOException(s"staged rewrite could not install $live")
    spark.catalog.refreshByPath(live.toString)
  }

  /** The concurrent-writer tripwire (see the object scaladoc), shared
    * by [[rewrite]] and the compactor's per-partition swap: if a
    * writer recreated `live` between the stage-aside and the install,
    * the install rename NESTED the replacement inside it. Pull the
    * replacement back out, move the staged original to `conflict` — a
    * name the recovery sweeps never auto-delete — and fail loudly
    * BEFORE the original would have been deleted. Every rename result
    * is checked: an unchecked failure would leave the only full copy
    * at the staged name, which the NEXT entry's recovery sweep
    * auto-deletes (live exists ⇒ staged is presumed litter) — the
    * exact loss this guard prevents. The conflict name is UNIQUE per
    * incident ([[conflictPath]]): renaming into an existing dir would
    * nest — the very semantics being guarded against — so the
    * original's safety must never hang on deleting stale leftovers of
    * a previous incident first. If the conflict move fails, the
    * original is restored AS live (and the racer's partial table moved
    * to `conflict` instead), so no copy ever sits at an auto-deleted
    * name. Returns normally only when no race occurred. */
  /** A per-incident conflict dir name: never pre-existing, so the
    * preservation rename can neither nest into stale leftovers nor
    * depend on first deleting them. */
  private[sources] def conflictPath(parent: org.apache.hadoop.fs.Path,
                                    base: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(parent,
      s"${base}_${java.util.UUID.randomUUID().toString.take(8)}")

  private[sources] def guardNestedRename(fs: org.apache.hadoop.fs.FileSystem,
                                         live: org.apache.hadoop.fs.Path,
                                         tmp: org.apache.hadoop.fs.Path,
                                         staged: org.apache.hadoop.fs.Path,
                                         conflict: org.apache.hadoop.fs.Path)
      : Unit = {
    import org.apache.hadoop.fs.{Path => HPath}
    val nested = new HPath(live, tmp.getName)
    if (!fs.exists(nested)) return
    val rewriteAt = if (fs.rename(nested, tmp)) tmp else nested
    if (fs.rename(staged, conflict))
      throw new java.io.IOException(
        s"concurrent writer recreated $live during the swap; the full " +
          s"original is preserved at $conflict and the rewrite at " +
          s"$rewriteAt — stop writers, restore the original, and re-run " +
          "the maintenance")
    // the conflict move failed: do NOT leave the original at the
    // staged name (the recovery sweep would delete it) — put it back
    // as live and move the racer's partial table aside instead
    if (fs.rename(live, conflict) && fs.rename(staged, live))
      throw new java.io.IOException(
        s"concurrent writer recreated $live during the swap; the " +
          s"original has been RESTORED as $live, the racing writer's " +
          s"rows moved to $conflict (re-append them), rewrite at " +
          s"$rewriteAt — stop writers before re-running the maintenance")
    throw new java.io.IOException(
      s"concurrent writer recreated $live during the swap and the " +
        s"filesystem refuses renames; the only full copy is still at " +
        s"$staged — do NOT run recovery (it would delete it); move it " +
        "to safety by hand, stop writers, then restore")
  }
}

object Compaction {

  /** Read-only needs-work probe for [[compactPartitions]]: whether a
    * crashed prior compaction left staged/tmp dirs for the entry sweep
    * (`recovery`) and how many partitions exceed `maxFilesPerPart`
    * (`fragmented`). Callers that must take a reader-visible bracket
    * around the compaction (the decon nightly's `_compacting` marker)
    * use this to skip the bracket — and its probe-abort window —
    * entirely on healthy nights. Same listing rule as the compactor;
    * racing writers are out of scope (single-maintainer protocol). */
  def compactionWork(fs: org.apache.hadoop.fs.FileSystem,
                     tableRoot: String, prefix: String,
                     maxFilesPerPart: Int): (Boolean, Int) = {
    import org.apache.hadoop.fs.{Path => HPath}
    val root = new HPath(tableRoot)
    require(fs.exists(root), s"no partitioned table at $tableRoot")
    val recovery = fs.listStatus(root.getParent).map(_.getPath.getName)
      .exists(n => n.startsWith("_compact_old_") ||
        n.startsWith("_compact_tmp_"))
    val fragmented = fs.listStatus(root).filter(_.isDirectory)
      .map(_.getPath).filter(_.getName.startsWith(prefix))
      .count { dir =>
        fs.listStatus(dir)
          .count(f => f.isFile && f.getPath.getName.endsWith(".parquet")) >
          maxFilesPerPart
      }
    (recovery, fragmented)
  }

  /** Compact partitions of `tableRoot` (dirs named `<prefix><value>`)
    * whose parquet-file count exceeds `maxFilesPerPart` down to
    * `targetFiles` files. Tmp/stage dirs live in `tableRoot`'s parent
    * (underscore-prefixed — invisible to parquet readers). Content is
    * never changed, only row layout: readers see identical rows before
    * and after (spec-asserted by both call sites). Returns the
    * compacted partition VALUES (dir-name suffixes). */
  def compactPartitions(spark: SparkSession, tableRoot: String,
                        prefix: String, maxFilesPerPart: Int,
                        targetFiles: Int = 1): Seq[String] = {
    require(maxFilesPerPart >= 1 && targetFiles >= 1)
    import org.apache.hadoop.fs.{FileSystem, Path => HPath}
    val root = new HPath(tableRoot)
    val parent = root.getParent
    val fs = FileSystem.get(root.toUri, spark.sessionState.newHadoopConf())
    require(fs.exists(root), s"no partitioned table at $tableRoot")
    // Startup recovery: a previous compaction that crashed mid-swap
    // leaves _compact_tmp_*/_compact_old_* dirs behind. The dangerous
    // window is between rename(live -> old) and rename(tmp -> live):
    // there the partition is ABSENT from the table and only the staged
    // copy holds its data — without this sweep the loss is silent
    // (scans just skip the missing partition). Restore the staged copy
    // when the live dir is missing; otherwise the swap completed (or
    // never started) and the leftovers are just litter.
    fs.listStatus(parent).map(_.getPath)
      .filter(p => p.getName.startsWith("_compact_old_")).foreach { trash =>
        val live = new HPath(root, trash.getName.stripPrefix("_compact_old_"))
        if (!fs.exists(live)) {
          if (!fs.rename(trash, live))
            throw new java.io.IOException(
              s"crash recovery could not restore $trash to $live")
        } else fs.delete(trash, true)
      }
    fs.listStatus(parent).map(_.getPath)
      .filter(_.getName.startsWith("_compact_tmp_"))
      .foreach(fs.delete(_, true)) // incomplete rewrites — always safe to drop
    val compacted = Seq.newBuilder[String]
    val frag = fs.listStatus(root).filter(_.isDirectory)
      .map(_.getPath).filter(_.getName.startsWith(prefix))
      .filter { dir =>
        fs.listStatus(dir)
          .count(f => f.isFile && f.getPath.getName.endsWith(".parquet")) >
          maxFilesPerPart
      }
    // Rewrite phase. For the standard targetFiles=1 call, ALL
    // fragmented partitions rewrite in ONE Spark job (basePath read
    // keeps the partition column; hash-repartitioning on it gives one
    // task — hence one file — per partition): a maintenance pass over
    // hundreds of fragmented partitions is one parallel job, not
    // hundreds of sequential per-partition jobs. targetFiles > 1 has
    // no deterministic per-partition file-count control in the batched
    // form, so it keeps the per-partition rewrite. The swap phase is
    // per-partition and IDENTICAL in both forms — the audited
    // stage-aside/rename/delete protocol and its crash windows do not
    // change with the rewrite strategy.
    def swapIn(dir: HPath, tmp: HPath): Unit = {
      // stage the live dir ASIDE before renaming the replacement in:
      // a crash between a delete and a rename would silently drop the
      // whole partition; with the two-step every crash point leaves
      // the data recoverable
      val trash = new HPath(parent, s"_compact_old_${dir.getName}")
      if (fs.exists(trash)) fs.delete(trash, true)
      if (!fs.rename(dir, trash))
        throw new java.io.IOException(s"compaction could not stage $dir aside")
      if (!fs.rename(tmp, dir)) {
        fs.rename(trash, dir) // restore the original partition
        throw new java.io.IOException(s"compaction rename failed for $dir")
      }
      // the shared concurrent-writer tripwire: an append recreating
      // the partition dir between the renames nests the rewrite inside
      // it — both copies are preserved and the swap aborts loudly
      // before the staged original could be deleted
      TableSwap.guardNestedRename(fs, dir, tmp, trash,
        TableSwap.conflictPath(parent, s"_compact_conflict_${dir.getName}"))
      fs.delete(trash, true)
      compacted += dir.getName.stripPrefix(prefix)
    }
    if (frag.nonEmpty && targetFiles == 1) {
      val partCol = prefix.stripSuffix("=")
      val batchTmp = new HPath(parent, "_compact_tmp_batchrewrite")
      if (fs.exists(batchTmp)) fs.delete(batchTmp, true)
      spark.read.option("basePath", tableRoot)
        .parquet(frag.map(_.toString).toSeq: _*)
        .repartition(frag.length, org.apache.spark.sql.functions.col(partCol))
        .write.partitionBy(partCol).mode("overwrite").parquet(batchTmp.toString)
      frag.foreach { dir =>
        val tmp = new HPath(batchTmp, dir.getName)
        if (!fs.exists(tmp))
          throw new java.io.IOException(
            s"batched compaction rewrite produced no dir for $dir")
        swapIn(dir, tmp)
      }
      fs.delete(batchTmp, true)
    } else frag.foreach { dir =>
      val tmp = new HPath(parent, s"_compact_tmp_${dir.getName}")
      // reading the partition dir directly drops the partition
      // column — intended: the dir name carries it, rows need not
      spark.read.parquet(dir.toString).coalesce(targetFiles)
        .write.mode("overwrite").parquet(tmp.toString)
      swapIn(dir, tmp)
    }
    // Spark caches parquet file listings per path (SharedInMemoryCache):
    // readers opened after the rewrite would otherwise chase deleted files
    spark.catalog.refreshByPath(tableRoot)
    compacted.result()
  }
}
