package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.SparkSession

/** The one Hadoop-FS handle rule for every on-disk index/table
  * protocol in the engine: resolve against the path's own scheme with
  * the session's Hadoop conf — so per-path credentials or FS settings
  * ever added to the conf reach every call site at once. */
object Hdfs {
  def forPath(spark: SparkSession, path: String): FileSystem =
    FileSystem.get(new HPath(path).toUri, spark.sessionState.newHadoopConf())
}

/** The one table-swap protocol for rewriting a live table in place
  * (LSH bands/docs/stats, PQ-IVF cells, the LEXam store's tables and
  * experiment partitions, every [[Table.compact]]ed partition): `write`
  * materializes the replacement into a tmp dir, the live dir is staged
  * aside, the replacement renamed in, the stage deleted. The two-step
  * matters: a crash between a delete and a rename would silently drop
  * the whole table or partition (scans just skip a missing partition),
  * while with stage-aside every crash point leaves the data recoverable
  * by [[TableSwap.recover]], which every caller runs at entry. `table`
  * may be a partition dir of the table at `path`; its stage dirs are
  * then `.`-prefixed inside the table dir, which Spark's listing skips.
  * Shared so every rewrite audits ONE protocol.
  *
  * SINGLE-MAINTAINER protocol: a writer that appends to the live dir
  * CONCURRENTLY with the swap (e.g. a curation sink's
  * `appendToLshIndex` racing a repair or a compaction) can recreate the
  * live dir between the two renames; Hadoop/posix
  * rename-into-existing-dir semantics would then NEST the replacement
  * inside it and the staged-aside original would be deleted —
  * near-total silent data loss. [[rewrite]] detects that state,
  * preserves every copy (the original at a `swap_conflict` name, the
  * rewrite back at the tmp path) and throws instead. Schedule
  * maintenance when no writer is active — e.g. from the sink's own
  * foreachBatch cadence, which is serialized with its appends by
  * construction. */
object TableSwap {

  /** Startup recovery for [[rewrite]]'s crash windows: restore a
    * staged table whose live twin vanished mid-swap, drop orphaned tmp
    * rewrites. */
  def recover(fs: FileSystem, path: String, table: String): Unit = {
    val (old, tmp) = stageDirs(path, table)
    val live = new HPath(path, table)
    if (fs.exists(old)) {
      if (!fs.exists(live)) {
        if (!fs.rename(old, live)) throw new java.io.IOException(
          s"staged-table recovery could not restore $old to $live")
      } else fs.delete(old, true)
    }
    if (fs.exists(tmp)) fs.delete(tmp, true)
  }

  /** Whether a swap of `path/table` left its staged copy behind. */
  def isStaged(fs: FileSystem, path: String, table: String): Boolean =
    fs.exists(stageDirs(path, table)._1)

  /** The tables under `path` a crashed swap left a stage or tmp dir of
    * — each one for [[recover]]. */
  private[sources] def leftovers(fs: FileSystem, path: String): Seq[String] =
    fs.listStatus(new HPath(path)).toSeq.map(_.getPath.getName).collect {
      case n @ Leftover(table)
          if Seq("repair_old", "repair_tmp").exists(aside(_, table) == n) => table
    }.distinct

  private val Leftover = "[._]repair_(?:old|tmp)_(.+)".r

  /** Where [[rewrite]] stages the live `path/table` aside and where it
    * writes the replacement: (staged, tmp). */
  private[graft] def stageDirs(path: String, table: String): (HPath, HPath) =
    (new HPath(path, aside("repair_old", table)), new HPath(path, aside("repair_tmp", table)))

  /** `table`'s stage name for `kind`; `.`-prefixed for a partition dir
    * (`col=value`), as Spark's file listing reads a `_`-prefixed name
    * holding `=` as a partition of the table around it. */
  private def aside(kind: String, table: String): String =
    s"${if (table.contains("=")) "." else "_"}${kind}_$table"

  /** Rewrite `path/table` via the stage-aside swap. A live dir that
    * does not exist yet (e.g. backfilling a side table onto a legacy
    * index) renames the tmp straight in. */
  def rewrite(spark: SparkSession, fs: FileSystem,
              path: String, table: String)(write: String => Unit): Unit = {
    val live = new HPath(path, table)
    val (old, tmp) = stageDirs(path, table)
    write(tmp.toString)
    if (fs.exists(live)) {
      if (!fs.rename(live, old))
        throw new java.io.IOException(s"staged rewrite could not stage $live aside")
      if (!fs.rename(tmp, live)) {
        fs.rename(old, live)
        throw new java.io.IOException(s"staged rewrite rename failed for $live")
      }
      guardNestedRename(fs, live, tmp, old,
        conflictPath(new HPath(path), aside("swap_conflict", table)))
      fs.delete(old, true)
    } else if (!fs.rename(tmp, live))
      throw new java.io.IOException(s"staged rewrite could not install $live")
    spark.catalog.refreshByPath(live.toString)
  }

  /** A per-incident conflict dir name: never pre-existing, so the
    * preservation rename can neither nest into stale leftovers nor
    * depend on first deleting them. */
  private def conflictPath(parent: HPath, base: String): HPath =
    new HPath(parent, s"${base}_${java.util.UUID.randomUUID().toString.take(8)}")

  /** The concurrent-writer tripwire (see the object scaladoc): if a
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
  private def guardNestedRename(fs: FileSystem, live: HPath, tmp: HPath,
                                staged: HPath, conflict: HPath): Unit = {
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
