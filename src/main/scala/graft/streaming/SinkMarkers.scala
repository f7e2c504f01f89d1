package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.sources.{Hdfs, Slices}

/** The sealed-batch protocol every foreachBatch curation sink runs
  * ([[DocStreams.indexedDedupSink]], [[DocStreams.imageDedupSink]],
  * [[DocStreams.curationSink]], [[VectorStreams.indexedVectorSink]]),
  * and its commit-marker bookkeeping. Each micro-batch seals per-phase
  * markers under the sink's output dir — `_committed/batch_<id>` (fully
  * committed, replay is a no-op) plus a phase-1 seal (`_verdicts/…` /
  * `_enriched/…`) and the sinks' side records (`_pairs_sealed/…`,
  * `_decon/…`). One small file per
  * trigger per dir is real metadata pressure on object stores over a
  * long-running stream (months of 1-minute triggers ≈ 10⁵ files), so
  * retention GC prunes markers for batch ids at or below a FLOOR and
  * records the floor itself as a single empty file whose NAME carries
  * the value (`_committed/_floor_<id>` — created atomically, read
  * without opening; a crashed GC leaves at most an extra floor file,
  * and the max always wins).
  *
  * The exactly-once contract survives GC: a replayed batch id is
  * treated as committed when its marker exists OR the id is at or
  * below the floor. GC only ever raises the floor to an id whose
  * commit marker is PRESENT (ids above the highest committed marker
  * are never covered, even if the caller passes a larger `upTo`), so
  * a floor can never mark genuinely unprocessed work as done. Pass an
  * `upTo` at or below the stream checkpoint's committed offset — ids
  * the engine can still legitimately replay after a checkpoint
  * rollback should keep their markers.
  *
  * Cost model per trigger: a committed replay is one `exists` call;
  * a new batch additionally lists `_committed/` once to read the
  * floor — O(markers since the last GC), which the GC itself keeps
  * small. The batch's data slices (`batch_id=<id>`, [[Slices]]) are
  * never touched by the GC, except the `_pairs` slices, which exist
  * only for replays. */
private[graft] object SinkMarkers {

  private def committedDir(outPath: String) = new HPath(s"$outPath/_committed")

  /** The retention floor: every batch id <= this is committed. */
  def floor(fs: FileSystem, outPath: String): Long = {
    val dir = committedDir(outPath)
    if (!fs.exists(dir)) Long.MinValue
    else fs.listStatus(dir).iterator.map(_.getPath.getName)
      .filter(_.startsWith("_floor_"))
      .flatMap(_.stripPrefix("_floor_").toLongOption)
      .maxOption.getOrElse(Long.MinValue)
  }

  /** Replay test: marker present, or id under the GC floor. */
  def isCommitted(fs: FileSystem, outPath: String, id: Long): Boolean =
    fs.exists(new HPath(committedDir(outPath), s"batch_$id")) ||
      id <= floor(fs, outPath)

  /** Create an empty marker file (parents included). */
  def seal(fs: FileSystem, p: HPath): Unit = {
    fs.mkdirs(p.getParent)
    fs.create(p, true).close()
  }

  /** Parse the batch id out of a `batch_<id>` or `batch_<id>_<suffix>`
    * marker name — the suffixed form carries a value in the name (the
    * same trick as `_floor_<id>`), e.g. the curation sink's per-batch
    * decon-index fingerprint. */
  private[streaming] def parseBatchId(name: String): Option[Long] = {
    if (!name.startsWith("batch_")) return None
    val rest = name.stripPrefix("batch_")
    val digits = rest.takeWhile(_.isDigit)
    if (digits.isEmpty) None
    else if (digits.length == rest.length || rest.charAt(digits.length) == '_')
      digits.toLongOption
    else None
  }

  /** The suffix of a `batch_<id>_<suffix>` marker under `dir`, if one
    * exists for this id. Exactly one may exist: the suffix carries a
    * RECORD (e.g. the curation sink's decon fingerprint), and two
    * coexisting records for one batch make every downstream decision
    * nondeterministic (whichever listStatus returns first) — fail
    * loudly instead, naming both, so the operator removes the stale
    * one rather than a tripwire silently comparing against it. */
  def suffixOf(fs: FileSystem, dir: HPath, id: Long): Option[String] = {
    val prefix = s"batch_${id}_"
    if (!fs.exists(dir)) return None
    val found = fs.listStatus(dir).iterator.map(_.getPath.getName)
      .filter(_.startsWith(prefix)).map(_.stripPrefix(prefix)).toSeq
    if (found.sizeIs > 1)
      throw new IllegalStateException(
        s"batch $id has ${found.size} suffixed markers under $dir " +
          s"(${found.sorted.mkString(", ")}): the record is ambiguous — " +
          "delete the stale marker(s) before restarting the stream")
    found.headOption
  }

  /** Every dir of per-batch markers a sink may keep besides
    * `_committed`: the phase-1 seals (`_verdicts` for the doc sinks,
    * `_enriched` for the vector sink), the pairs seal of registry mode
    * and the curation sink's decon fingerprints. */
  private val phaseDirs = Seq("_verdicts", "_pairs_sealed", "_decon", "_enriched")

  /** Prune markers for batch ids `<= upTo` from `_committed` and every
    * phase dir, after raising the floor, then the `_pairs` slices at or
    * below it (a replay at or below the floor no-ops before reading
    * them). An absent dir is a no-op, so one GC serves every sink. The
    * floor only rises to the highest PRESENT commit marker at or below
    * `upTo` (never past committed work), and the floor file is written
    * BEFORE any marker is deleted — a crash mid-GC leaves the contract
    * intact and the next GC resumes the deletes. Returns the floor now
    * in effect. */
  def gc(spark: SparkSession, outPath: String, upTo: Long): Long = {
    val fs = Hdfs.forPath(spark, outPath)
    val dir = committedDir(outPath)
    val prev = floor(fs, outPath)
    if (!fs.exists(dir)) return prev
    def batchIds(d: HPath): Seq[(Long, HPath)] =
      if (!fs.exists(d)) Nil
      else fs.listStatus(d).toSeq.map(_.getPath)
        .flatMap(p => parseBatchId(p.getName).map(_ -> p))
    val committed = batchIds(dir)
    val newFloor = (committed.map(_._1).filter(_ <= upTo) :+ prev).max
    if (newFloor > prev)
      seal(fs, new HPath(dir, s"_floor_$newFloor"))
    (dir +: phaseDirs.map(d => new HPath(s"$outPath/$d"))).foreach { d =>
      batchIds(d).filter(_._1 <= newFloor).foreach(p => fs.delete(p._2, false))
    }
    // collapse superseded floor files (max always wins, so this is
    // hygiene, not correctness)
    fs.listStatus(dir).map(_.getPath)
      .filter(_.getName.startsWith("_floor_"))
      .filter(_.getName.stripPrefix("_floor_").toLongOption.exists(_ < newFloor))
      .foreach(fs.delete(_, false))
    val pairs = s"$outPath/_pairs"
    Slices.ids(fs, pairs).filter(_ <= newFloor).foreach { id =>
      // a persistently undeletable slice must surface, not be silently
      // re-attempted forever (harmless to replays — the id is under the
      // marker floor — but an operator needs to see a stuck GC)
      if (!Slices.dropSlice(fs, pairs, id))
        throw new java.io.IOException(
          s"pairs-slice GC could not delete batch $id under $pairs (at or " +
            s"below the committed floor $newFloor) — check filesystem " +
            "permissions; replays are unaffected but the slice will be " +
            "retried every GC until removed")
    }
    newFloor
  }

  /** Whether batch `id` falls on an every-`n`-batches cadence (0 = never). */
  def onCadence(n: Int, id: Long): Boolean = n > 0 && id % n == n - 1

  /** One micro-batch of a sealed-batch sink writing under `outPath`.
    * A committed batch (marker present, or under the GC floor) is a
    * no-op. Otherwise, for a non-empty batch:
    *  1. unless `sealDir/batch_<id>` is sealed, `probe` the batch (it
    *     may write and seal side artifacts of its own first) and write
    *     its rows as the batch's slice, then seal — BEFORE any append,
    *     so a replay never re-probes an index that already holds this
    *     batch's rows;
    *  2. `survivors` of the batch given its SEALED slice (None when the
    *     probe wrote zero rows, so no partition exists; the replay path
    *     by construction) are passed to `append`, if any;
    *  3. `maintain` runs the sink's cadences over the batch.
    * The commit marker seals last. Appends and maintenance are
    * AT-LEAST-ONCE: a crash before the commit marker replays them. */
  def sealedBatch(batch: DataFrame, id: Long, outPath: String, sealDir: String)(
      probe: DataFrame => DataFrame,
      survivors: (DataFrame, Option[DataFrame]) => Option[DataFrame],
      append: DataFrame => Unit, maintain: DataFrame => Unit): Unit = {
    val spark = batch.sparkSession
    val fs = Hdfs.forPath(spark, outPath)
    if (isCommitted(fs, outPath, id)) return
    val cached = batch.cache()
    try {
      if (!cached.isEmpty) {
        val phaseSeal = new HPath(s"$outPath/$sealDir/batch_$id")
        if (!fs.exists(phaseSeal)) {
          Slices.writeSlice(probe(cached), outPath, id)
          seal(fs, phaseSeal)
        }
        survivors(cached, Slices.readSlice(spark, outPath, id))
          .filterNot(_.isEmpty).foreach(append)
        maintain(cached)
      }
      seal(fs, new HPath(committedDir(outPath), s"batch_$id"))
    } finally cached.unpersist(blocking = false)
  }
}
