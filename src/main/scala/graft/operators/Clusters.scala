package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.{Artifact, Slices, Table}

/** Persisted incremental near-dup CLUSTER REGISTRY — the operational
  * tail of the dedup lifecycle. The batch operators turn pairs into
  * clusters one-shot ([[Dedup.connectedComponents]], d7/c2); the
  * incremental lifecycle (d14/c6, `DocStreams.indexedDedupSink`)
  * produces match PAIRS batch by batch but until now discarded the
  * cluster structure — a user asking "which canonical document does
  * doc X map to" after a month of daily appends had to re-run
  * components over every pair ever emitted. The registry maintains
  * that answer as an on-disk table updated per batch, including the
  * hard case: a new document matching TWO previously-separate
  * clusters merges them (cross-batch union-find).
  *
  * Reference semantics: lexam_data_pipeline's first-writer-wins
  * identity grouping (backend/app/seed.py:87-109 — the first config
  * to see a question id creates the canonical row; later sightings
  * attach to it) generalized to the incremental corpus shape, where
  * "same identity" is a near-dup verdict instead of an id equality.
  *
  * ## Layout (all parquet, under `path/`)
  *
  *  - `members/` — one row per registered doc: (doc_id, root), where
  *    `root` is the cluster root AS OF the doc's insertion batch.
  *    Partitioned `batch_id=<b>/part=<doc_id mod nDocParts>`: the
  *    batch level makes a replayed update a byte-identical dynamic
  *    overwrite of its own partitions (the quarantine-trail recipe),
  *    the part level lets a batch update resolve its matched corpus
  *    ids with a PRUNED scan (static in-list over the cids' own
  *    partitions — the decon confirm-join trick) instead of reading
  *    the corpus-sized table.
  *  - `remaps/` — the merge LOG: (old_root, new_root) slices,
  *    partitioned by batch_id. A merge never rewrites resident member
  *    rows (at 100 TB that would be a full-table rewrite per batch);
  *    it appends a remap edge, and readers fold the log.
  *  - `meta/` — one row pinning `n_doc_parts` (partition arithmetic
  *    must never drift across updates).
  *
  * ## Read-time resolution
  *
  * `cluster(doc) = follow remaps from member.root to fixpoint`. The
  * remap log is merges-sized (tiny next to members), so
  * [[resolvedClusters]] collapses it first — path-doubling self-joins,
  * O(log chain-depth) rounds over the small table — then applies it to
  * members with ONE broadcast join: the big table is scanned once, no
  * iteration touches it. Remap chains only grow merge-generation deep;
  * [[compactRegistry]] folds the log into members (TableSwap-crash-safe)
  * and truncates it, restoring zero-join reads.
  *
  * Chains cannot cycle: a remap's `new_root` is the min id of the
  * merged component, strictly below `old_root`.
  *
  * ## Crash/replay contract
  *
  * [[updateRegistry]] is deterministic in (registry-before, newDocs,
  * pairs) and EXCLUDES its own batch_id when reading the registry, so
  * a replay recomputes identical rows and dynamic overwrite lands them
  * on the same partitions — idempotent under the curation sink's
  * at-least-once replays, no markers needed. A crash between the
  * members write and the remaps write leaves the batch's merges
  * unapplied until the replay (readers see pre-merge clusters — stale,
  * never mixed). [[compactRegistry]] folds members FIRST: re-applying
  * a remap log to already-folded members is a no-op (the old roots no
  * longer occur), so every partial-truncate crash state resolves
  * identically. Like the index families, maintenance is
  * single-maintainer and should not run concurrently with readers
  * (schedule [[compactRegistry]] from the sink's own cadence). */
object Clusters {

  /** Reserved batch id for [[compactRegistry]]'s consolidated archive
    * partition. Never a legal [[updateRegistry]] batch id: archived
    * rows must be invisible to replay self-exclusion and impossible to
    * dynamically overwrite — consolidating into a REAL id would let a
    * replay of exactly that id silently replace archive partitions
    * with its own rows (ids below it throw via the re-registration
    * guard; the floor id itself was the one silent hole). */
  val ArchiveBatchId: Long = Long.MinValue

  /** What [[updateRegistry]] does when a batch doc_id is ALREADY
    * registered under another batch id. [[Refuse]] and [[Skip]] pay a
    * members scan pruned to the batch's `part` residues — a batch
    * covering all residues degrades that to a full membership scan, so
    * feeds that guarantee globally-new ids at high cadence use
    * [[Trust]] and skip the scan entirely. */
  sealed trait OnRegistered
  /** Throw: a re-registration is a caller bug or an illegal replay
    * (the default — silent duplicate member rows would give
    * [[resolvedClusters]] two rows per doc). */
  case object Refuse extends OnRegistered
  /** First-writer-wins: drop already-registered docs AND their pairs
    * from the batch — the at-least-once upstream-feed setting, where
    * refusing would wedge a stream on every redelivered doc. */
  case object Skip extends OnRegistered
  /** No membership scan: the caller guarantees the batch's doc_ids
    * are globally new. A broken guarantee corrupts silently — use
    * only where uniqueness is structural (e.g. ids minted from an
    * append-only sequence). */
  case object Trust extends OnRegistered

  private def hp(s: String) = new org.apache.hadoop.fs.Path(s)

  /** Refuse to resolve (or update) a registry whose members table is
    * being folded: [[compactRegistry]] rewrites members via
    * [[graft.sources.TableSwap]], and inside the stage-aside window
    * the members dir is ABSENT — a racing [[resolvedClusters]] would
    * read an empty registry and return zero rows, silently. Same
    * pattern as the decon family's `_compacting` bracket
    * ([[Dedup.assertDeconNotCompacting]]): the marker seals before the
    * swap, clears after, and an orphaned marker (fold crashed) keeps
    * refusing until the nightly maintenance heals it — loud until
    * proven whole. */
  private[graft] def assertNotCompacting(
      fs: org.apache.hadoop.fs.FileSystem, path: String): Unit =
    if (fs.exists(hp(s"$path/_compacting")))
      throw new IllegalStateException(
        s"cluster registry at $path is being compacted (_compacting " +
          "marker present): its members table may be mid-swap and a " +
          "resolver could read it as empty — retry after the compaction " +
          "completes (an orphaned marker means it crashed; re-run " +
          "Maintenance.nightly to heal)")

  /** The persisted registry layout. The lifecycle re-opens
    * members+remaps+meta on every update/resolve/lookup. batch_id is
    * BIGINT, not the INT directory inference yields on small ids: the
    * API takes Long batch ids and the archive partition is
    * Long.MinValue, which must parse; `part` is written .cast("int"). */
  private[graft] val RegistryArtifact =
    Artifact("cluster registry", "updateRegistry", "meta")(
      Table("members", "doc_id BIGINT, root BIGINT, batch_id BIGINT, part INT",
        "batch_id", "part"),
      Table("remaps", "old_root BIGINT, new_root BIGINT, batch_id BIGINT",
        "batch_id"),
      Table("meta", "n_doc_parts INT"))

  private def readRegistryMeta(spark: SparkSession, path: String): Int =
    RegistryArtifact.meta(spark, path).getAs[Int]("n_doc_parts")

  /** members/ as a frame, or None before the first update. Runs the
    * staged-swap recovery first so a compaction that crashed between
    * its two renames (members momentarily absent) can never read as an
    * EMPTY registry — silent total forgetting. */
  private def readMembers(spark: SparkSession,
                          path: String): Option[DataFrame] = {
    val fs = graft.sources.Hdfs.forPath(spark, path)
    graft.sources.TableSwap.recover(fs, path, "members")
    if (Slices.ids(fs, s"$path/members").isEmpty) None
    else Some(RegistryArtifact("members").read(spark, path))
  }

  private def readRemaps(spark: SparkSession,
                         path: String): Option[DataFrame] = {
    val fs = graft.sources.Hdfs.forPath(spark, path)
    if (Slices.ids(fs, s"$path/remaps").isEmpty) None
    else Some(RegistryArtifact("remaps").read(spark, path))
  }

  /** Collapse the merge log to one-hop form: old_root → final root.
    * Path doubling (each round follows 2^i hops), so generations of
    * merges converge in log rounds; the fixpoint check is the HashMin
    * potential trick — roots only decrease, Σ unchanged ⇔ done. The
    * log is merges-sized, so every join here is broadcast-cheap. */
  private def collapsedRemaps(remaps: DataFrame): DataFrame = {
    var r = remaps.select(col("old_root"), col("new_root")).localCheckpoint()
    def potential(df: DataFrame): java.math.BigDecimal = {
      // decimal partials: roots may be 64-bit fingerprints, ANSI sum
      // of LongType would throw on overflow
      val d = df.agg(sum(col("new_root").cast("decimal(38,0)"))).head()
        .getDecimal(0)
      if (d == null) java.math.BigDecimal.ZERO else d
    }
    var prev = potential(r)
    var converged = false
    var iter = 0
    while (!converged && iter < 64) { // 2^64 chain depth ⇒ structural bug
      val b = r.select(col("old_root").as("b_old"), col("new_root").as("b_new"))
      val next = r.join(broadcast(b), col("new_root") === col("b_old"),
          "left_outer")
        .select(col("old_root"),
          coalesce(col("b_new"), col("new_root")).as("new_root"))
        .localCheckpoint()
      val s = potential(next)
      converged = s.compareTo(prev) == 0
      prev = s
      r = next
      iter += 1
    }
    if (!converged) throw new IllegalStateException(
      "remap log did not collapse — a cycle, which the min-root rule " +
        "makes structurally impossible; the log is corrupt")
    r
  }

  private def applyRemaps(members: DataFrame,
                          collapsed: Option[DataFrame]): DataFrame =
    collapsed match {
      case Some(r) =>
        members.join(broadcast(r), members("root") === r("old_root"),
            "left_outer")
          .select(members("doc_id"),
            coalesce(col("new_root"), members("root")).as("root"))
      case None => members.select(col("doc_id"), col("root"))
    }

  /** Register one arriving batch. `newDocs` carries `doc_id` (every
    * doc of the batch — survivors AND duplicates both get a cluster);
    * `pairs` carries (`bid`, `cid`): verified matches of batch docs
    * against ALREADY-REGISTERED docs (the incremental probe's output
    * shape — batch-vs-corpus only, like d14/c6; an unregistered `cid`
    * throws rather than silently founding a wrong cluster).
    *
    * Merge rule: the batch's (bid ↔ current-root-of-cid) bipartite
    * graph is closed transitively ([[Dedup.connectedComponents]] on a
    * batch-sized relation — two docs of one batch matching the same
    * cluster, or one doc bridging two clusters, land in one component);
    * each component's label is its min id, new member rows point at
    * it, and every pre-existing root it absorbs gets a remap edge.
    *
    * `nDocParts` is CREATION-time only (pinned in meta; later updates
    * read the pinned value and ignore the argument). `onRegistered`
    * decides what happens to batch docs the registry already knows —
    * see [[OnRegistered]]. */
  def updateRegistry(spark: SparkSession, path: String, batchId: Long,
                     newDocs: DataFrame, pairs: DataFrame,
                     nDocParts: Int = 64,
                     onRegistered: OnRegistered = Refuse): Unit = {
    import spark.implicits._
    require(batchId != ArchiveBatchId,
      s"batch id $ArchiveBatchId is reserved for the consolidation archive")
    val fs = graft.sources.Hdfs.forPath(spark, path)
    // refuse BEFORE the entry recovery: an orphaned _compacting marker
    // means a fold crashed mid-swap — the nightly owns that heal, and
    // an update that recovered-and-proceeded would leave the marker
    // refusing every reader while the registry silently moves on
    assertNotCompacting(fs, path)
    graft.sources.TableSwap.recover(fs, path, "members")
    // _SUCCESS, not dir existence: a first call that crashed mid
    // meta-write leaves an existing-but-unreadable dir, and an
    // existence check would wedge every retry on a schema-inference
    // error; an uncommitted meta re-creates cleanly (overwrite mode)
    val metaExists = fs.exists(hp(s"$path/meta/_SUCCESS"))
    val parts =
      if (metaExists) readRegistryMeta(spark, path)
      else { require(nDocParts >= 1,
        s"nDocParts must be >= 1, got $nDocParts"); nDocParts }
    // tiny frames consumed several times (validation, edges, labels,
    // writes) — pin once; batch-sized by contract
    val allIds = newDocs.select(col("doc_id").cast("long").as("doc_id"))
      .dropDuplicates("doc_id").localCheckpoint()
    val allPrs = pairs.select(col("bid").cast("long").as("bid"),
        col("cid").cast("long").as("cid"))
      .dropDuplicates("bid", "cid").localCheckpoint()
    // replay purity: a half-written prior attempt of THIS batch must
    // not feed its own recomputation — read the registry as of every
    // OTHER batch (partition pruning makes the exclusion free). The
    // archive partition carries the reserved id, so it can never be
    // excluded here.
    def excludeSelf(df: DataFrame) = df.where(col("batch_id") =!= lit(batchId))
    val existing = readMembers(spark, path)
    // one-row-per-doc contract: a doc_id re-registered under a LATER
    // batch id would give resolvedClusters two rows (possibly
    // different clusters), silently. Refuse/Skip pay a members scan
    // pruned to the batch's own part residues (vacuous for a batch
    // covering all residues — Trust is the documented out for feeds
    // with structural uniqueness).
    val (ids, prs) = (onRegistered, existing) match {
      case (Trust, _) | (_, None) => (allIds, allPrs)
      case (mode, Some(m)) =>
        val idParts = allIds.select(pmod(col("doc_id"), lit(parts.toLong))
            .cast("int").as("part"))
          .distinct().collect().map(_.getInt(0)).toSeq
        val already = excludeSelf(m).where(col("part").isin(idParts: _*))
          .join(allIds, "doc_id").select(col("doc_id")).localCheckpoint()
        if (already.isEmpty) (allIds, allPrs)
        else mode match {
          case Refuse => throw new IllegalArgumentException(
            s"${already.count()} doc(s) in this batch are already " +
              s"registered at $path under another batch id — " +
              "re-registering would break the one-row-per-doc contract " +
              "(replays must reuse their ORIGINAL batch id; pass " +
              "onRegistered = Skip for first-writer-wins feeds)")
          case _ =>
            // Skip: first-writer-wins — drop the redelivered docs AND
            // their pairs (their matches were recorded, or not, by
            // their original batch; deterministic in registry-before,
            // so replays of THIS batch recompute the same drop)
            (allIds.join(already, Seq("doc_id"), "left_anti")
               .localCheckpoint(),
             allPrs.join(already.withColumnRenamed("doc_id", "bid"),
               Seq("bid"), "left_anti").localCheckpoint())
        }
    }
    // every remaining pair bid must be a doc THIS batch registers: a
    // foreign bid would mint a component label with no member row — a
    // cluster canonical that resolvedClusters never returns, silently
    val foreignBids = prs.join(ids, prs("bid") === ids("doc_id"),
      "left_anti").count()
    if (foreignBids > 0) throw new IllegalArgumentException(
      s"$foreignBids pair bid(s) are not in this batch's newDocs — " +
        "pairs must link THIS batch's docs (bid) to already-registered " +
        s"docs (cid); a foreign bid would corrupt the registry at $path")
    val hasPairs = !prs.isEmpty
    val rooted =
      if (!hasPairs) prs.select(col("bid"), col("cid"), col("cid").as("root"))
      else existing match {
        case None => throw new IllegalArgumentException(
          s"registry at $path has no members yet but the batch carries " +
            "pairs — every cid must already be registered")
        case Some(m) =>
          val collapsed = readRemaps(spark, path).map(excludeSelf)
            .filterNot(_.isEmpty).map(collapsedRemaps)
          // pruned cid→root lookup: the cids' own partitions only
          // (bounded driver aggregate, ≤ nDocParts values)
          val cidParts = prs.select(pmod(col("cid"), lit(parts.toLong))
              .cast("int").as("part"))
            .distinct().collect().map(_.getInt(0)).toSeq
          val pruned = excludeSelf(m).where(col("part").isin(cidParts: _*))
            .select(col("doc_id"), col("root"))
          val current = applyRemaps(pruned, collapsed)
            .withColumnRenamed("doc_id", "cid")
          prs.join(current, Seq("cid"), "left_outer")
            .select(col("bid"), col("cid"), col("root"))
      }
    val checked = rooted.localCheckpoint()
    val missing = checked.where(col("root").isNull).count()
    if (missing > 0) throw new IllegalArgumentException(
      s"$missing pair cid(s) are not registered at $path — the registry " +
        "only links new docs to docs it already knows (register corpora " +
        "batch-first, pairs after)")
    // meta pins the partition arithmetic FOREVER — create it only once
    // every validation above has passed, so a rejected first call can
    // never pin the layout its retry meant to change
    if (!metaExists)
      RegistryArtifact("meta").writeRow(spark, RegistryArtifact("meta").at(path),
        parts)
    // batch-local transitive closure over (bid ↔ current root):
    // labels = min id per component — batch-sized graph, converges in
    // 2-3 HashMin rounds
    val labels =
      if (!hasPairs) ids.limit(0).select(col("doc_id").as("id"),
        col("doc_id").as("comp"))
      else Dedup.connectedComponents(
        checked.select(col("bid").as("id1"), col("root").as("id2")).distinct(),
        assumeDistinctPairs = true)
    val members = ids
      .join(labels.withColumnRenamed("id", "doc_id"), Seq("doc_id"),
        "left_outer")
      .select(col("doc_id"), coalesce(col("comp"), col("doc_id")).as("root"))
      .withColumn("part", pmod(col("doc_id"), lit(parts.toLong)).cast("int"))
      .withColumn("batch_id", lit(batchId))
    Slices.overwrite(RegistryArtifact("members").writer(members),
      RegistryArtifact("members").at(path))
    // merge edges: every absorbed pre-existing root points at the
    // component label (strictly smaller — the acyclicity invariant)
    val remapRows = checked.select(col("root")).distinct()
      .join(labels, col("root") === col("id"))
      .where(col("comp") =!= col("root"))
      .select(col("root").as("old_root"), col("comp").as("new_root"))
      .withColumn("batch_id", lit(batchId))
    Slices.overwrite(RegistryArtifact("remaps").writer(remapRows),
      RegistryArtifact("remaps").at(path))
  }

  /** The registry's answer: (doc_id, cluster_id) for every registered
    * doc, merges folded. One scan of members + one broadcast join
    * against the collapsed merge log (none at all right after a
    * [[compactRegistry]]). */
  def resolvedClusters(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    assertNotCompacting(graft.sources.Hdfs.forPath(spark, path), path)
    readMembers(spark, path) match {
      case None =>
        Seq.empty[(Long, Long)].toDF("doc_id", "cluster_id")
      case Some(m) =>
        val collapsed = readRemaps(spark, path)
          .filterNot(_.isEmpty).map(collapsedRemaps)
        applyRemaps(m.select(col("doc_id"), col("root")), collapsed)
          .withColumnRenamed("root", "cluster_id")
    }
  }

  /** Point lookup: (doc_id, cluster_id) for the given ids only — the
    * "which canonical doc for doc X" read path. [[resolvedClusters]]
    * scans the whole members table; this reads ONLY the ids' own
    * `part = doc_id mod n` partitions (a static in-list over at most
    * `docIds.size` of the `n_doc_parts` partition values — the same
    * pruned-member-read trick [[updateRegistry]] uses to resolve its
    * matched cids), then folds the merges-sized remap log with one
    * broadcast join. At 100 TB the members scan this avoids is the
    * whole table; what remains is O(ids + merge log). Unregistered
    * ids are absent from the result (no row, not a null).
    *
    * Bounded by construction: `docIds` is a driver-side argument (an
    * API lookup batch, not a corpus) — for corpus-sized resolution use
    * [[resolvedClusters]]. */
  def lookupClusters(spark: SparkSession, path: String,
                     docIds: Seq[Long]): DataFrame = {
    import spark.implicits._
    require(docIds.nonEmpty, "lookupClusters needs at least one doc id")
    assertNotCompacting(graft.sources.Hdfs.forPath(spark, path), path)
    readMembers(spark, path) match {
      case None => Seq.empty[(Long, Long)].toDF("doc_id", "cluster_id")
      case Some(m) =>
        val parts = readRegistryMeta(spark, path)
        // pmod, matching the write-side partition arithmetic
        val idParts = docIds.map(id => (((id % parts) + parts) % parts).toInt)
          .distinct
        val pruned = m.where(col("part").isin(idParts: _*))
          .where(col("doc_id").isin(docIds: _*))
          .select(col("doc_id"), col("root"))
        val collapsed = readRemaps(spark, path)
          .filterNot(_.isEmpty).map(collapsedRemaps)
        applyRemaps(pruned, collapsed).withColumnRenamed("root", "cluster_id")
    }
  }

  /** Fold the merge log into members and truncate it. Members rewrite
    * rides [[graft.sources.TableSwap]] (staged swap, crash-recoverable);
    * the log truncation is per-batch-dir deletes AFTER the fold lands,
    * so every crash state — fold staged, fold landed + log intact, log
    * half-deleted — resolves identically: re-applying remaps to folded
    * members is a no-op because the old roots no longer occur.
    * Single-maintainer, like the index compactions.
    *
    * `consolidateUpTo`: additionally rewrite member rows with
    * `batch_id <= upTo` under the single RESERVED partition
    * `batch_id = `[[ArchiveBatchId]] — the small-files answer for
    * long-running sinks, where a year of one-minute triggers is
    * ~5·10⁵ batch_id dirs × parts of pure directory metadata. Pass
    * ONLY ids the stream can no longer replay (at or below the sink's
    * marker-GC floor, the same rule as the pair-slice GC): a replay of
    * a consolidated id no-ops at its commit marker/floor before ever
    * reading members — and if one is driven anyway, the reserved
    * archive id means [[updateRegistry]]'s re-registration guard
    * throws loudly instead of a real-id archive being silently
    * dynamic-overwritten by its own floor batch. Resolution is
    * invariant — batch_id never participates in it. */
  def compactRegistry(spark: SparkSession, path: String,
                      consolidateUpTo: Option[Long] = None): Unit = {
    val fs = graft.sources.Hdfs.forPath(spark, path)
    // the reader bracket (see [[assertNotCompacting]]): sealed before
    // the members swap, cleared after — a resolver racing the fold
    // refuses instead of reading a mid-swap (absent) members table as
    // an empty registry. An orphaned marker is OURS to heal: the
    // single-maintainer protocol means no other fold can be live, so
    // recover, refold whatever is left, and clear.
    val marker = hp(s"$path/_compacting")
    val orphaned = fs.exists(marker)
    def clearMarker(): Unit =
      if (!fs.delete(marker, false) && fs.exists(marker))
        throw new java.io.IOException(
          s"could not clear the _compacting marker at $marker — " +
            "resolvers will keep refusing; clear it by re-running the " +
            "compaction or the nightly pass")
    graft.sources.TableSwap.recover(fs, path, "members")
    val remaps = readRemaps(spark, path).filterNot(_.isEmpty)
    val archiveWanted = consolidateUpTo.exists { upTo =>
      // a members rewrite is warranted only if >1 batch dir would
      // collapse (listing is metadata-cheap; the rewrite is not)
      Slices.ids(fs, s"$path/members").count(_ <= upTo) > 1
    }
    if (remaps.isEmpty && !archiveWanted) { if (orphaned) clearMarker(); return }
    val m = readMembers(spark, path)
      .getOrElse { if (orphaned) clearMarker(); return }
    val folded = remaps.map(collapsedRemaps) match {
      case Some(collapsed) =>
        m.join(broadcast(collapsed),
            m("root") === collapsed("old_root"), "left_outer")
          .select(m("doc_id"),
            coalesce(col("new_root"), m("root")).as("root"),
            m("part"), m("batch_id"))
      case None => m.select(col("doc_id"), col("root"), col("part"),
        col("batch_id"))
    }
    val archived = consolidateUpTo match {
      case Some(upTo) => folded.withColumn("batch_id",
        when(col("batch_id") <= upTo, lit(ArchiveBatchId))
          .otherwise(col("batch_id")))
      case None => folded
    }
    fs.create(marker, true).close()
    graft.sources.TableSwap.rewrite(spark, fs, path, "members") { tmp =>
      RegistryArtifact("members").writer(archived).parquet(tmp)
    }
    // clear BEFORE the log truncation: re-applying remaps to folded
    // members is a no-op (old roots no longer occur), so readers
    // racing the truncation are already safe
    clearMarker()
    if (remaps.nonEmpty) {
      Slices.ids(fs, s"$path/remaps").foreach { id =>
        if (!Slices.dropSlice(fs, s"$path/remaps", id)) throw new java.io.IOException(
          s"could not truncate merge-log slice $id after folding — " +
            "harmless to correctness (re-application is a no-op) but " +
            "the next compaction must retry it")
      }
      spark.catalog.refreshByPath(s"$path/remaps")
    }
  }
}
