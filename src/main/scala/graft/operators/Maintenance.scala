package graft.operators

import org.apache.spark.sql.SparkSession

/** The nightly index-maintenance orchestrator — ONE entry point
  * composing the maintenance loop an operator actually crons, for
  * both persisted index families:
  *
  *  - PQ-IVF ([[Similarity.savePqIvf]] layout): optional row-hygiene
  *    repair → [[Similarity.pqIvfDriftCheck]] (occupancy skew +
  *    sampled serving-config recall) → [[Similarity.rebuildPqIvf]] if
  *    drifted, else cell compaction when fragmented.
  *  - LSH ([[Dedup.saveLshIndex]] layout): optional repair → stats
  *    backfill when the side table is missing/uncommitted → growth
  *    check (band rows per bucket partition against a bound) →
  *    [[Dedup.rebuildLshIndex]] under scaled partitioning if
  *    outgrown, else band/stats compaction when fragmented.
  *  - Decontamination ([[Dedup.saveDeconIndex]] layout): hash-store
  *    compaction under the reader bracket → bloom sidecar
  *    verification/rebuild → legacy meta migration.
  *  - Cluster registry ([[Clusters]] layout): staged-fold recovery →
  *    merge-log fold when slices exist.
  *
  * Each pass returns a [[NightlyReport]] of what it did and why; a
  * healthy, compacted, in-bounds index reports no actions (the cron
  * is cheap to run every night). Every composed piece is individually
  * crash-safe (token-committed snapshots for rebuilds, stage-aside
  * swaps for rewrites), so a nightly pass that dies resumes cleanly
  * at the next cron tick — re-running [[nightly]] is always safe.
  */
object Maintenance {

  /** What one nightly pass did, in execution order. Actions:
    * "repair", "backfill-stats", "rebuild", "compact:<n-parts>". */
  case class NightlyReport(path: String, family: String,
                           actions: Seq[String],
                           drift: Option[Similarity.PqIvfDriftReport],
                           rowsPerPart: Option[Double]) {
    def rebuilt: Boolean = actions.contains("rebuild")
    def noOp: Boolean = actions.isEmpty
  }

  /** Drift-check knobs for the PQ family — `sampleMod`/`k`/`nProbe`/
    * `rescoreK` should mirror the SERVING configuration (the recall
    * probe measures what users see). */
  case class PqConfig(sampleMod: Int = 10, k: Int = 10, nProbe: Int = 4,
                      rescoreK: Int = 50, skewBound: Double = 4.0,
                      recallFloor: Double = 0.9, trainIters: Int = 10)

  /** Growth knobs for the LSH family: rebuild when band rows per
    * bucket partition exceed `rebuildAtRowsPerPart`, re-sizing to the
    * smallest power of two that brings them under
    * `targetRowsPerPart`. Defaults model the documented 100 TB sizing
    * (a few hundred MB of band rows per partition — see
    * [[Dedup.LshBucketParts]]); tests shrink them. */
  case class LshConfig(targetRowsPerPart: Long = 4L * 1000 * 1000,
                       rebuildAtRowsPerPart: Long = 16L * 1000 * 1000)

  /** Retrain-and-swap for the RETRAINED (never patched) artifact
    * families — bigram LMs ([[LmScore.save]], every estimator and
    * scope) and BPE tokenizers
    * ([[Bpe.saveTokenizer]]): counts and merge sequences are global,
    * so there is no partial update that preserves their semantics
    * (the LmScore.save scaladoc's argument), but the OPERATIONAL form still
    * needs atomicity — a plain `save` over a live dir rewrites three
    * tables one after another, and a crash between them serves a
    * MIXED model (new bigrams under old smoothing meta) to every
    * scorer until someone notices. This wraps the whole retrain in
    * [[graft.sources.TableSwap]]'s stage-aside root swap (the decon
    * re-save pattern): `save` materializes the NEW artifact into a
    * staging dir, the live root swaps in one rename window, and every
    * crash point heals at the next entry ([[TableSwap.recover]] runs
    * first) — a reader never sees half a model. Single-maintainer
    * like every swap in the engine: schedule when no scorer holds the
    * path open mid-plan (a Spark reader that already resolved its
    * files re-reads defensively; the swap is between jobs).
    *
    *   Maintenance.retrainAndSwap(spark, lmPath)(tmp =>
    *     LmScore.save(spec, freshTrain, tmp))
    */
  def retrainAndSwap(spark: SparkSession, path: String)(
      save: String => Unit): Unit = {
    val fs = graft.sources.Hdfs.forPath(spark, path)
    val root = fs.makeQualified(new org.apache.hadoop.fs.Path(path))
    val parent = root.getParent.toString
    graft.sources.TableSwap.recover(fs, parent, root.getName)
    graft.sources.TableSwap.rewrite(spark, fs, parent, root.getName)(save)
  }

  /** Run one nightly pass against the index at `path`. The family is
    * detected from the owning modules' descriptors (retrained families
    * and the margin index by directory, Hamming by its meta footer,
    * then `cells/` → PQ-IVF, `bands/` → LSH, `bloom/`+`hashes/` →
    * decon, `members/` → registry), whose marker it then requires.
    * `repair` additionally runs the row-hygiene repair first — the
    * containment step for the streaming sinks' at-least-once append
    * windows; leave it off when no curation stream writes the index. */
  def nightly(spark: SparkSession, path: String,
              maxFilesPerPart: Int = 8,
              pq: PqConfig = PqConfig(), lsh: LshConfig = LshConfig(),
              repair: Boolean = false): NightlyReport = {
    require(lsh.targetRowsPerPart <= lsh.rebuildAtRowsPerPart,
      s"targetRowsPerPart (${lsh.targetRowsPerPart}) must be <= " +
        s"rebuildAtRowsPerPart (${lsh.rebuildAtRowsPerPart}) — an inverted " +
        "config would rebuild every night without changing the partitioning")
    val fs = graft.sources.Hdfs.forPath(spark, path)
    // heal a crashed ROOT swap first (the decon family's re-save
    // stages the whole artifact aside): family-agnostic and a no-op
    // for the LSH/PQ layouts, which never swap their roots — without
    // it a decon index whose live dir died mid-swap has no meta/ to
    // detect the family from. ONLY the live-missing crash class: a
    // present live dir plus a staged _repair_tmp is what an
    // IN-PROGRESS re-save looks like from outside (its multi-minute
    // staging write), and recovering there would delete the staging
    // dir out from under the writer — the next save's own recover
    // handles that litter if it really was a crash
    val root = new org.apache.hadoop.fs.Path(path)
    val rootStaged = !fs.exists(root) &&
      fs.exists(new org.apache.hadoop.fs.Path(root.getParent,
        s"_repair_old_${root.getName}"))
    if (rootStaged)
      graft.sources.TableSwap.recover(fs, root.getParent.toString,
        root.getName)
    val r = nightlyFamily(spark, path, maxFilesPerPart, pq, lsh, repair)
    if (rootStaged) r.copy(actions = "heal-swap" +: r.actions) else r
  }

  /** [[nightly]] after the root-swap heal. */
  private def nightlyFamily(spark: SparkSession, path: String,
                            maxFilesPerPart: Int, pq: PqConfig,
                            lsh: LshConfig, repair: Boolean): NightlyReport = {
    val fs = graft.sources.Hdfs.forPath(spark, path)
    def exists(t: String) =
      fs.exists(new org.apache.hadoop.fs.Path(s"$path/$t"))
    // sub-table leftovers of a crashed bloom/meta rewrite
    // ([[Dedup.rebuildDeconBloom]]'s two swaps) can leave bloom/ or
    // even meta/ missing — recover them BEFORE the meta require and
    // the family detection that need them present. hashes/ is
    // decon-specific layout (LSH has bands/, PQ has cells/), so this
    // touches nothing on the other families' roots.
    if (exists("hashes")) {
      graft.sources.TableSwap.recover(fs, path, "bloom")
      graft.sources.TableSwap.recover(fs, path, "meta")
    }
    // the retrained families (LM roots in any estimator's layout, whose
    // directory names only LmScore knows; tokenizer roots merges/;
    // LangId roots li_model/) have no incremental maintenance by
    // design — retrains ride [[retrainAndSwap]], whose crash window is
    // exactly the root swap the heal above covers. Return before the
    // index-family detection (a tokenizer root has no meta/ at all).
    val retrained =
      if (Bpe.TokenizerArtifact.isSaved(spark, path)) Some("tokenizer")
      else LmScore.persistedSmoothing(exists).map {
        case LmScore.Smoothing.AddHalf => "lm"
        case LmScore.Smoothing.Kn => "kn-lm"
        case LmScore.Smoothing.Mkn => "mkn-lm"
      }.orElse(if (exists("li_model")) Some("langid") else None)
    if (retrained.isDefined)
      return NightlyReport(path, retrained.get, Nil, None, None)
    // margin-index roots ([[Similarity.saveMarginIndex]] layout:
    // cells/ + centroids/ + yden/ + margin_meta/) would otherwise be
    // misdetected as PQ by the cells/ probe below and crash the drift
    // check on the missing codebook tables. yden is retrained-not-
    // patched (a corpus property — rebuilds ride [[retrainAndSwap]]),
    // so the nightly here is cell compaction + the root heal above.
    if (Similarity.MarginArtifact.isSaved(spark, path)) {
      val compacted = Similarity.MarginArtifact("cells")
        .compact(spark, path, maxFilesPerPart)
      return NightlyReport(path, "margin-ivf",
        if (compacted.nonEmpty) Seq(s"compact:${compacted.size}") else Nil,
        None, None)
    }
    // Hamming-band roots ([[Dedup.saveHammingIndex]] layout: bands/ +
    // meta/, NO docs/ or stats/) would otherwise be misdetected as LSH
    // by the bands/ probe below — same band-partitioned shape, but the
    // meta row is (bits, bands, n_bucket_parts), which nightlyLsh's
    // stated LSH meta read would see as NULL k/rows_per_band.
    // The meta SCHEMA is the discriminator: only this family's meta
    // footer carries every stated Hamming meta column (`bits` is its
    // own; LSH has k/rows_per_band, PQ n_centroids, decon k/bloom
    // params) — a footer read, no data scan.
    if (Dedup.HammingArtifact.holds(spark, path))
      return nightlyHamming(spark, path, maxFilesPerPart, lsh, repair)
    // registry analogue: a [[Clusters.compactRegistry]] fold that died
    // between TableSwap's two renames leaves members/ absent with the
    // full table staged at _repair_old_members — recover it BEFORE the
    // family detection below, or the require throws on exactly the
    // crash state this nightly exists to heal. remaps/ and the staged
    // members dir are registry-specific layout (no other family has
    // either), so this touches nothing on the index families' roots.
    if (exists("remaps") || exists("_repair_old_members"))
      graft.sources.TableSwap.recover(fs, path, "members")
    val inflight = graft.sources.Rebuild.isInflight(spark, path)
    // family detection must survive the crash class the heal exists
    // for: a rebuild that died during its FIRST table overwrite leaves
    // cells/ (or bands/) absent for the whole window, so fall back to
    // the snapshot's persisted params when a rebuild is in flight
    val snapParams =
      if (inflight) graft.sources.Rebuild.snapshotParams(spark, path)
      else None
    val isPq = exists("cells") || snapParams.exists(_.contains("n_centroids"))
    val isLsh = !isPq &&
      (exists("bands") || snapParams.exists(_.contains("n_bucket_parts")))
    val isDecon = !isPq && !isLsh && exists("bloom") && exists("hashes")
    val isRegistry = !isPq && !isLsh && !isDecon && exists("members")
    require(isPq || isLsh || isDecon || isRegistry,
      s"$path has neither cells/ (PQ-IVF) nor bands/ (LSH) nor " +
        "bloom/+hashes/ (decon) nor members/ (cluster registry) nor a " +
        "rebuild snapshot identifying the family")
    // a rebuild in flight may have torn meta itself; its snapshot heals it
    if (!inflight)
      (if (isPq) Similarity.PqIvfArtifact else if (isLsh) Dedup.LshArtifact
       else if (isDecon) Dedup.DeconArtifact else Clusters.RegistryArtifact)
        .requireSaved(spark, path)
    if (isDecon) return nightlyDecon(spark, path, maxFilesPerPart)
    if (isRegistry) return nightlyRegistry(spark, path)
    // heal FIRST: a crashed rebuild left the in-flight marker, so every
    // probe (including tonight's drift check) fails loudly until the
    // rebuild is re-run from its committed snapshot — that re-run is
    // exactly what the nightly cron is for
    val healed =
      if (inflight) {
        if (isPq) Similarity.rebuildPqIvf(spark, path, pq.trainIters)
        else Dedup.rebuildLshIndex(spark, path)
        Seq("heal-rebuild")
      } else Nil
    val report =
      if (isPq) nightlyPq(spark, path, maxFilesPerPart, pq, repair)
      else nightlyLsh(spark, path, maxFilesPerPart, lsh, repair)
    report.copy(actions = healed ++ report.actions)
  }

  /** Nightly pass for the cluster-registry family
    * ([[Clusters]] layout — `members/` + `remaps/` + `meta`): recover
    * a crashed fold's staged members table, then fold the merge log
    * into members when any slices exist ([[Clusters.compactRegistry]]
    * — itself crash-safe in every partial state) so steady-state reads
    * stay one scan + zero remap joins. Single-maintainer like the
    * index families: schedule when no sink batch is mid-update (or
    * from the sink's own compactEvery cadence, which is serialized by
    * construction). */
  private def nightlyRegistry(spark: SparkSession,
                              path: String): NightlyReport = {
    val fs = graft.sources.Hdfs.forPath(spark, path)
    graft.sources.TableSwap.recover(fs, path, "members")
    val remapsDir = new org.apache.hadoop.fs.Path(s"$path/remaps")
    val slices =
      if (fs.exists(remapsDir))
        fs.listStatus(remapsDir).count(_.getPath.getName.startsWith("batch_id="))
      else 0
    // an orphaned _compacting marker = a fold crashed mid-run and every
    // resolver/update is refusing on it; the compaction owns the heal
    // (recover + refold + clear) — run it even with zero slices left,
    // so the marker always comes down
    val orphaned = fs.exists(
      new org.apache.hadoop.fs.Path(s"$path/_compacting"))
    val actions =
      if (slices > 0 || orphaned) {
        Clusters.compactRegistry(spark, path)
        (if (slices > 0) Seq(s"fold-log:$slices") else Nil) ++
          (if (orphaned) Seq("heal-compaction-bracket") else Nil)
      } else Nil
    NightlyReport(path, "registry", actions, None, None)
  }

  /** Nightly pass for the decontamination family
    * ([[Dedup.saveDeconIndex]] layout — `hashes/` + `bloom` + `meta`
    * under an atomically root-swapped dir): verify the bloom sidecar
    * against the hash store it prunes for (meta's recorded count must
    * match, the bloom must be readable, and — blooms have no false
    * negatives — every stored hash must probe positive), rebuild it
    * from the store if not ([[Dedup.rebuildDeconBloom]]'s internals,
    * fed tonight's already-read meta). Compaction runs FIRST, not
    * last: its entry sweep restores a hash partition a prior night's
    * crashed compaction left staged aside, and counting (or rebuilding
    * a bloom from) the torn store would bake false negatives into the
    * sidecar for a whole day — benchmark leaks scoring clean is the
    * exact failure this family exists to prevent. The full-store probe
    * scan is proportionate: a benchmark suite is small by definition
    * (the whole design reason the bloom broadcasts).
    *
    * CONCURRENT-READER bracket: [[graft.sources.TableSwap]]'s
    * single-maintainer caveat covers concurrent WRITERS; a concurrent
    * READER — a live curation stream probing this index — could list a
    * hash partition inside a compaction's two-rename window, read it
    * as empty, and score contaminated docs clean, with verdicts then
    * sealing (compaction never touches meta, so the sink's token
    * bracket alone cannot see it). So the compaction here runs under
    * the `_compacting` marker every probe/stamp refuses on
    * ([[Dedup.assertDeconNotCompacting]]), and when any partition was
    * swapped — tonight or by an orphaned prior crash — meta is
    * rewritten fingerprint-stably ([[Dedup.bumpDeconMeta]]) so a probe
    * spanning the whole window still fails its closing token check.
    * The bracket is taken ONLY when the needs-work probe
    * ([[graft.sources.Compaction.compactionWork]]) finds something to
    * move (fragmented partitions, staged crash leftovers, or an
    * orphaned marker) — a healthy night neither seals the marker nor
    * bumps meta, so live probes see no abort window at all. When work
    * exists: probes abort-and-retry during the swap slice, plus at
    * most one aborted trigger for the token bump — loud and
    * replayable, never a silent clean score. */
  private def nightlyDecon(spark: SparkSession, path: String,
                           maxFilesPerPart: Int): NightlyReport = {
    import org.apache.spark.sql.functions.col
    val actions = Seq.newBuilder[String]
    val fs = graft.sources.Hdfs.forPath(spark, path)
    // a crashed bumpDeconMeta leaves meta staged aside — restore it
    // before anything reads meta
    graft.sources.TableSwap.recover(fs, path, "meta")
    val marker = new org.apache.hadoop.fs.Path(s"$path/_compacting")
    // an orphaned marker = a prior nightly crashed mid-compaction; its
    // swaps may have completed without the meta bump, so tonight must
    // bump even if nothing is left to compact (a probe could have
    // spanned the crashed run's window and still be in flight)
    val orphaned = fs.exists(marker)
    // needs-work probe FIRST (read-only): a healthy night takes no
    // marker at all, so live probes see zero abort windows unless
    // partitions will actually move — the bracket's cost is paid only
    // when its protection is needed
    val store = Dedup.DeconArtifact("hashes")
    val (staged, fragmented) = graft.sources.Compaction.compactionWork(fs,
      store.at(path), "part=", maxFilesPerPart)
    if (orphaned || staged || fragmented > 0) {
      fs.create(marker, true).close()
      val compacted = store.compact(spark, path, maxFilesPerPart)
      if (compacted.nonEmpty) actions += s"compact:${compacted.size}"
      // anything that moved partitions tonight — a compaction, a
      // staged-dir restore, or an orphaned crash's completed swaps —
      // gets the fingerprint-stable token bump
      Dedup.bumpDeconMeta(spark, path)
      if (orphaned) actions += "heal-compaction-bracket"
      if (!fs.delete(marker, false) && fs.exists(marker))
        throw new java.io.IOException(
          s"could not clear the _compacting marker at $marker — probes " +
            "will keep refusing; clear it by re-running the nightly pass")
    }
    val m = Dedup.DeconArtifact.meta(spark, path)
    val hashes = Dedup.DeconArtifact("hashes").read(spark, path)
    val trueN = hashes.count()
    val falseNegatives = scala.util.Try(Dedup.readDeconBloom(spark, path))
      .map(bytes => hashes.where(!graft.functions.BloomExprs
        .mightContainLong(col("h"), bytes)).count())
    // legacy pre-digest metas also trip the heal: persisting
    // content_digest/bloom_digest takes every future fingerprint read
    // (the curation sink pays one per micro-batch) off the
    // full-store-scan fallback, and turns probe-side bloom
    // verification on for this index. Any meta rewrite here (this
    // migration, or a bloom heal) landing inside a live curation
    // batch's in-flight window aborts that ONE trigger via the sink's
    // meta-token bracket — loud and retryable, the replay re-enters
    // cleanly because every nightly action is fingerprint-stable
    // (spec-pinned); that beats a torn probe passing silently
    val legacyMeta = m.isNullAt(m.fieldIndex("content_digest")) ||
      m.isNullAt(m.fieldIndex("bloom_digest"))
    val damaged = falseNegatives.isFailure || falseNegatives.get > 0 ||
      m.getAs[Long]("n_hashes") != trueN
    if (damaged || legacyMeta) {
      Dedup.rebuildDeconBloomAs(spark, path, m.getAs[Int]("k"),
        m.getAs[Double]("fpp"), m.getAs[Int]("n_hash_parts"), hashes, trueN)
      actions += (if (damaged) "rebuild-bloom" else "migrate-meta")
    }
    NightlyReport(path, "decon", actions.result(), None, None)
  }

  private def nightlyPq(spark: SparkSession, path: String,
                        maxFilesPerPart: Int, pq: PqConfig,
                        repair: Boolean): NightlyReport = {
    val actions = Seq.newBuilder[String]
    if (repair) { Similarity.repairPqIvf(spark, path); actions += "repair" }
    val report = Similarity.pqIvfDriftCheck(spark, path, pq.sampleMod,
      pq.k, pq.nProbe, pq.rescoreK, pq.skewBound, pq.recallFloor)
    if (report.drifted) {
      Similarity.rebuildPqIvf(spark, path, pq.trainIters)
      actions += "rebuild"
    }
    // compaction runs after a rebuild too: the fresh partitioned write
    // leaves one file per shuffle task per cell, so a rebuild night
    // still ends tidy and the NEXT night is a true no-op
    val compacted = Similarity.PqIvfArtifact("cells")
      .compact(spark, path, maxFilesPerPart)
    if (compacted.nonEmpty) actions += s"compact:${compacted.size}"
    NightlyReport(path, "pq-ivf", actions.result(), Some(report), None)
  }

  /** Nightly pass for the Hamming-band family
    * ([[Dedup.saveHammingIndex]] layout — `bands/` + `meta/`):
    * optional row-hygiene repair ([[Dedup.repairHammingIndex]] — the
    * containment step for the streaming image sink's at-least-once
    * append window), then the LSH growth check against the same
    * bounds (band rows per bucket partition; rebuild re-bands under
    * the smallest power of two bringing rows-per-part under target —
    * [[Dedup.rebuildHammingIndex]], probe verdicts pinned), then
    * band compaction. No stats side table to consult or backfill:
    * the row total comes from the band table's parquet footers (a
    * count over a parquet scan materializes no columns — metadata
    * cost, unlike the LSH family's band rows whose count the stats
    * table exists to avoid re-aggregating per bucket). */
  private def nightlyHamming(spark: SparkSession, path: String,
                             maxFilesPerPart: Int, lsh: LshConfig,
                             repair: Boolean): NightlyReport = {
    val actions = Seq.newBuilder[String]
    if (repair) { Dedup.repairHammingIndex(spark, path); actions += "repair" }
    grow(path, "hamming", actions,
      Dedup.HammingArtifact.meta(spark, path).getAs[Int]("n_bucket_parts"),
      Dedup.HammingArtifact("bands").read(spark, path).count(), lsh)(
      n => Dedup.rebuildHammingIndex(spark, path, nBucketParts = Some(n)),
      Dedup.compactHammingBands(spark, path, maxFilesPerPart))
  }

  /** Band-family growth: past the rebuild bound, re-bucket (pure
    * layout) to the smallest power of two under target rows per part;
    * then compact — after a rebuild too, so the next night is a no-op. */
  private def grow(path: String, family: String,
                   actions: scala.collection.mutable.Builder[String, Seq[String]],
                   nParts: Int, totalRows: Long, lsh: LshConfig)(
                   rebuild: Int => Unit, compact: => Seq[Int]): NightlyReport = {
    val rowsPerPart = totalRows.toDouble / nParts
    if (rowsPerPart > lsh.rebuildAtRowsPerPart) {
      var target = nParts.toLong
      while (target < Int.MaxValue / 2 &&
             totalRows.toDouble / target > lsh.targetRowsPerPart)
        target *= 2
      rebuild(target.toInt)
      actions += "rebuild"
    }
    val compacted = compact
    if (compacted.nonEmpty) actions += s"compact:${compacted.size}"
    NightlyReport(path, family, actions.result(), None, Some(rowsPerPart))
  }

  private def nightlyLsh(spark: SparkSession, path: String,
                         maxFilesPerPart: Int, lsh: LshConfig,
                         repair: Boolean): NightlyReport = {
    val actions = Seq.newBuilder[String]
    if (repair) { Dedup.repairLshIndex(spark, path); actions += "repair" }
    else if (!Dedup.lshStatsCommitted(spark, path)) {
      // legacy or torn stats: put capped probes back on the
      // one-band-scan fast path (repair above already rebuilds stats)
      Dedup.backfillLshStats(spark, path)
      actions += "backfill-stats"
    }
    val nParts = Dedup.LshArtifact.meta(spark, path).getAs[Int]("n_bucket_parts")
    // band-row total from the tiny stats side table when committed
    // (slice counts sum to the band rows) — a nightly full scan of the
    // band data just to count it is the kind of cost that matters at
    // corpus scale; counting is the uncommitted-stats fallback only.
    // Known, bounded drift: an append that crashed between its bands
    // write and its stats slice undercounts by that batch until
    // repair/backfill rewrites stats exactly — tolerable for a
    // multiples-scale growth tripwire, and `repair = true` nights (the
    // sink-written-index configuration, where torn appends actually
    // occur) restore exactness as a side effect
    val totalRows =
      if (Dedup.lshStatsCommitted(spark, path))
        Dedup.LshArtifact("stats").read(spark, path)
          .agg(org.apache.spark.sql.functions.coalesce(
            org.apache.spark.sql.functions.sum("n"),
            org.apache.spark.sql.functions.lit(0L)))
          .head().getLong(0)
      else Dedup.LshArtifact("bands").read(spark, path).count()
    grow(path, "lsh", actions, nParts, totalRows, lsh)(
      n => Dedup.rebuildLshIndex(spark, path, nBucketParts = Some(n)),
      Dedup.compactLshBands(spark, path, maxFilesPerPart))
  }
}
