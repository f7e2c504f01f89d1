package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.operators.{Dedup, LmScore}
import graft.operators.LmScore.LmSpec

/** Streaming document operators — the continuous form of the corpus
  * curation loop. The reference has no stream processing; this is the
  * d14 incremental-dedup probe re-expressed as a Structured Streaming
  * query: instead of a daily batch probing a persisted index, documents
  * arrive continuously and the LSH bucket membership IS the state.
  */
object DocStreams {

  case class BandRow(doc_id: Long, sh: Seq[Long], band: Int, bucket: Long,
                     ts: java.sql.Timestamp)
  case class BucketState(members: Vector[(Long, Seq[Long])], closed: Boolean)
  case class NearDupMatch(doc_id: Long, match_id: Long, jaccard: Double)
  /** Internal emission: a match plus the emitting arrival's event time,
    * so the cross-band collapse downstream can re-watermark.
    * `private[streaming]`, not `private`: Janino-generated serializer
    * code cannot reference an object-private class, so every
    * SerializeFromObject over this type was silently falling back to
    * interpreted projection — in the per-arrival emission path of the
    * stateful dedup streams, the one place codegen matters most. */
  private[streaming] case class MatchEmit(doc_id: Long, match_id: Long,
                                          jaccard: Double,
                                          ts: java.sql.Timestamp)

  /** State horizon for the evicting dedup variants: a (band, bucket)
    * key with no arrival for `horizonMs` of EVENT time is retired
    * whole — members, closed-markers, and the match-pair dedup markers
    * all expire on the same watermark clock, so total state is bounded
    * by the distinct content of one horizon window instead of the whole
    * stream's history. Event-time (not processing-time) by design:
    * verdicts are a pure function of the data and replay/backfill runs
    * reproduce them bit for bit — and a query with processing-time
    * state timeouts never signals no-new-data in Spark's micro-batch
    * planner (it always "requires another batch" to fire wall-clock
    * timeouts), which busy-loops empty micro-batches forever and hangs
    * `processAllAvailable`; watermark timeouts only fire when data
    * moves the clock.
    *
    * The semantic trade is explicit: a duplicate arriving more than a
    * horizon of event time after its original is NOT flagged (the
    * resident was retired), and a retired closed bucket's cap resets —
    * dedup-within-horizon, the standard contract of every windowed
    * streaming dedup. `maxLateness` is the watermark delay granted to
    * out-of-order arrivals before the clock advances past them. */
  case class EvictionHorizon(eventTimeCol: String, horizonMs: Long,
                             maxLateness: String = "0 seconds")

  /** Streaming near-dup detection: each arriving document is shingled,
    * MinHash-signed and banded exactly like the batch/index paths (the
    * banding rule is shared code — [[Dedup.bandedFrame]]), then each
    * (band, bucket) group's resident members live in
    * flatMapGroupsWithState state. A new arrival is verified by EXACT
    * shingle Jaccard against its bucket's residents (the same
    * inter/(s1+s2−inter) arithmetic as the batch verification, so a
    * match here is a match there), emits every verified (doc, resident)
    * pair once (cross-band duplicates collapsed by the trailing
    * stateful pair dedup), and becomes a resident itself.
    *
    * `maxBucket` is the ONLINE form of d14's degenerate-bucket guard,
    * and doubles as the state bound: when a bucket's membership would
    * exceed the cap, the bucket closes — its members are dropped from
    * state and it never produces candidates again. Per-bucket state is
    * thereby bounded by `maxBucket` shingle sets, so total state grows
    * with DISTINCT content (buckets), never with a hot template's
    * repetition count. Unlike the batch guard (which replays the cap
    * over the complete corpus, dropping the whole bucket
    * retroactively), the online guard is prefix-dependent: matches
    * emitted before the bucket filled stay emitted — the unavoidable
    * difference between a replayable batch rule and an online one,
    * pinned in the spec.
    *
    * With `eviction` set, cold keys retire on the watermark clock
    * ([[EvictionHorizon]] — spec-pinned: a long distinct-content
    * stream's state rows plateau, and in-horizon verdicts still equal
    * the batch twin's). With `eviction = None` residency is permanent:
    * verdicts match the batch path for arbitrarily old originals, but
    * TWO state surfaces then grow without bound — the (band, bucket)
    * residency keys (with distinct content), and the trailing
    * cross-band pair collapse, which in the no-eviction mode is an
    * unwatermarked stateful `dropDuplicates` keeping one state row
    * PER EMITTED MATCH PAIR forever. The horizon bounds both on the
    * same watermark clock. `eviction = None` is therefore acceptable
    * only for bounded backfills replayed through the streaming path;
    * an unbounded production stream MUST set a horizon.
    *
    * State note at 100 TB: membership stores each doc's shingle set
    * once per band (×bands memory). The RocksDB state store
    * ([[EventStreams.withRocksDbStateStore]]) keeps that on local disk;
    * a leaner production variant stores signatures only and rescores
    * against a doc store, trading a stream-static join per trigger.
    */
  def streamingLshDedup(docs: DataFrame, k: Int, bands: Int,
                        rowsPerBand: Int, threshold: Double,
                        maxBucket: Int,
                        eviction: Option[EvictionHorizon] = None): Dataset[NearDupMatch] =
    statefulBucketDedup(bandRows(docs, k, bands, rowsPerBand, "sh", eviction),
      threshold, maxBucket, eviction,
      sh => { val s = sh.toSet; msh =>
        val inter = msh.count(s.contains)
        inter.toDouble / (sh.size + msh.size - inter) })

  /** [[streamingLshDedup]]'s LEAN-STATE sibling: bucket residents store
    * their MinHash SIGNATURE (bands·rowsPerBand longs — a fixed ~256 B
    * per member) instead of the full shingle set, and a new arrival is
    * scored by signature AGREEMENT — the fraction of equal signature
    * components, the unbiased MinHash estimator of Jaccard similarity.
    * The trade is exactness for state size: the exact variant's
    * verdicts are true Jaccard (a match there is a match in the batch
    * d14 path bit for bit), this one's are the estimator (spec-pinned
    * against a driver-side replay of the same rule); production
    * pipelines that need exact verdicts rescore this stream's matches
    * against a doc store. `threshold` is the minimum agreement
    * fraction; `eviction` as in [[streamingLshDedup]]. */
  def streamingLshDedupSigOnly(docs: DataFrame, k: Int, bands: Int,
                               rowsPerBand: Int, threshold: Double,
                               maxBucket: Int,
                               eviction: Option[EvictionHorizon] = None): Dataset[NearDupMatch] =
    statefulBucketDedup(bandRows(docs, k, bands, rowsPerBand, "sig", eviction),
      threshold, maxBucket, eviction,
      sig => msh => {
        var eq = 0; var i = 0
        while (i < sig.size) { if (sig(i) == msh(i)) eq += 1; i += 1 }
        eq.toDouble / sig.size
      })

  /** Shared front half: watermark (when evicting) → shingle/sign/band
    * via the batch operators, payload column (`sh` or `sig`) and the
    * event-time column carried through to the stateful core. */
  private def bandRows(docs: DataFrame, k: Int, bands: Int, rowsPerBand: Int,
                       payload: String,
                       eviction: Option[EvictionHorizon]): Dataset[BandRow] = {
    import docs.sparkSession.implicits._
    val src = eviction.map(e => docs.withWatermark(e.eventTimeCol, e.maxLateness))
      .getOrElse(docs)
    val sig = Dedup.minhashSignatures(src, k, bands * rowsPerBand,
      carry = eviction.map(_.eventTimeCol).toSeq)
    val banded = Dedup.bandedFrame(sig, bands, rowsPerBand,
      carry = payload +: eviction.map(_.eventTimeCol).toSeq)
    val renamed = if (payload == "sh") banded
                  else banded.withColumnRenamed(payload, "sh")
    (eviction match {
      case Some(e) => renamed.withColumnRenamed(e.eventTimeCol, "ts")
      case None    => renamed.withColumn("ts", lit(null).cast("timestamp"))
    }).as[BandRow]
  }

  /** A DEDICATED session for starting evicting dedup queries: a
    * `spark.newSession()` (same SparkContext and cached data; its OWN
    * SQL conf, temp views, and function registry — which is why this
    * method re-registers the native functions, and why a streaming
    * source built against a PARENT-session temp view must be rebuilt
    * against this one) carrying the two confs these queries need at
    * start time. Build the streaming source and start the
    * query from the returned session. A derived session — rather than
    * toggling the parent's confs around the start call — because SQL
    * confs are session-global: any unrelated streaming query another
    * thread started during the toggle window would also have begun
    * with the chained-stateful guard off, silently weakening Spark's
    * correctness check for a query that may genuinely need it.
    *
    * The two confs (both read only at query start):
    *
    *  1. `statefulOperator.checkCorrectness.enabled = false` — Spark's
    *     chained-stateful guard structurally rejects ANY stateful
    *     operator downstream of flatMapGroupsWithState once a
    *     watermark exists, because fMGWS *could* emit rows older than
    *     the global watermark. These queries cannot: every emission
    *     carries the emitting arrival's own event time from the batch
    *     being processed, and timeout invocations emit nothing — the
    *     structural check is a false positive here.
    *  2. `multipleWatermarkPolicy = max` — the query has two watermark
    *     nodes measuring the SAME clock: the source one (every
    *     arrival) and the match-stream one (only arrivals that
    *     produced a match). Under the default `min` policy a quiet
    *     match stream strands the global watermark at zero and no
    *     bucket ever retires; `max` follows the live source clock.
    *     The documented `max` caveat applies in the standard way: an
    *     arrival later than `maxLateness` may reach the bucket state
    *     but have its match dropped as late by the pair collapse —
    *     size `maxLateness` to the stream's real disorder, as with any
    *     watermark pipeline (in-horizon, in-order verdicts are
    *     spec-pinned equal to the batch twin's). */
  def evictionSession(spark: org.apache.spark.sql.SparkSession)
      : org.apache.spark.sql.SparkSession = {
    val s = spark.newSession()
    s.conf.set(
      "spark.sql.streaming.statefulOperator.checkCorrectness.enabled", "false")
    s.conf.set("spark.sql.streaming.multipleWatermarkPolicy", "max")
    // the function registry is part of per-session state: the dedup
    // operators' native expressions must exist in THIS session too
    graft.functions.Registry.registerAll(s)
    s
  }

  /** The streaming form of the c6 daily lifecycle — continuous
    * curation against a PERSISTED LSH index ([[Dedup.saveLshIndex]]):
    * each micro-batch probes the index
    * ([[Dedup.dedupAgainstLshIndex]]), writes its verdicts, appends
    * the survivors ([[Dedup.appendToLshIndex]]), and compacts every
    * `compactEvery` batches. foreachBatch is the right tool, not a
    * stateful operator: the probe→append barrier is per-batch
    * transactional ordering against an on-disk index, which state
    * APIs cannot express — and it keeps the index readable by every
    * BATCH consumer mid-stream.
    *
    * Delivery contract, stated honestly: verdicts are EXACTLY-ONCE —
    * two-phase: the probe's verdicts are written (dynamic partition
    * overwrite keyed by batch_id) and sealed by a verdicts marker
    * BEFORE the append, so a replay after any later crash point reuses
    * the sealed verdicts verbatim instead of re-probing (re-probing
    * would see the batch's own appended rows and flip intra-batch
    * near-dups to is_dup — the self-match guard only covers identical
    * doc_ids); a final commit marker skips fully-committed batches
    * wholesale. Index appends are AT-LEAST-ONCE: a crash between the
    * append and the final marker makes the replay append the survivors
    * again. That window is contained twice over — probe verdicts of
    * LATER batches cannot move under duplicate index rows (the probe
    * dedups verified pairs; spec-pinned) — though a capped probe's
    * bucket sizes do inflate until [[Dedup.repairLshIndex]] restores
    * row-level hygiene. Run repair on the operational cadence, like
    * compaction. */
  /** @param registryPath maintain a persisted cluster registry
    *   ([[graft.operators.Clusters]]) alongside the index: each batch's
    *   probe runs in PAIRS form, the pairs are persisted under
    *   `verdictsPath/_pairs/batch_id=<id>` (the replay artifact —
    *   sealed together with the verdicts they imply), verdicts are
    *   derived from them (bit-identical to the pairless mode,
    *   spec-pinned), and the registry is updated after the survivor
    *   append — every batch doc registered, merges applied. Enable
    *   from the stream's FIRST batch, with the index's save-time
    *   corpus pre-registered (one `updateRegistry` with a reserved
    *   batch id, e.g. -1): a cid the registry does not know fails the
    *   batch loudly. A doc REDELIVERED by the upstream in a new batch
    *   is skipped first-writer-wins (its original registration stands;
    *   its pairs drop with it — `Clusters.Skip`). Registry updates are
    *   replay-pure, so the sink's at-least-once crash windows leave it
    *   exactly-once like the verdicts; [[gcSinkMarkers]] prunes pairs
    *   dirs at or below the marker floor on the same cadence. */
  def indexedDedupSink(docs: DataFrame, indexPath: String,
                       verdictsPath: String, threshold: Double,
                       maxBucket: Option[Int] = None,
                       compactEvery: Int = 0,
                       maxFilesPerPart: Int = 8,
                       registryPath: Option[String] = None)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        processIndexedBatch(batch.toDF(), id, indexPath, verdictsPath,
          threshold, maxBucket, compactEvery, maxFilesPerPart, registryPath)
    }

  /** One micro-batch of [[indexedDedupSink]] — exposed so the replay
    * and crash-window specs can drive it directly. */
  private[graft] def processIndexedBatch(batch: DataFrame, id: Long,
      indexPath: String, verdictsPath: String, threshold: Double,
      maxBucket: Option[Int], compactEvery: Int,
      maxFilesPerPart: Int,
      registryPath: Option[String] = None): Unit =
    sealedIndexBatch(batch, id, verdictsPath, "doc_id", compactEvery,
      registryPath)(
      Dedup.dedupAgainstLshIndex(_, indexPath, threshold, maxBucket),
      Dedup.dedupPairsAgainstLshIndex(_, indexPath, threshold, maxBucket),
      // verdict population: docs with at least one shingle
      Dedup.shingledDocIds(_,
        Dedup.LshArtifact.meta(batch.sparkSession, indexPath).getAs[Int]("k")),
      Dedup.appendToLshIndex(_, indexPath),
      Dedup.compactLshBands(batch.sparkSession, indexPath, maxFilesPerPart))

  /** The sealed-verdict protocol shared by [[processIndexedBatch]] and
    * [[processImageBatch]], over the index's probes keyed by `idCol`:
    * `verdicts` and `pairs` probe a batch, `population` is the verdict
    * population (`doc_id`) of a batch, `append` adds survivors to the
    * index and `compact` runs on the `compactEvery` cadence. */
  private def sealedIndexBatch(batch: DataFrame, id: Long,
      verdictsPath: String, idCol: String, compactEvery: Int,
      registryPath: Option[String])(
      verdicts: DataFrame => DataFrame, pairs: DataFrame => DataFrame,
      population: DataFrame => DataFrame, append: DataFrame => Unit,
      compact: => Unit): Unit = {
    import org.apache.hadoop.fs.{Path => HPath}
    val spark = batch.sparkSession
    val fs = graft.sources.Hdfs.forPath(spark, verdictsPath)
    val marker = new HPath(s"$verdictsPath/_committed/batch_$id")
    // replayed, fully committed (marker present, or the id sits under
    // the marker-GC floor — [[gcSinkMarkers]]): no-op
    if (SinkMarkers.isCommitted(fs, verdictsPath, id)) return
    def seal(p: HPath): Unit = SinkMarkers.seal(fs, p)
    val cached = batch.cache()
    try {
      if (!cached.isEmpty) {
        // phase 1 — verdicts, sealed BEFORE any append so a replay
        // can never recompute them against an index that already
        // holds this batch's survivors
        val verdictSeal = new HPath(s"$verdictsPath/_verdicts/batch_$id")
        def pairsDir = new HPath(s"$verdictsPath/_pairs/batch_id=$id")
        // the pairs slice's own commit marker: a zero-pair batch
        // writes NOTHING under _pairs (dynamic overwrite of an empty
        // frame creates no dir), so dir-absence alone cannot
        // distinguish "legitimately no matches" from "slice lost /
        // stream predates registry mode" — the seal makes the
        // artifact unambiguous
        val pairsSeal = new HPath(s"$verdictsPath/_pairs_sealed/batch_$id")
        def storedPairs = if (fs.exists(pairsDir))
          spark.read.parquet(pairsDir.toString).select(col("bid"), col("cid"))
        else spark.range(0).select(col("id").as("bid"), col("id").as("cid"))
        if (!fs.exists(verdictSeal)) {
          registryPath match {
            case None =>
              verdicts(cached)
                .withColumn("batch_id", lit(id))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("batch_id").parquet(verdictsPath)
            case Some(_) =>
              // registry mode: the PAIRS are the primary probe
              // artifact (the registry needs every match, not the min
              // rollup) — persist them first, derive the verdicts from
              // the persisted form (one band-scan probe total; the
              // read-back is the same materialization barrier as the
              // verdict reuse on replay), seal both under one marker
              pairs(cached)
                .withColumn("batch_id", lit(id))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("batch_id").parquet(s"$verdictsPath/_pairs")
              seal(pairsSeal)
              Dedup.verdictsFromPairs(population(cached), storedPairs)
                .withColumnRenamed("doc_id", idCol)
                .withColumn("batch_id", lit(id))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("batch_id").parquet(verdictsPath)
          }
          seal(verdictSeal)
        }
        // phase 2 — survivors come off the SEALED verdicts (the same
        // materialization barrier as the batch lifecycle, and the
        // replay path by construction). Reading the one partition dir
        // directly keeps the per-trigger listing O(1), not O(every
        // batch ever committed). An LSH batch whose docs ALL had empty
        // shingle sets (blank/too-short text) probes to zero rows, so
        // the partition dir never exists — nothing to append; reading
        // it anyway would throw on every replay behind the seal.
        val verdictDir = new HPath(s"$verdictsPath/batch_id=$id")
        if (fs.exists(verdictDir)) {
          val survivors = cached.join(
            spark.read.parquet(verdictDir.toString)
              .where(!col("is_dup")).select(col(idCol)),
            idCol)
          if (!survivors.isEmpty) append(survivors)
        }
        if (compactEvery > 0 && id % compactEvery == compactEvery - 1)
          compact
        // phase 3 — cluster registry, off the SEALED pairs (never a
        // re-probe: the index already holds this batch's survivors on
        // a replay). updateRegistry is replay-pure, so any crash
        // between here and the final marker re-lands identical rows.
        registryPath.foreach { reg =>
          // the registry consumes the sealed pairs verbatim — a batch
          // whose verdicts are sealed but whose pairs artifact is
          // unaccounted for (no seal, no dir: the stream ran its
          // earlier batches without registryPath, or the slice was
          // lost/GC'd prematurely) must NOT register as all-singletons
          // behind sealed match verdicts. The dir-presence disjunct
          // grandfathers registry-mode batches sealed before the
          // pairs seal existed.
          if (!fs.exists(pairsSeal) && !fs.exists(pairsDir))
            throw new IllegalStateException(
              s"registry mode: batch $id has sealed verdicts but no " +
                s"pairs artifact ($pairsDir absent and no $pairsSeal) — " +
                "its match pairs are unknowable, so updating the " +
                "registry would register the whole batch as singletons. " +
                "Re-run the batch's probe (discard its _verdicts marker " +
                "and verdict partition, then replay), or register this " +
                "history with a one-shot backfill, before enabling " +
                "registry mode over it.")
          // Skip = first-writer-wins (the engine's S2 semantics): an
          // at-least-once upstream redelivering an old doc in a NEW
          // batch must neither wedge the stream (Refuse) nor mint a
          // duplicate member row (Trust) — its original registration
          // stands and its pairs are dropped with it, deterministically
          graft.operators.Clusters.updateRegistry(spark, reg, id,
            cached.select(col(idCol).as("doc_id")), storedPairs,
            onRegistered = graft.operators.Clusters.Skip)
          if (compactEvery > 0 && id % compactEvery == compactEvery - 1)
            graft.operators.Clusters.compactRegistry(spark, reg)
        }
      }
      seal(marker)
    } finally cached.unpersist(blocking = false)
  }

  /** Retention GC for [[indexedDedupSink]]'s marker dirs: every
    * committed micro-batch leaves one `_committed/batch_<id>` and one
    * `_verdicts/batch_<id>` file forever — months of 1-minute triggers
    * accrete ~10⁵ small files of pure metadata on an object store.
    * Prunes both for ids `<= upTo` via [[SinkMarkers.gc]], which first
    * records the floor as a single name-encoded file so a replay of a
    * pruned id is STILL a no-op (the exactly-once contract survives
    * GC — spec-pinned). Run it on the operational cadence with an
    * `upTo` at or below the stream checkpoint's committed offset; the
    * verdict DATA partitions are never touched — EXCEPT the per-batch
    * probe-pair partitions a registry-mode stream persists
    * (`_pairs/batch_id=<id>`), which exist only to make replays
    * re-derive identical verdicts and registry rows: at or below the
    * floor a replay no-ops before ever reading them, so they are
    * pruned on the same cadence. Registry-mode streams should also
    * pass the returned floor to
    * `Clusters.compactRegistry(spark, reg, consolidateUpTo = Some(floor))`
    * — it folds the GC'd batches' member partitions into one archive
    * dir (the registry-side answer to the same small-files pressure).
    * Unlike this marker GC (which only touches dead marker files), the
    * consolidation REWRITES the members table: run it from the sink's
    * own serialized cadence (compactEvery) or with the stream stopped,
    * never concurrently with a live batch — the TableSwap
    * single-maintainer rule. Returns the floor now in effect. */
  def gcSinkMarkers(spark: org.apache.spark.sql.SparkSession,
                    verdictsPath: String, upTo: Long): Long = {
    val floor = SinkMarkers.gc(spark, verdictsPath, upTo,
      Seq("_verdicts", "_pairs_sealed"))
    gcPairSlices(spark, verdictsPath, floor)
    floor
  }

  /** [[gcSinkMarkers]] for [[curationSink]] streams: additionally
    * prunes the per-batch decon-fingerprint markers (`_decon/
    * batch_<id>_<fp>`) on the same committed floor — a batch at or
    * below the floor replays as a no-op before the fingerprint is
    * ever consulted, so its marker is dead weight. */
  def gcCurationMarkers(spark: org.apache.spark.sql.SparkSession,
                        verdictsPath: String, upTo: Long): Long = {
    val floor = SinkMarkers.gc(spark, verdictsPath, upTo,
      Seq("_verdicts", "_decon", "_pairs_sealed"))
    gcPairSlices(spark, verdictsPath, floor)
    floor
  }

  private def gcPairSlices(spark: org.apache.spark.sql.SparkSession,
                           verdictsPath: String, floor: Long): Unit = {
    val fs = graft.sources.Hdfs.forPath(spark, verdictsPath)
    val root = new org.apache.hadoop.fs.Path(s"$verdictsPath/_pairs")
    if (!fs.exists(root)) return
    fs.listStatus(root).map(_.getPath)
      .filter(_.getName.startsWith("batch_id="))
      .filter(_.getName.stripPrefix("batch_id=").toLongOption
        .exists(_ <= floor))
      .foreach { p =>
        // checked like compactRegistry's remap-slice truncation: a
        // persistently undeletable slice must surface, not be silently
        // re-attempted forever (harmless to replays — the id is under
        // the marker floor — but an operator needs to see a stuck GC)
        if (!fs.delete(p, true) && fs.exists(p))
          throw new java.io.IOException(
            s"pairs-slice GC could not delete $p (batch is at or below " +
              s"the committed floor $floor) — check filesystem " +
              "permissions; replays are unaffected but the slice will " +
              "be retried every GC until removed")
      }
  }

  /** Delete an UNSEALED attempt's verdict + pairs partitions (and the
    * pairs seal — seal first, so no crash state leaves a seal vouching
    * for a purged slice). Only callable before anything for the batch
    * is sealed; the recomputation is the only legitimate source of the
    * batch's rows from that point. */
  private def purgeUnsealedAttempt(fs: org.apache.hadoop.fs.FileSystem,
                                   verdictsPath: String, id: Long): Unit =
    Seq(s"$verdictsPath/_pairs_sealed/batch_$id",
        s"$verdictsPath/batch_id=$id",
        s"$verdictsPath/_pairs/batch_id=$id").foreach { p =>
      val dir = new org.apache.hadoop.fs.Path(p)
      if (fs.exists(dir) && !fs.delete(dir, true))
        throw new IllegalStateException(
          s"could not delete the stale attempt's partition $dir " +
            "written against the superseded decon index — " +
            "aborting before it could leak into a committed batch")
    }

  /** Gate threshold for [[curationSink]]'s repetition stage: a doc
    * whose positional duplicate-`dupN`-gram character coverage
    * ([[graft.operators.TextAnalysis.repetitionSignals]]'s
    * `dup<N>_char_frac` — the Gopher rule) is at or above
    * `maxCharFrac` is quarantined before dedup ever sees it. */
  case class RepetitionGate(dupN: Int = 10, maxCharFrac: Double = 0.10)

  /** The FULL streaming curation pipeline — the c7 batch composition
    * as one continuous sink. Each micro-batch is
    * (1) repetition-gated (pure per-row Gopher dup-gram arithmetic,
    * zero shuffles), (2) decontaminated against the PERSISTED
    * benchmark index ([[Dedup.decontaminateAgainstDeconIndex]] —
    * one bloom-prefiltered, partition-pruned probe), then (3) run
    * through the exactly-once indexed dedup lifecycle
    * ([[processIndexedBatch]]: sealed verdicts → survivor append →
    * periodic compaction), so only repetition-clean, leak-free,
    * novel documents ever enter the index. Docs dropped by (1) or
    * (2) are recorded under `quarantinePath` as (doc_id, stage) rows
    * partitioned by batch_id and written with dynamic partition
    * overwrite — a replay re-derives the identical rows and
    * overwrites in place, so the audit trail is idempotent without
    * its own marker protocol.
    *
    * Crash contract: stages (1)-(2) are PURE functions of the batch
    * and the decon index, so a replay recomputes the same curated
    * subset and the dedup stage's sealed-verdict/commit markers carry
    * the exactly-once story unchanged ([[indexedDedupSink]]'s
    * contract, verbatim). That purity is also the one operational
    * requirement: the decon index must not be RE-SAVED while a
    * crashed batch may still replay — a changed benchmark changes
    * stage-(2) verdicts, and the replayed curated cohort would no
    * longer be the one the sealed dedup verdicts describe. Re-save
    * the benchmark between committed batches, never mid-window. The
    * requirement is ENFORCED, not just documented: each batch records
    * the index's content fingerprint
    * ([[graft.operators.Dedup.deconIndexFingerprint]] — verdict-
    * relevant content only, so bloom heals and tuning-only re-saves
    * never trip) in a name-encoded `_decon/batch_<id>_<fp>` marker
    * before its dedup verdicts can seal, re-checks it after the probe
    * (a mid-batch re-save aborts before anything seals), and a replay
    * that finds sealed verdicts under a different — or missing —
    * fingerprint throws instead of silently appending the wrong
    * survivors (all spec-pinned; a fingerprint change before the seal
    * is safe and just re-records). Use [[gcCurationMarkers]] — not
    * [[gcSinkMarkers]] — for marker retention on these streams so the
    * `_decon` markers are pruned on the same floor. */
  def curationSink(docs: DataFrame, indexPath: String, deconPath: String,
                   verdictsPath: String, threshold: Double,
                   maxContainment: Double = 0.8,
                   gate: Option[RepetitionGate] = Some(RepetitionGate()),
                   quarantinePath: Option[String] = None,
                   maxBucket: Option[Int] = None,
                   compactEvery: Int = 0,
                   maxFilesPerPart: Int = 8,
                   registryPath: Option[String] = None)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        processCurationBatch(batch.toDF(), id, indexPath, deconPath,
          verdictsPath, threshold, maxContainment, gate, quarantinePath,
          maxBucket, compactEvery, maxFilesPerPart, registryPath)
    }

  /** One micro-batch of [[curationSink]] — exposed so the replay and
    * crash-window specs can drive it directly. */
  private[graft] def processCurationBatch(batch: DataFrame, id: Long,
      indexPath: String, deconPath: String, verdictsPath: String,
      threshold: Double, maxContainment: Double,
      gate: Option[RepetitionGate], quarantinePath: Option[String],
      maxBucket: Option[Int], compactEvery: Int,
      maxFilesPerPart: Int,
      registryPath: Option[String] = None): Unit = {
    import org.apache.spark.sql.functions.lit
    val spark = batch.sparkSession
    val fs = graft.sources.Hdfs.forPath(spark, verdictsPath)
    // fully committed: the curated subset went through the dedup
    // lifecycle and the quarantine partition was overwritten BEFORE
    // the final marker sealed — nothing to redo
    if (SinkMarkers.isCommitted(fs, verdictsPath, id)) return
    val cached = batch.cache()
    try {
      if (cached.isEmpty) {
        // nothing arrived: let the dedup stage seal the commit marker
        processIndexedBatch(cached, id, indexPath, verdictsPath,
          threshold, maxBucket, compactEvery, maxFilesPerPart,
          registryPath)
        return
      }
      // Decon-staleness tripwire. The crash contract requires the decon
      // index to stay static while this batch can still replay: the
      // dedup stage's verdicts are sealed against the curated cohort
      // stage (2) produced, and a replay recomputes stage (2) from the
      // LIVE index. Record the index's content fingerprint in a
      // name-encoded marker BEFORE anything downstream can seal; a
      // replay that finds sealed dedup verdicts under a DIFFERENT
      // fingerprint — or under NO recorded fingerprint (a stream
      // upgraded mid-window, or manual marker surgery) — fails loudly,
      // because silently proceeding would join the recomputed curated
      // cohort against verdicts describing a different one and corrupt
      // the index. A fingerprint change BEFORE the verdict seal is safe
      // (nothing derived from the old index survives), so the marker is
      // re-recorded and the batch proceeds — re-saves between committed
      // batches stay legal.
      // fingerprint and meta token come from ONE meta read, so the
      // token bracket opened here covers the marker seal below: a
      // re-save landing anywhere between this read and the post-probe
      // token check aborts the batch before anything seals, rather
      // than sealing a marker the probe never saw
      val (fp, tokBefore) =
        graft.operators.Dedup.deconIndexStamp(spark, deconPath)
      val deconDir = new org.apache.hadoop.fs.Path(s"$verdictsPath/_decon")
      def verdictsSealed: Boolean = fs.exists(
        new org.apache.hadoop.fs.Path(s"$verdictsPath/_verdicts/batch_$id"))
      def refuse(recorded: String): Nothing = {
        // say WHAT failed honestly: a genuinely changed index, a
        // fingerprint from an older format (an upgrade crossed the
        // window — the index itself may be untouched, but that can no
        // longer be proven), or no record at all
        val why =
          if (recorded == "absent")
            "no decon fingerprint is on record for it (a stream upgraded " +
              "mid-window, or manual marker surgery)"
          else if (!recorded.startsWith("v2"))
            s"its recorded fingerprint $recorded predates the current " +
              "fingerprint format (an upgrade crossed the window), so the " +
              "two cannot be compared"
          else
            s"its recorded decon fingerprint $recorded does not match the " +
              s"live index at $deconPath ($fp)"
        throw new IllegalStateException(
          s"batch $id has sealed dedup verdicts inside a crash-replay " +
            s"window, but $why: this replay cannot prove it reconstructs " +
            "the curated cohort the verdicts describe. Restore the index " +
            "the verdicts were computed against (then, for a format " +
            "mismatch, re-seal the _decon marker with the current " +
            "fingerprint), or discard the batch's _verdicts/_decon markers " +
            "AND its verdict partition, then restart; re-save benchmarks " +
            "only between committed batches (the gcCurationMarkers " +
            "cadence).")
      }
      SinkMarkers.suffixOf(fs, deconDir, id) match {
        case Some(old) if old != fp =>
          if (verdictsSealed) refuse(old)
          // the stale marker MUST be gone before the new one seals:
          // two coexisting batch_<id>_* markers make suffixOf
          // nondeterministic (whichever listStatus returns first), so
          // a silently failed delete could later refuse a valid replay
          // or bless a stale fingerprint
          val stale = new org.apache.hadoop.fs.Path(deconDir,
            s"batch_${id}_$old")
          if (!fs.delete(stale, false) && fs.exists(stale))
            throw new IllegalStateException(
              s"could not delete the stale decon fingerprint marker " +
                s"$stale; sealing a second marker for batch $id would " +
                "make the replay tripwire nondeterministic — aborting " +
                "this trigger (the replay re-enters cleanly)")
          // the crashed attempt may have written verdict (and, in
          // registry mode, probe-pair) partitions against the OLD
          // index before dying unsealed. The recomputation under the
          // new index rewrites them via dynamic overwrite — EXCEPT
          // when it produces zero rows, which overwrites nothing: the
          // stale partitions would then survive into a committed batch
          // (phantom verdicts; in registry mode, verdictsFromPairs and
          // updateRegistry would consume the stale pairs outright).
          // Nothing is sealed yet, so deleting them here is always
          // safe — the recomputation is the only legitimate source of
          // this batch's rows.
          purgeUnsealedAttempt(fs, verdictsPath, id)
          SinkMarkers.seal(fs, new org.apache.hadoop.fs.Path(deconDir,
            s"batch_${id}_$fp"))
        case Some(_) => // same index — the idempotent-replay case
        case None =>
          // sealed verdicts with NO fingerprint on record: the index
          // they were computed against is unknowable — blessing the
          // live one would be exactly the silent wrong-survivor append
          // this tripwire exists to stop
          if (verdictsSealed) refuse("absent")
          // unsealed leftovers can sit here too: a first attempt that
          // died mid-write, or a changed-index purge that crashed
          // after deleting its stale fingerprint marker but before
          // purging — both replay as None with partitions whose index
          // provenance is unknowable, and a zero-row recomputation
          // would commit around them exactly like the Some(old) case
          purgeUnsealedAttempt(fs, verdictsPath, id)
          SinkMarkers.seal(fs, new org.apache.hadoop.fs.Path(deconDir,
            s"batch_${id}_$fp"))
      }
      // stage 1 — repetition gate: per-row arithmetic, no shuffle
      val repBad = gate.map { g =>
        graft.operators.TextAnalysis
          .repetitionSignals(cached, topNs = Nil, dupNs = Seq(g.dupN))
          .where(col(s"dup${g.dupN}_char_frac") >= g.maxCharFrac)
          .select(col("doc_id"))
      }
      val gated = repBad
        .map(bad => cached.join(bad, Seq("doc_id"), "left_anti"))
        .getOrElse(cached)
      // stage 2 — decontamination: ONE probe serves both the
      // quarantine trail and the anti join (pin the tiny id frame);
      // docs too short to shingle are absent from the probe and pass.
      // The meta token (taken with the fingerprint above) brackets the
      // marker seal AND the probe: ANY meta rewrite completing in the
      // window — a benchmark re-save (content or verdict-neutral
      // tuning, whose layout change tears the probe's partition
      // arithmetic), a bloom heal, or a legacy-meta migration — either
      // tears the probe or lets verdicts seal against an index the
      // marker does not describe. The checkpoint below is the probe's
      // LAST read of the index; comparing the token across it catches
      // all of these (ABA included — the token carries the meta
      // part-file names). Nothing is sealed yet — a mismatch aborts
      // cleanly and the stream's retry re-enters the tripwire, which
      // re-records against the settled index (fp-stable rewrites like
      // heals/migrations cost exactly one aborted trigger).
      val contaminated = Dedup
        .decontaminateAgainstDeconIndex(gated, deconPath)
        .where(col("containment") >= maxContainment)
        .select(col("doc_id"))
        .localCheckpoint()
      if (graft.operators.Dedup.deconMetaToken(spark, deconPath) != tokBefore)
        throw new IllegalStateException(
          s"decon index at $deconPath had its meta rewritten (re-save, " +
            s"bloom heal, or meta migration) while batch $id was in " +
            "flight — the probe may be torn or describe an index the " +
            "fingerprint marker does not, so aborting before anything " +
            "seals; the replay re-enters cleanly. Re-save benchmarks " +
            "only between committed batches.")
      val curated = gated.join(contaminated, Seq("doc_id"), "left_anti")
      // quarantine trail first: it must exist by the time the final
      // marker seals, and dynamic overwrite keyed by batch_id makes a
      // replayed write byte-for-byte idempotent (stages are pure)
      quarantinePath.foreach { qp =>
        repBad.map(_.withColumn("stage", lit("repetition")))
          .getOrElse(spark.emptyDataFrame
            .select(lit(0L).as("doc_id"), lit("").as("stage")).limit(0))
          .unionByName(contaminated.withColumn("stage", lit("contamination")))
          .withColumn("batch_id", lit(id))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id").parquet(qp)
      }
      // stage 3 — the exactly-once dedup lifecycle, unchanged
      processIndexedBatch(curated, id, indexPath, verdictsPath,
        threshold, maxBucket, compactEvery, maxFilesPerPart,
        registryPath)
    } finally cached.unpersist(blocking = false)
  }

  /** The shared stateful core: per-(band, bucket) residency, bounded
    * per-trigger admission, online cap, optional watermark-clock state
    * horizon; `mkScore` is applied to the arrival's payload once and to
    * each resident's payload — the exact variant passes shingle-set
    * Jaccard, the lean variant signature agreement. */
  private def statefulBucketDedup(banded: Dataset[BandRow],
      threshold: Double, maxBucket: Int, eviction: Option[EvictionHorizon],
      mkScore: Seq[Long] => Seq[Long] => Double): Dataset[NearDupMatch] = {
    import banded.sparkSession.implicits._
    val horizonMs = eviction.map(_.horizonMs)

    def fn(key: (Int, Long), rows: Iterator[BandRow],
           state: GroupState[BucketState]): Iterator[MatchEmit] = {
      if (state.hasTimedOut) {
        // a horizon of event time passed with no arrival: retire the
        // bucket whole — members, and for closed buckets the
        // closed-marker (the cap legitimately resets; the template
        // family went cold)
        state.remove()
        return Iterator.empty
      }
      var st = state.getOption.getOrElse(BucketState(Vector.empty, closed = false))
      // at-least-once replay guard: a doc_id already RESIDENT in this
      // bucket must not consume an admission slot below — a replayed
      // arrival displacing a genuinely new (larger) doc_id from the
      // bounded buffer would silently drop that doc from scoring
      val resident = st.members.map(_._1).toSet
      // the horizon clock restarts on EVERY arrival — admitted or not,
      // so a closed bucket's marker stays alive while its template is
      // still flowing; track the max event time while draining
      var maxTs = Long.MinValue
      val out = Vector.newBuilder[MatchEmit]
      // Processing runs in doc_id order within the trigger —
      // deterministic replay of the arrival sequence regardless of
      // shuffle partitioning. BOUNDED buffering: once the bucket has
      // admitted (maxBucket + 1) members it is closed, so only the
      // (maxBucket + 1 − |members|) smallest arriving doc_ids can ever
      // be processed — keep exactly that many (a bottom-k insertion,
      // the TopKLongPairs shape) and drain the rest of the iterator
      // untouched. A same-trigger flood of one hot template bucket
      // costs O(cap) memory here, never O(arrivals) — without this the
      // sort itself would buffer the entire flood before the cap could
      // act.
      val admit: Long =
        if (st.closed) 0L else maxBucket.toLong + 1L - st.members.size
      def noteTs(r: BandRow): BandRow = {
        if (r.ts != null && r.ts.getTime > maxTs) maxTs = r.ts.getTime
        r
      }
      // bounded bottom-k by doc_id at ANY cap: a max-heap of size
      // <= admit plus an id set for in-trigger dup rejection —
      // O(rows · log admit) time, O(admit) memory. (An earlier
      // formulation used a Vector-splice insertion for small caps and
      // fell back to materializing the WHOLE trigger above a
      // 4096-admit cliff — the exact O(arrivals) shingle-set blowup
      // this bound exists to prevent.)
      val buf: Seq[BandRow] =
        if (admit <= 0) { rows.foreach(noteTs); Vector.empty }
        else {
          val cap = math.min(admit, Int.MaxValue.toLong).toInt
          val heap = new java.util.PriorityQueue[BandRow](
            math.max(math.min(cap, 1024), 1),
            (a: BandRow, b: BandRow) =>
              java.lang.Long.compare(b.doc_id, a.doc_id)) // max at head
          val inHeap = scala.collection.mutable.HashSet.empty[Long]
          rows.foreach { r =>
            noteTs(r)
            if (!resident(r.doc_id) && !inHeap.contains(r.doc_id)) {
              if (heap.size < cap) { heap.add(r); inHeap += r.doc_id }
              else if (r.doc_id < heap.peek().doc_id) {
                inHeap -= heap.poll().doc_id
                heap.add(r); inHeap += r.doc_id
              }
            }
          }
          // drain max-first into the tail → ascending doc_id order
          val arr = new Array[BandRow](heap.size)
          var i = heap.size - 1
          while (i >= 0) { arr(i) = heap.poll(); i -= 1 }
          scala.collection.immutable.ArraySeq.unsafeWrapArray(arr)
        }
      buf.foreach { r =>
        if (!st.closed) {
          val scoreAgainst = mkScore(r.sh)
          st.members.foreach { case (mid, msh) =>
            val j = scoreAgainst(msh)
            if (j >= threshold) out += MatchEmit(r.doc_id, mid, j, r.ts)
          }
          if (st.members.size + 1 > maxBucket)
            st = BucketState(Vector.empty, closed = true) // cap hit: free + close
          else st = st.copy(members = st.members :+ (r.doc_id -> r.sh))
        }
      }
      state.update(st)
      horizonMs.foreach { h =>
        // deadline = last event time + horizon; clamped above the
        // current watermark (Spark rejects deadlines the clock has
        // already passed — a fully-late straggler bucket retires at
        // the next watermark tick)
        val wm = state.getCurrentWatermarkMs()
        val base = if (maxTs == Long.MinValue) wm else maxTs
        state.setTimeoutTimestamp(math.max(base + h, wm + 1))
      }
      out.result().iterator
    }

    val timeoutConf = eviction.map(_ => GroupStateTimeout.EventTimeTimeout)
      .getOrElse(GroupStateTimeout.NoTimeout)
    val matches = banded
      .groupByKey(r => (r.band, r.bucket))
      .flatMapGroupsWithState(OutputMode.Append, timeoutConf)(fn)
    // cross-band collapse: a pair that cohabits several bands verifies
    // identically in each (same payloads → same score) and always in
    // the same trigger (a doc's band rows travel together), so only the
    // first emission survives. Evicting: the emitted event time is
    // re-watermarked and the collapse state expires on the same
    // watermark clock as residency (a pair cannot re-verify while its
    // resident is live, so marker lifetime ≥ in-trigger need keeps the
    // collapse exact). Non-evicting: a permanent stateful
    // dropDuplicates — exact forever, state grows with emitted matches;
    // the same bounded-backfill caveat as permanent residency itself.
    eviction match {
      case Some(e) =>
        matches.withWatermark("ts", e.maxLateness)
          .dropDuplicatesWithinWatermark("doc_id", "match_id")
          .select(col("doc_id"), col("match_id"), col("jaccard"))
          .as[NearDupMatch]
      case None =>
        matches
          .dropDuplicates("doc_id", "match_id")
          .select(col("doc_id"), col("match_id"), col("jaccard"))
          .as[NearDupMatch]
    }
  }

  case class DocScore(doc_id: Long, n_bigrams: Long, logp_micro: Long,
                      surprisal: Double)

  /** Enrich a stream of (doc_id, text) rows with their bigram-LM
    * surprisal against the persisted model at `path`
    * (the global add-½ spec of [[graft.operators.LmScore.save]]) — the
    * quality-gate feed of a continuous ingestion pipeline,
    * stream-static like [[graft.streaming.VectorStreams.pqIvfEnrich]].
    * The per-transition log-probs come from the SAME
    * [[graft.operators.LmScore.lpRows]] the batch scorer uses (join
    * against the model tables, OOV backoff cascade included), so
    * streamed scores equal `LmScore.score` row for row (spec-pinned). The one
    * mechanical difference: append streams cannot run an unbounded
    * groupBy, so the per-doc sum folds in a STATELESS
    * flatMapGroupsWithState shell — every bigram of a document lives
    * in the micro-batch that carried the document's row, no state is
    * ever written, memory per group is O(1) accumulators. */
  def lmScoreEnrich(docs: DataFrame, path: String,
                    textCol: String = "text"): Dataset[DocScore] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val model = LmScore.load(spark,
      LmSpec(LmScore.Smoothing.AddHalf, perLang = false), path)
    LmScore.lpRows(model, docs, textCol)
      .as[(Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (docId: Long, rows: Iterator[(Long, Long)], _: GroupState[Boolean]) =>
          var n = 0L
          var s = 0L
          rows.foreach { r => n += 1; s += r._2 }
          Iterator.single(DocScore(docId, n, s, -s.toDouble / n))
      }
  }

  case class DocScorePerLang(doc_id: Long, lang: String, n_bigrams: Long,
                             logp_micro: Long, surprisal: Double)

  /** PER-LANGUAGE twin of [[lmScoreEnrich]]: a stream of (doc_id,
    * lang, text) rows scored against the persisted per-language target
    * models of estimator `smoothing` at `path`
    * ([[graft.operators.LmScore.save]]) — the continuous form of the
    * c12 (add-½), c17 (KN) and c19 (modified KN) gates' scoring stage,
    * so the streaming curation path gates on the SAME estimator as the
    * batch one. Same shared-lp contract ([[graft.operators.LmScore.lpRows]]
    * IS the batch scorer's transition stream, including the lp-0
    * no-opinion arm for a language with no model), same stateless
    * per-(doc, lang) fold shell, so streamed scores equal
    * `LmScore.score` against the loaded model row for row with zero
    * state rows (spec-pinned). */
  def lmScoreEnrichPerLang(docs: DataFrame, path: String,
                           smoothing: LmScore.Smoothing = LmScore.Smoothing.AddHalf,
                           textCol: String = "text")
      : Dataset[DocScorePerLang] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val model = LmScore.load(spark, LmSpec(smoothing, perLang = true), path)
    LmScore.lpRows(model, docs, textCol)
      .as[(Long, String, Long)]
      .groupByKey(r => (r._1, r._2))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: (Long, String), rows: Iterator[(Long, String, Long)],
         _: GroupState[Boolean]) =>
          var n = 0L
          var s = 0L
          rows.foreach { r => n += 1; s += r._3 }
          Iterator.single(DocScorePerLang(key._1, key._2, n, s,
            -s.toDouble / n))
      }
  }

  /** Continuous image near-dup curation against a persisted
    * Hamming-band index ([[graft.operators.Dedup.saveHammingIndex]]
    * layout — m7's daily lifecycle as a stream sink):
    * [[indexedDedupSink]]'s two-phase exactly-once protocol over
    * perceptual fingerprints. Each micro-batch of (id, fingerprint)
    * rows is probed against the index (ONE DPP-pruned band scan),
    * verdicts land sealed under `verdictsPath/batch_id=<id>` BEFORE
    * any append, survivors (non-dups) append their band rows, and a
    * crash at any point replays to identical artifacts off the sealed
    * verdicts — never a re-probe against an index that already holds
    * this batch's survivors. With `registryPath` set, the verified
    * match PAIRS are the primary probe artifact and feed the m6/d17
    * cluster registry, so a LAION-shaped corpus's duplicate clusters
    * accrete incrementally. The at-least-once append window (crash
    * between append and commit marker) is contained by
    * [[graft.operators.Dedup.repairHammingIndex]] on the nightly
    * cadence ([[graft.operators.Maintenance.nightly]] with
    * `repair = true`), exactly the LSH sink's operational shape. */
  def imageDedupSink(fingerprints: DataFrame, indexPath: String,
                     verdictsPath: String, maxDist: Int,
                     idCol: String = "media_id", hashCol: String = "dhash",
                     maxBucket: Option[Int] = None,
                     compactEvery: Int = 0, maxFilesPerPart: Int = 8,
                     registryPath: Option[String] = None)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    fingerprints.writeStream.foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        processImageBatch(batch.toDF(), id, indexPath, verdictsPath, maxDist,
          idCol, hashCol, compactEvery, maxFilesPerPart, registryPath,
          maxBucket)
    }

  /** One micro-batch of [[imageDedupSink]] — exposed so the replay and
    * crash-window specs can drive it directly. The protocol is
    * [[processIndexedBatch]]'s; every row HAS a fingerprint (no
    * empty-shingle population drop — verdicts cover the whole batch),
    * and the index is single-table (no stats slice to tear). */
  private[graft] def processImageBatch(batch: DataFrame, id: Long,
      indexPath: String, verdictsPath: String, maxDist: Int,
      idCol: String, hashCol: String, compactEvery: Int,
      maxFilesPerPart: Int,
      registryPath: Option[String] = None,
      maxBucket: Option[Int] = None): Unit =
    sealedIndexBatch(batch, id, verdictsPath, idCol, compactEvery,
      registryPath)(
      Dedup.dedupAgainstHammingIndex(_, idCol, hashCol, indexPath, maxDist,
        maxBucket),
      Dedup.hammingPairsAgainstIndex(_, idCol, hashCol, indexPath, maxDist,
        maxBucket),
      _.select(col(idCol).as("doc_id")),
      Dedup.appendToHammingIndex(_, idCol, hashCol, indexPath),
      Dedup.compactHammingBands(batch.sparkSession, indexPath, maxFilesPerPart))

  case class DocLangPred(doc_id: Long, pred_lang: String, score_micro: Long)

  /** Continuous language identification against the PERSISTED
    * classifier at `path` ([[graft.operators.LangId.saveLangId]]) —
    * the c13 front half as a stream: crawl documents arrive unlabeled,
    * each micro-batch scores against the frozen broadcast-sized model,
    * and the per-doc score sums and argmax fold in the same stateless
    * shell as the LM enriches (zero state rows). Score PARTS come
    * from the shared `LangId.langScorePartsAgainst` (aggregation-free
    * by construction — Append-mode streams reject groupBy below the
    * shell), so streamed predictions equal `predictAgainstLangId` row
    * for row (spec-pinned) — batch and continuous classification
    * cannot drift. The fold's tie rule mirrors the batch min-struct
    * exactly: highest score, ties to the lexicographically smallest
    * lang (lang codes are ASCII, so Scala String ordering and Spark's
    * UTF8 binary ordering agree). */
  def langIdEnrich(docs: DataFrame, path: String,
                   textCol: String = "text"): Dataset[DocLangPred] = {
    val spark = docs.sparkSession
    import spark.implicits._
    graft.operators.LangId.langScorePartsAgainst(docs, spark, path, textCol)
      .as[(Long, String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: Long, rows: Iterator[(Long, String, Long)],
         _: GroupState[Boolean]) =>
          val sums = scala.collection.mutable.HashMap.empty[String, Long]
          rows.foreach(r => sums.update(r._2, sums.getOrElse(r._2, 0L) + r._3))
          var bestScore = Long.MinValue
          var bestLang: String = null
          sums.foreach { case (lang, score) =>
            if (bestLang == null || score > bestScore ||
                (score == bestScore && lang < bestLang)) {
              bestScore = score; bestLang = lang
            }
          }
          Iterator.single(DocLangPred(key, bestLang, bestScore))
      }
  }
}
