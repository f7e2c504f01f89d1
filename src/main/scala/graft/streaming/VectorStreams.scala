package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.functions.Registry
import graft.operators.Similarity

/** Streaming vector operators — the serving-side analog of
  * [[DocStreams]]: arriving documents' embeddings are enriched with
  * their nearest neighbors from a persisted PQ-IVF index
  * ([[Similarity.savePqIvf]]), the stream-static shape of a retrieval
  * or dedup-candidate feed. The index is the STATIC side (cell scans
  * are ordinary pruned parquet joins against the micro-batch), so the
  * query needs no state beyond the per-batch group shells — arriving
  * vectors are enriched and forgotten.
  */
object VectorStreams {

  /** Internal ADC-phase row (public only because Spark's generated
    * encoder code cannot touch a private class). */
  case class AdcHit(q_id: Long, q_emb: Seq[Float], cell: Int,
                    vec_id: Long, qscore: Long)
  case class Neighbor(q_id: Long, rank: Int, neighbor_id: Long, cos: Double)

  /** Enrich a stream of (vec_id, embedding) rows with their top-`k`
    * neighbors from the persisted PQ-IVF index at `path` — EXACTLY
    * [[Similarity.pqIvfSearch]]'s ranking rules, because the whole ADC
    * front half (probe selection, LUT layout, self-exclusion, scoring)
    * IS the batch implementation, shared via
    * [[Similarity.pqIvfAdcCandidates]]; the streamed verdicts equal a
    * batch search over the same arrivals row for row (spec-pinned).
    * The one mechanical difference: per-query top-k on a stream cannot
    * use a row_number window (unsupported in append streams), so both
    * cuts run as bounded heaps inside STATELESS flatMapGroupsWithState
    * shells — a query's candidates all live in the micro-batch that
    * carried the query, no state is ever written, and memory per group
    * is O(rescoreK), not O(candidates). */
  def pqIvfEnrich(stream: DataFrame, path: String, k: Int, nProbe: Int,
                  rescoreK: Int): Dataset[Neighbor] = {
    val spark = stream.sparkSession
    import spark.implicits._
    val (cand0, cells) =
      Similarity.pqIvfAdcCandidates(spark, path, stream, nProbe)
    val top = cand0.as[AdcHit].groupByKey(_.q_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: Long, rows: Iterator[AdcHit], _: GroupState[Boolean]) =>
          topBy(rows, rescoreK)(h => (-h.qscore, h.vec_id)).iterator
      }
    val rescored = top.toDF()
      .join(cells.select(col("cell"), col("vec_id"), col("embedding")),
        Seq("cell", "vec_id"))
      .withColumn("cos", Registry.cosineSim(col("q_emb"), col("embedding")))
      .select(col("q_id"), col("vec_id"), col("cos"))
      .as[(Long, Long, Double)]
    rescored.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (qid: Long, rows: Iterator[(Long, Long, Double)],
         _: GroupState[Boolean]) =>
          topBy(rows, k)(t => (cosKey(t._3), t._2)).zipWithIndex.map {
            case ((_, vid, cos), i) => Neighbor(qid, i + 1, vid, cos)
          }.iterator
      }
  }

  case class TripletCand(anchor_id: Long, cand_id: Long, cos: Double)
  case class MinedTriplet(anchor_id: Long, pos_id: Long, pos_cos: Double,
                          neg_id: Long, neg_cos: Double)

  /** Spark SQL's double ordering, not Java's: NaN (a zero-norm
    * embedding's 0/0 cosine) ranks ABOVE every value — so it passes
    * `x >= t`, fails `x < t`, and wins a struct-max — and ±0.0
    * collapse to the downstream tie-break (the cosKey lesson, as a
    * comparator for the stateless folds). */
  private def cmpSpark(a: Double, b: Double): Int =
    if (a.isNaN && b.isNaN) 0
    else if (a.isNaN) 1
    else if (b.isNaN) -1
    else if (a == b) 0 // collapses ±0.0
    else java.lang.Double.compare(a, b)

  /** CONTINUOUS triplet mining — the stream-static shape a trainer's
    * data loader actually runs: anchor vectors arrive as a stream, are
    * assigned to their nearest cell map-side under the persisted IVF's
    * centroids, and mined against the STORED corpus (a partition-
    * pruned scan of the index's cells — the static side). The whole
    * candidate front half IS the batch implementation
    * ([[Similarity.tripletCandidatesAgainstIvf]], shared), so the
    * streamed triplets equal [[Similarity.mineTripletsAgainstIvf]]
    * over the same arrivals row for row (spec-pinned). The one
    * mechanical difference, same as [[pqIvfEnrich]]'s heap cuts: the
    * per-anchor struct-max pick becomes an iterator fold inside a
    * STATELESS flatMapGroupsWithState shell — an anchor's candidates
    * all live in the micro-batch that carried it, no state row is
    * ever written (spec-pinned zero), and memory per group is O(1).
    * Fold order replays the batch rule exactly: higher cos wins, ties
    * to the smaller cand_id. */
  def tripletEnrich(stream: DataFrame, path: String, posMin: Double,
                    negMax: Double): Dataset[MinedTriplet] = {
    val spark = stream.sparkSession
    import spark.implicits._
    val cand = Similarity.tripletCandidatesAgainstIvf(spark, path, stream)
    cand.as[TripletCand].groupByKey(_.anchor_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (aid: Long, rows: Iterator[TripletCand], _: GroupState[Boolean]) =>
          def better(r: TripletCand, cur: TripletCand): Boolean =
            cur == null || {
              val c = cmpSpark(r.cos, cur.cos)
              c > 0 || (c == 0 && r.cand_id < cur.cand_id)
            }
          var pos: TripletCand = null
          var neg: TripletCand = null
          rows.foreach { r =>
            if (cmpSpark(r.cos, posMin) >= 0 && better(r, pos)) pos = r
            if (cmpSpark(r.cos, negMax) < 0 && better(r, neg)) neg = r
          }
          if (pos != null && neg != null)
            Iterator(MinedTriplet(aid, pos.cand_id, pos.cos,
              neg.cand_id, neg.cos))
          else Iterator.empty
      }
  }

  case class MarginCand(src_id: Long, tgt_id: Long, cos: Double)
  case class MarginScored(src_id: Long, tgt_id: Long, cos: Double,
                          x_avg: Double)
  case class AlignedPair(src_id: Long, tgt_id: Long, cos: Double,
                         margin: Double)

  /** CONTINUOUS margin-alignment mining against a persisted margin
    * index ([[Similarity.saveMarginIndex]]) — the v9 stream-static
    * form: arriving source vectors are assigned map-side, their
    * candidates come from the stored B-side cells (partition-pruned
    * static scans, shared front half
    * [[Similarity.marginCandidatesAgainstIvf]]), the x-denominator
    * folds from the batch's own top-k in a STATELESS shell (bounded
    * heap, same rank order and left-associated IEEE sum as the batch
    * pivot), and the y-denominator is one static join against the
    * index's PRECOMPUTED `yden/` table — the build-time amortization
    * that makes per-batch mining cheap. Streamed pairs equal
    * [[Similarity.marginAgainstIvf]] over the same arrivals row for
    * row (spec-pinned); anchors with fewer than k candidates drop
    * (the strict-k rule), NaN margins rank top (Spark's double
    * ordering, [[cmpSpark]]), zero state rows ever written. */
  def marginEnrich(stream: DataFrame, path: String,
                   minMargin: Double): Dataset[AlignedPair] = {
    val spark = stream.sparkSession
    import spark.implicits._
    val k = Similarity.marginIndexK(spark, path)
    val cand = Similarity.marginCandidatesAgainstIvf(spark, path, stream)
    val top = cand.as[MarginCand].groupByKey(_.src_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (sid: Long, rows: Iterator[MarginCand], _: GroupState[Boolean]) =>
          val t = topBy(rows, k)(r => (cosKey(r.cos), r.tgt_id))
          if (t.size < k) Iterator.empty // strict-k: batch x_avg is NULL
          else {
            // left-associated sum in rank order, seeded from rank 1 —
            // bit-identical to pivotAvg's reduceLeft chain
            var s = t.head.cos
            t.tail.foreach(r => s += r.cos)
            val xa = s / k
            t.iterator.map(r => MarginScored(sid, r.tgt_id, r.cos, xa))
          }
      }
    val scored = top.toDF()
      .join(Similarity.MarginArtifact("yden").read(spark, path), Seq("tgt_id"))
      .withColumn("margin",
        col("cos") / ((col("x_avg") + col("y_avg")) / lit(2.0)))
      // a strict-k NULL y_avg yields a NULL margin; the batch pick can
      // never keep it (NULL fails every comparison), so dropping here
      // preserves parity and keeps the encoder non-nullable
      .where(col("margin").isNotNull)
      .select(col("src_id"), col("tgt_id"), col("cos"), col("margin"))
      .as[AlignedPair]
    scored.groupByKey(_.src_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (sid: Long, rows: Iterator[AlignedPair], _: GroupState[Boolean]) =>
          var best: AlignedPair = null
          rows.foreach { r =>
            if (cmpSpark(r.margin, minMargin) >= 0 &&
                (best == null || cmpSpark(r.margin, best.margin) > 0 ||
                 (cmpSpark(r.margin, best.margin) == 0 &&
                   r.tgt_id < best.tgt_id)))
              best = r
          }
          if (best == null) Iterator.empty else Iterator.single(best)
      }
  }

  /** The continuous-curation sink for the VECTOR index — the PQ twin
    * of [[DocStreams.indexedDedupSink]]: each micro-batch is enriched
    * against the persisted PQ-IVF index ([[Similarity.pqIvfSearch]] —
    * the batch cut; row_number windows are legal inside foreachBatch),
    * the enrichment written as that batch's verdicts, NOVEL arrivals
    * (no neighbor at cosine >= `novelCos`, including arrivals with no
    * candidates at all) appended under the frozen centroids/codebooks
    * ([[Similarity.appendToPqIvf]]), cells compacted every
    * `compactEvery` batches, and drift checked every
    * `driftCheckEvery` — a tripped check runs [[Similarity.rebuildPqIvf]]
    * mid-stream, which cannot move any sealed verdict (they are
    * files). `vec_id`s must be unique stream-wide, the analog of the
    * dedup sink's doc_id-disjointness.
    *
    * Delivery contract, the dedup sinks' sealed-batch protocol
    * ([[SinkMarkers.sealedBatch]]): enrichment verdicts are
    * EXACTLY-ONCE — written first and sealed by an `_enriched` marker
    * BEFORE any append, so a replay after a later
    * crash reuses them verbatim; re-probing after the append would see
    * the batch's own novel vectors as candidate neighbors (the
    * self-exclusion covers only identical vec_ids) and flip
    * intra-batch near-neighbors' novelty. Index appends are
    * AT-LEAST-ONCE: a crash between the append and the final commit
    * marker duplicates cell rows on replay — verdicts of later batches
    * can rank a duplicated neighbor twice until
    * [[Similarity.repairPqIvf]] restores row-level hygiene (run it on
    * the operational cadence, like compaction). Markers are GC'd by
    * the one sink GC, [[DocStreams.gcSinkMarkers]]. */
  def indexedVectorSink(vectors: DataFrame, indexPath: String,
                        enrichedPath: String, k: Int, nProbe: Int,
                        rescoreK: Int, novelCos: Double,
                        driftCheckEvery: Int = 0, driftSampleMod: Int = 10,
                        skewBound: Double = 4.0, recallFloor: Double = 0.9,
                        compactEvery: Int = 0, maxFilesPerPart: Int = 8)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    vectors.writeStream.foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        processVectorBatch(batch.toDF(), id, indexPath, enrichedPath, k,
          nProbe, rescoreK, novelCos, driftCheckEvery, driftSampleMod,
          skewBound, recallFloor, compactEvery, maxFilesPerPart)
    }

  /** One micro-batch of [[indexedVectorSink]] — exposed so the replay
    * and crash-window specs can drive it directly. The sealed-batch
    * protocol ([[SinkMarkers.sealedBatch]], phase seal `_enriched`) with
    * this sink's parts: novelty comes off the SEALED enrichment, and a
    * batch whose arrivals found NO candidates at all (every probed cell
    * empty) seals zero rows — every arrival is novel. */
  private[graft] def processVectorBatch(batch: DataFrame, id: Long,
      indexPath: String, enrichedPath: String, k: Int, nProbe: Int,
      rescoreK: Int, novelCos: Double, driftCheckEvery: Int,
      driftSampleMod: Int, skewBound: Double, recallFloor: Double,
      compactEvery: Int, maxFilesPerPart: Int): Unit = {
    val spark = batch.sparkSession
    SinkMarkers.sealedBatch(batch, id, enrichedPath, "_enriched")(
      Similarity.pqIvfSearch(spark, indexPath, _, k, nProbe, rescoreK),
      (cached, enriched) => Some(enriched.fold(cached)(e => cached.join(
        e.where(col("cos") >= novelCos).select(col("q_id").as("vec_id")).distinct(),
        Seq("vec_id"), "left_anti"))),
      Similarity.appendToPqIvf(_, indexPath),
      _ => {
        if (SinkMarkers.onCadence(compactEvery, id))
          Similarity.PqIvfArtifact("cells").compact(spark, indexPath,
            maxFilesPerPart)
        if (SinkMarkers.onCadence(driftCheckEvery, id)) {
          val report = Similarity.pqIvfDriftCheck(spark, indexPath,
            driftSampleMod, k, nProbe, rescoreK, skewBound, recallFloor)
          if (report.drifted) Similarity.rebuildPqIvf(spark, indexPath)
        }
      })
  }

  /** Descending-cosine sort key matching Spark's `desc("cos")`
    * ordering rules exactly on the degenerate doubles: Spark orders
    * NaN ABOVE every double, so a NaN cosine (a zero-norm embedding —
    * 0/0) ranks FIRST in the batch window cut — plain negation would
    * invert that (−NaN is still NaN, the worst key in an ascending
    * heap); and Spark treats −0.0 == +0.0 (falling through to the
    * vec_id tie-break) while Double.compare separates them — so both
    * zeros collapse to one key. */
  private def cosKey(cos: Double): Double =
    if (cos.isNaN) Double.NegativeInfinity
    else if (cos == 0.0) 0.0 // collapse ±0.0 to the tie-break, like Spark
    else -cos

  /** The `n` smallest rows by `key` in `key` order — a bounded heap
    * (O(rows·log n) time, O(n) memory), the streaming stand-in for
    * `row_number() <= n`. Effectively-unbounded cuts fall back to a
    * plain sort, which is what an unbounded heap degenerates to
    * anyway. */
  private def topBy[T, K](rows: Iterator[T], n: Int)(key: T => K)(
      implicit ord: Ordering[K]): Vector[T] = {
    if (n >= Int.MaxValue / 2) return rows.toVector.sortBy(key)
    val pq = scala.collection.mutable.PriorityQueue.empty[T](Ordering.by(key))
    rows.foreach { r =>
      if (pq.size < n) pq.enqueue(r)
      else if (ord.lt(key(r), key(pq.head))) { pq.dequeue(); pq.enqueue(r) }
    }
    pq.toVector.sortBy(key)
  }
}
