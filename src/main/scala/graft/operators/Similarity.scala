package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.Registry
import graft.sources.{Artifact, Table}

/** Similarity search over an embedding column (`array<float>`).
  *
  * Brute-force cosine top-k is the correctness baseline; the
  * random-hyperplane LSH bucketed variant is the 100 TB scale path
  * (candidates only meet inside a bucket — the cross product never
  * materializes). Dot products are left-fold `aggregate` over
  * `zip_with`, which matches the left-associated unrolled `+` chain in
  * the DuckDB oracle term-for-term in IEEE order, so scores compare
  * exactly.
  */
object Similarity {

  /** Σ aᵢ·bᵢ as an in-order left fold (IEEE-stable across engines).
    * General-dimension HOF form; the hot pair-scoring paths use the
    * native CosineSim expression instead (HOF lambdas run interpreted,
    * and unrolled expression chains codegen poorly at 64 terms). */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def cosine(a: Column, b: Column, n2a: Column, n2b: Column): Column =
    dot(a, b) / (sqrt(n2a) * sqrt(n2b))

  /** Brute-force cosine top-k: every (query ∈ sample) × (candidate).
    * Queries are broadcast; candidates stream — no shuffle until the
    * per-query top-k window. */
  def bruteForceTopK(emb: DataFrame, sampleMod: Int, k: Int,
                     dim: Int = 64): DataFrame = {
    val base = emb.select(col("vec_id"), col("embedding"))
    val queries = base.where(col("vec_id") % sampleMod === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val pairs = base.join(broadcast(queries), col("vec_id") =!= col("q_id"))
      .withColumn("cos", Registry.cosineSim(col("q_emb"), col("embedding")))
    val w = Window.partitionBy(col("q_id")).orderBy(desc("cos"), col("vec_id"))
    pairs.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("vec_id").as("neighbor_id"), col("cos"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** DuckDB oracle for [[bruteForceTopK]]: unrolled 64-term dot/norm
    * chains (left-associated `+` = Spark's left fold). */
  def bruteForceTopKSql(dim: Int, sampleMod: Int, k: Int): String = {
    def n2(t: String) = (1 to dim)
      .map(i => s"CAST($t.embedding[$i] AS DOUBLE)*CAST($t.embedding[$i] AS DOUBLE)")
      .mkString(" + ")
    val dotE = (1 to dim)
      .map(i => s"CAST(q.embedding[$i] AS DOUBLE)*CAST(c.embedding[$i] AS DOUBLE)")
      .mkString(" + ")
    s"""WITH q AS (SELECT vec_id, embedding, ${n2("q")} AS n2
       |           FROM embeddings q WHERE vec_id % $sampleMod = 0),
       |c AS (SELECT vec_id, embedding, ${n2("c")} AS n2 FROM embeddings c),
       |pairs AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS neighbor_id,
       |         ($dotE) / (sqrt(q.n2) * sqrt(c.n2)) AS cos
       |  FROM q JOIN c ON c.vec_id <> q.vec_id),
       |ranked AS (
       |  SELECT q_id, neighbor_id, cos,
       |         ROW_NUMBER() OVER (PARTITION BY q_id
       |                            ORDER BY cos DESC, neighbor_id) AS rank
       |  FROM pairs)
       |SELECT q_id, rank, neighbor_id, cos FROM ranked
       |WHERE rank <= $k ORDER BY q_id, rank""".stripMargin
  }

  /** All embedding pairs with cosine ≥ minCos (embedding-cosine
    * near-dup dedup). Exact; oracle-checked via [[nearDupPairsSql]].
    *
    * All-pairs is quadratic: without a sample this is a full cross
    * join, which silently explodes on a large corpus. Callers must
    * either sample or opt in explicitly with `allowFullCorpus=true`
    * (small cohorts only — [[lshCosinePairs]] is the scale path),
    * mirroring simhashPairs' explicit recall `require`. */
  def nearDupPairs(emb: DataFrame, minCos: Double,
                   sampleMod: Option[Int] = None, dim: Int = 64,
                   allowFullCorpus: Boolean = false): DataFrame = {
    require(sampleMod.isDefined || allowFullCorpus,
      "nearDupPairs without sampleMod is an unguarded all-pairs cross join; " +
        "pass allowFullCorpus=true for a small cohort, or use lshCosinePairs at scale")
    val cohort = sampleMod.map(m => emb.where(col("vec_id") % m === 0)).getOrElse(emb)
    val withNorm = cohort.select(col("vec_id"), col("embedding"))
    withNorm.as("a").join(withNorm.as("b"), col("a.vec_id") < col("b.vec_id"))
      .withColumn("cos", Registry.cosineSim(col("a.embedding"), col("b.embedding")))
      .where(col("cos") >= minCos)
      .select(col("a.vec_id").as("id1"), col("b.vec_id").as("id2"), col("cos"))
      .orderBy(col("id1"), col("id2"))
  }

  def nearDupPairsSql(dim: Int, minCos: Double,
                      sampleMod: Option[Int] = None): String = {
    val sample = sampleMod.map(m => s"WHERE vec_id % $m = 0").getOrElse("")
    def n2(t: String) = (1 to dim)
      .map(i => s"CAST($t.embedding[$i] AS DOUBLE)*CAST($t.embedding[$i] AS DOUBLE)")
      .mkString(" + ")
    val dotE = (1 to dim)
      .map(i => s"CAST(a.embedding[$i] AS DOUBLE)*CAST(b.embedding[$i] AS DOUBLE)")
      .mkString(" + ")
    s"""WITH v AS (SELECT vec_id, embedding, ${n2("v")} AS n2 FROM embeddings v $sample)
       |SELECT a.vec_id AS id1, b.vec_id AS id2,
       |       ($dotE) / (sqrt(a.n2) * sqrt(b.n2)) AS cos
       |FROM v a JOIN v b ON a.vec_id < b.vec_id
       |WHERE ($dotE) / (sqrt(a.n2) * sqrt(b.n2)) >= $minCos
       |ORDER BY id1, id2""".stripMargin
  }

  // ---------------------------------------------------------------- IVF

  case class IvfIndex(centroids: Array[(Int, Array[Double])])

  /** IVF (inverted-file) index: deterministic centroid seed (every
    * (n/k)-th vector by vec_id order), vectors assigned to their nearest
    * centroid. The scale path: the index build is one pass, the search
    * probes `nProbe` cells instead of the whole collection. */
  def buildIvf(emb: DataFrame, k: Int): (IvfIndex, DataFrame) = {
    val n = emb.count()
    val step = math.max(1, n / k)
    // seed = every step-th vector BY vec_id VALUE — partition-layout
    // independent (monotonically_increasing_id encodes partition ids,
    // which would make the centroids depend on the physical layout)
    val seed = emb.where(pmod(col("vec_id"), lit(step)) === 0)
      .orderBy(col("vec_id")).limit(k)
      .select(col("embedding")).collect()
      .zipWithIndex.map { case (r, i) =>
        i -> r.getSeq[Float](0).map(_.toDouble).toArray
      }
    val index = IvfIndex(seed)
    (index, assignToCells(index, emb))
  }

  /** Trained IVF: k-means‖ centroids ([[Clustering.kmeansEmbeddings]],
    * deterministic seed) instead of [[buildIvf]]'s every-(n/k)-th seed.
    * On clustered real embeddings the untrained seed collapses dense
    * regions into hot cells (straggler probes, junk recall); Lloyd
    * iterations place centroids where the density is, so cells balance
    * and a probe's nearest cells actually hold the near neighbors —
    * the production index build. [[buildIvf]] stays as the
    * deterministic variant the bit-exact v4/v6 oracles replicate in
    * SQL (a k-means fixpoint has no cross-engine SQL twin).
    * Assignment goes through the same [[nearestCentroid]] code path as
    * the probes, so index and search can never disagree on a boundary.
    *
    * `sampleMod` > 1 trains k-means on a deterministic 1/sampleMod
    * subsample and then assigns the FULL corpus with the sampled
    * centroids. Lloyd's objective needs only enough points per cell to
    * place the centroids where the density is, so at 100 TB you train
    * on ~1% and cut the dominant one-off build cost (the k-means pass
    * was 5.4 s of the 8x-corpus build; see SURVEY §6) while the
    * assignment pass — one map over the corpus either way — is
    * unchanged. The sample key is xxhash64(vec_id) % sampleMod, NOT
    * vec_id % sampleMod: raw-id periodicity aliases with real corpus
    * structure (ids assigned per source/ingest interleave sources by
    * parity — the spec fixture demonstrates a mod-2 sample that sees
    * ONE cluster), while the hash decorrelates the sample from any id
    * pattern and stays content-stable and layout-independent. */
  def buildIvfTrained(emb: DataFrame, k: Int, maxIter: Int = 20,
                      seed: Long = 42L, sampleMod: Long = 1L): (IvfIndex, DataFrame) = {
    require(sampleMod >= 1, "sampleMod must be >= 1 (1 = train on everything)")
    val trainSet =
      if (sampleMod == 1L) emb
      else {
        val s = emb.where(pmod(xxhash64(col("vec_id")), lit(sampleMod)) === 0)
        // enforce the regime rule the docstring states: an over-thinned
        // sample trains k-means on fewer points than centroids — the
        // result is fewer-than-k (or degenerate) cells, the exact
        // hot-cell pathology this API exists to prevent, surfaced as an
        // opaque MLlib error. limit(k) early-terminates the scan — a
        // bare count() would read the whole corpus just to validate.
        require(s.limit(k).count() >= k,
          s"sampleMod=$sampleMod leaves fewer than k=$k training vectors — " +
            "lower sampleMod (points-per-centroid must stay high)")
        s
      }
    val (_, centers) = Clustering.kmeansEmbeddings(trainSet, k, maxIter, seed)
    val index = IvfIndex(centers.zipWithIndex.map { case (v, i) => i -> v.toArray })
    (index, assignToCells(index, emb))
  }

  /** Nearest-centroid assignment of a (vec_id, embedding) frame — the
    * single map-side assignment path shared by build/trained-build/
    * append (and Dedup's contamination split), so every entry point
    * produces identical cells. */
  private[operators] def assignToCells(index: IvfIndex, emb: DataFrame): DataFrame = {
    import org.apache.spark.sql.Row
    val bc = emb.sparkSession.sparkContext.broadcast(index)
    val assignRow = (r: Row) => {
      val v = r.getSeq[Float](r.fieldIndex("embedding")).map(_.toDouble).toArray
      IvfEntry(r.getLong(r.fieldIndex("vec_id")), nearestCentroid(bc.value, v), v)
    }
    emb.select(col("vec_id"), col("embedding"))
      .map(assignRow)(org.apache.spark.sql.Encoders.product[IvfEntry]).toDF()
  }

  case class IvfEntry(vec_id: Long, cell: Int, vec: Array[Double])

  private[operators] def nearestCentroid(idx: IvfIndex, v: Array[Double]): Int = {
    var best = -1; var bestD = Double.MaxValue
    idx.centroids.foreach { case (ci, c) =>
      var d = 0.0; var i = 0
      while (i < v.length) { val x = v(i) - c(i); d += x * x; i += 1 }
      if (d < bestD) { bestD = d; best = ci }
    }
    best
  }

  /** The `nProbe` nearest centroid ids by squared L2 (ties keep
    * centroid order — stable sort, same first-wins rule as
    * [[nearestCentroid]]). The SINGLE probe-selection path shared by
    * [[ivfTopK]] and [[ivfQuantizedTopK]], so the two search surfaces
    * can never diverge on a probe boundary. */
  private[graft] def nearestCells(idx: IvfIndex, v: Array[Double],
                                  nProbe: Int): Array[Int] =
    idx.centroids.map { case (ci, c) =>
      var d = 0.0; var i = 0
      while (i < v.length) { val x = v(i) - c(i); d += x * x; i += 1 }
      ci -> d
    }.sortBy(_._2).take(nProbe).map(_._1)

  /** Persist an IVF index: assignments as a CELL-PARTITIONED parquet
    * table plus a k-row centroid table. Partitioning by cell is the
    * point — a probe joins on the partition column, so Spark's dynamic
    * partition pruning reads only the nProbe probed cells' files, the
    * disk-level analogue of an inverted file. Build once, reuse across
    * queries/sessions. */
  def saveIvf(index: IvfIndex, assigned: DataFrame, path: String): Unit = {
    IvfArtifact("cells").writer(assigned).mode("overwrite")
      .parquet(IvfArtifact("cells").at(path))
    writeCentroids(index, assigned.sparkSession, path)
  }

  def loadIvf(spark: org.apache.spark.sql.SparkSession,
              path: String): (IvfIndex, DataFrame) =
    (readCentroids(spark, path), IvfArtifact("cells").read(spark, path))

  private val centroidsTable = Table("centroids", "ci INT, centroid ARRAY<DOUBLE>")

  /** [[saveIvf]]'s layout; `cell` INT is the probe's DPP key. */
  private[graft] val IvfArtifact = Artifact("IVF index", "saveIvf", "centroids")(
    Table("cells", "vec_id BIGINT, vec ARRAY<DOUBLE>, cell INT", "cell"),
    centroidsTable)

  /** [[saveMarginIndex]]'s layout: IVF plus `yden/` and the family
    * marker `margin_meta/`, written first. */
  private[graft] val MarginArtifact =
    Artifact("margin index", "saveMarginIndex", "margin_meta")(
      IvfArtifact.tables ++ Seq(Table("yden", "tgt_id BIGINT, y_avg DOUBLE"),
        Table("margin_meta", "k INT")): _*)

  /** [[savePqIvf]]'s layout; meta is written last. */
  private[graft] val PqIvfArtifact = Artifact("PQ-IVF index", "savePqIvf", "meta")(
    Table("cells",
      "vec_id BIGINT, embedding ARRAY<FLOAT>, codes ARRAY<INT>, cell INT", "cell"),
    centroidsTable,
    Table("codebooks", "s INT, j INT, cb ARRAY<DOUBLE>"),
    Table("meta", "m INT, k_code INT, n_centroids INT"))

  private def writeCentroids(index: IvfIndex,
                             spark: org.apache.spark.sql.SparkSession,
                             path: String): Unit =
    centroidsTable.writer(spark.createDataFrame(index.centroids.toSeq
        .map { case (ci, c) => (ci, c.toSeq) }).toDF("ci", "centroid").coalesce(1))
      .mode("overwrite").parquet(centroidsTable.at(path))

  private def readCentroids(spark: org.apache.spark.sql.SparkSession,
                            path: String): IvfIndex =
    IvfIndex(centroidsTable.read(spark, path).collect()
      .map(r => r.getAs[Int]("ci") ->
        r.getSeq[Double](r.fieldIndex("centroid")).toArray)
      .sortBy(_._1))

  /** Incremental index maintenance: assign a batch of NEW vectors with
    * the index's EXISTING centroids and append them to the
    * cell-partitioned table — no rebuild, no touch of resident cells
    * (parquet append writes only the arriving cells' partitions). The
    * daily-ingest path at scale: centroids drift slowly, so periodic
    * rebuilds bracket many cheap appends; searches over the result are
    * IDENTICAL to a fresh assignment of the union (same centroids ⇒
    * same cells ⇒ same probes — asserted in the spec). */
  def appendToIvf(index: IvfIndex, newVectors: DataFrame, path: String): Unit =
    IvfArtifact("cells").writer(assignToCells(index, newVectors))
      .mode("append").parquet(IvfArtifact("cells").at(path))

  /** Compact a persisted index's over-fragmented cells: every
    * [[appendToIvf]] batch adds at least one file per arriving cell, so
    * a daily-ingest index accretes small files until probe scans go
    * metadata-bound. Cells whose parquet file count exceeds
    * `maxFilesPerCell` are rewritten to one file each, in place
    * ([[graft.sources.Table.compact]]); untouched cells
    * keep their files byte-identical, and search results are unchanged
    * because compaction only rewrites row layout, never content
    * (asserted in TrainedIvfSpec). Returns the compacted cell ids. */
  def compactIvfCells(spark: org.apache.spark.sql.SparkSession, path: String,
                      maxFilesPerCell: Int): Seq[Int] = {
    IvfArtifact.requireSaved(spark, path)
    IvfArtifact("cells").compact(spark, path, maxFilesPerCell).map(_.toInt)
  }

  /** Cell-occupancy statistics for an IVF index — the post-append drift
    * tripwire. [[appendToIvf]] assigns arriving vectors under FROZEN
    * centroids, so when the ingest distribution shifts (a new source, a
    * dup-heavy crawl), appended mass piles into whichever cells sit
    * nearest the new density — exactly the hot-cell degeneration
    * TrainedIvfSpec pins at build time, except accreted silently over
    * many appends. `maxOverMean` uses mean = nVectors / k over ALL of
    * the index's k cells (not just non-empty ones): a cell the drifted
    * distribution has emptied is as much a re-train signal as a hot
    * one, and at build time (trained centroids, every cell populated)
    * the two definitions coincide, so the build-time bound from
    * TrainedIvfSpec carries over unchanged. One groupBy, k rows to the
    * driver — bounded by construction at any corpus size. */
  case class IvfCellStats(k: Int, nonEmptyCells: Int, nVectors: Long,
                          maxCell: Long, meanCell: Double) {
    def maxOverMean: Double = if (meanCell == 0.0) 0.0 else maxCell / meanCell
    /** True when occupancy has drifted past `bound` — the caller's
      * signal to re-train centroids ([[buildIvfTrained]]) instead of
      * appending further. Use the bound the build was verified against
      * (TrainedIvfSpec pins <= 2.5 for trained builds; 4.0 is the
      * loose serving ceiling). */
    def drifted(bound: Double): Boolean = maxOverMean > bound
  }

  def ivfCellStats(index: IvfIndex, cells: DataFrame): IvfCellStats = {
    val sizes = cells.groupBy(col("cell")).count()
      .collect().map(_.getLong(1)) // k rows — bounded driver aggregate
    val n = if (sizes.isEmpty) 0L else sizes.sum
    IvfCellStats(
      k = index.centroids.length,
      nonEmptyCells = sizes.length,
      nVectors = n,
      maxCell = if (sizes.isEmpty) 0L else sizes.max,
      meanCell = if (index.centroids.isEmpty) 0.0
                 else n.toDouble / index.centroids.length)
  }

  /** Persisted-index form: the maintenance call an ingest job runs
    * right after [[appendToIvf]] (append → stats → re-train if
    * `drifted`, else [[compactIvfCells]] when fragmented). */
  def ivfCellStats(spark: org.apache.spark.sql.SparkSession,
                   path: String): IvfCellStats = {
    val (index, cells) = loadIvf(spark, path)
    ivfCellStats(index, cells)
  }

  /** IVF top-k: probe the query's `nProbe` nearest cells only; exact
    * cosine within the probed cells. Recall < 1 by construction — the
    * accuracy/throughput dial of a vector index. */
  def ivfTopK(index: IvfIndex, assigned: DataFrame, queries: DataFrame,
              k: Int, nProbe: Int): DataFrame = {
    val sess = assigned.sparkSession
    val bc = sess.sparkContext.broadcast(index)
    import sess.implicits._
    val qCells = queries.select(col("vec_id").as("q_id"), col("embedding"))
      .map { r =>
        val v = r.getSeq[Float](1).map(_.toDouble).toArray
        (r.getLong(0), v, nearestCells(bc.value, v, nProbe))
      }.toDF("q_id", "q_vec", "cells")
    val probed = qCells.select(col("q_id"), col("q_vec"),
      explode(col("cells")).as("cell"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(desc("cos"), col("vec_id"))
    probed.join(assigned, Seq("cell"))
      .where(col("vec_id") =!= col("q_id"))
      // native one-loop cosine on the candidate pairs — the hot path
      // (|probe cells| × cell size pairs); same in-order double
      // accumulation as the HOF form, so scores are bit-identical
      .withColumn("cos", Registry.cosineSim(col("q_vec"), col("vec")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("vec_id").as("neighbor_id"), col("cos"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** One-call IVF search surface: build the index over the corpus,
    * probe with every `sampleMod`-th vector — the `queries()` entry for
    * the IVF path (everything downstream of the k-row centroid collect
    * stays distributed). */
  def ivfSearch(emb: DataFrame, k: Int, nCentroids: Int, nProbe: Int,
                sampleMod: Int): DataFrame = {
    val base = emb.select(col("vec_id"), col("embedding"))
    val (index, assigned) = buildIvf(base, nCentroids)
    ivfTopK(index, assigned, base.where(col("vec_id") % sampleMod === 0),
      k, nProbe)
  }

  private def sqlDist(dim: Int)(a: String, b: String) = {
    def sq(i: Int) = s"(CAST($a[$i] AS DOUBLE) - CAST($b[$i] AS DOUBLE))"
    (1 to dim).map(i => s"${sq(i)}*${sq(i)}").mkString(" + ")
  }
  private def sqlN2(dim: Int)(t: String) = (1 to dim)
    .map(i => s"CAST($t[$i] AS DOUBLE)*CAST($t[$i] AS DOUBLE)")
    .mkString(" + ")
  private def sqlDot(dim: Int)(a: String, b: String) = (1 to dim)
    .map(i => s"CAST($a[$i] AS DOUBLE)*CAST($b[$i] AS DOUBLE)")
    .mkString(" + ")

  /** Shared CTE prefix replicating [[buildIvf]] in DuckDB SQL: same
    * centroid seed (every (n/k)-th vector by vec_id), same assignment
    * (squared-L2 argmin, first-wins ties = ORDER BY dist,ci). */
  private[operators] def ivfAssignCte(dim: Int, nCentroids: Int): String =
    s"""WITH p AS (SELECT GREATEST(1, COUNT(*) // $nCentroids) AS step FROM embeddings),
       |cent AS (
       |  SELECT ROW_NUMBER() OVER (ORDER BY e.vec_id) - 1 AS ci, e.embedding
       |  FROM embeddings e, p WHERE e.vec_id % p.step = 0
       |  ORDER BY e.vec_id LIMIT $nCentroids),
       |assign AS (
       |  SELECT vec_id, embedding, cell FROM (
       |    SELECT e.vec_id, e.embedding, c.ci AS cell,
       |           ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |             ORDER BY ${sqlDist(dim)("e.embedding", "c.embedding")}, c.ci) AS rn
       |    FROM embeddings e CROSS JOIN cent c)
       |  WHERE rn = 1)""".stripMargin

  /** DuckDB oracle for [[ivfSearch]]: the whole IVF pipeline in SQL —
    * [[ivfAssignCte]] plus the same nProbe cells and the same in-order
    * cosine — so results match bit-for-bit, not just approximately. */
  def ivfSearchSql(dim: Int, k: Int, nCentroids: Int, nProbe: Int,
                   sampleMod: Int): String = {
    val dist = sqlDist(dim) _
    val n2 = sqlN2(dim) _
    val dot = sqlDot(dim) _
    s"""${ivfAssignCte(dim, nCentroids)},
       |q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
       |      WHERE vec_id % $sampleMod = 0),
       |probe AS (
       |  SELECT q_id, q_emb, cell FROM (
       |    SELECT q.q_id, q.q_emb, c.ci AS cell,
       |           ROW_NUMBER() OVER (PARTITION BY q.q_id
       |             ORDER BY ${dist("q.q_emb", "c.embedding")}, c.ci) AS rn
       |    FROM q CROSS JOIN cent c)
       |  WHERE rn <= $nProbe),
       |cand AS (
       |  SELECT p.q_id, a.vec_id,
       |         (${dot("p.q_emb", "a.embedding")}) /
       |         (sqrt(${n2("p.q_emb")}) * sqrt(${n2("a.embedding")})) AS cos
       |  FROM probe p JOIN assign a USING (cell)
       |  WHERE a.vec_id <> p.q_id),
       |ranked AS (
       |  SELECT q_id, vec_id, cos,
       |         ROW_NUMBER() OVER (PARTITION BY q_id
       |                            ORDER BY cos DESC, vec_id) AS rank
       |  FROM cand)
       |SELECT q_id, rank, vec_id AS neighbor_id, cos FROM ranked
       |WHERE rank <= $k ORDER BY q_id, rank""".stripMargin
  }

  /** Contrastive TRIPLET MINING for embedding-model training (v8):
    * per sampled anchor, (positive, hard negative) drawn from the
    * anchor's own IVF cell — positive = the most-similar in-cell
    * neighbor at cos ≥ `posMin` (a near-dup/paraphrase), hard negative
    * = the most-similar in-cell vector still BELOW `negMax` (the
    * classic hard-negative rule: close in embedding space, confidently
    * not a match). Anchors missing either side emit nothing.
    *
    * Scale shape: candidates meet only inside a cell (equi-join on the
    * cell key — the cross product never materializes, same skeleton as
    * SemDeDup's in-cell compare), and BOTH top-1 picks come out of ONE
    * hash aggregation over the candidate stream (conditional struct-max
    * per side — struct comparison is field-ordered, so max(cos, −id)
    * replays exactly the (cos desc, id asc) window rule), so the
    * expensive cell join executes once, with map-side partial
    * aggregation and no window shuffle. Uses [[buildIvf]]'s
    * deterministic seed so the whole chain has a bit-exact SQL twin —
    * the ORACLE entry point. Production corpora are dup-heavy (that is
    * why triplets are being mined), and on those the untrained seed
    * collapses dense regions into hot cells that turn the in-cell join
    * near-quadratic (TrainedIvfSpec pins the collapse; SURVEY §6
    * measured 31.6 s seed vs 9.0 s trained for v6) — use
    * [[mineTripletsTrained]] or [[mineTripletsFromAssigned]] there. */
  def mineTriplets(emb: DataFrame, nCentroids: Int, posMin: Double,
                   negMax: Double, sampleMod: Int): DataFrame = {
    val (_, assigned) = buildIvf(emb.select(col("vec_id"), col("embedding")),
      nCentroids)
    mineTripletsFromAssigned(assigned, posMin, negMax, sampleMod)
  }

  /** [[mineTriplets]] over a k-means-trained assignment
    * ([[buildIvfTrained]]) — the production entry point: Lloyd
    * iterations spread centroids with the density, so a near-dup-heavy
    * corpus (the normal triplet-mining input) cannot collapse into one
    * hot cell and the in-cell candidate join stays linear-per-cell.
    * Same selection semantics as [[mineTriplets]]; only WHERE
    * candidates meet changes. `trainSampleMod` > 1 trains k-means on a
    * deterministic hash subsample (see [[buildIvfTrained]]). */
  def mineTripletsTrained(emb: DataFrame, nCentroids: Int, posMin: Double,
                          negMax: Double, sampleMod: Int,
                          maxIter: Int = 20, seed: Long = 42L,
                          trainSampleMod: Long = 1L): DataFrame = {
    val (_, assigned) = buildIvfTrained(
      emb.select(col("vec_id"), col("embedding")), nCentroids, maxIter,
      seed, trainSampleMod)
    mineTripletsFromAssigned(assigned, posMin, negMax, sampleMod)
  }

  /** Triplet selection over a PREBUILT cell assignment — (vec_id, cell,
    * vec) as produced by [[buildIvf]]/[[buildIvfTrained]]/[[loadIvf]] —
    * so a persisted index built once can feed every mining run, exactly
    * as d6/d16 accept trained artifacts. One cell-key equi-join builds
    * the candidate stream, ONE hash aggregation picks positive and hard
    * negative per anchor (conditional struct-max; max over
    * (cos, −cand_id) = the (cos desc, cand_id asc) rule), anchors
    * missing either side drop out via the null filter. */
  def mineTripletsFromAssigned(assigned: DataFrame, posMin: Double,
                               negMax: Double, sampleMod: Int): DataFrame = {
    val anchors = assigned
      .where(pmod(col("vec_id"), lit(sampleMod.toLong)) === 0)
      .select(col("vec_id").as("anchor_id"), col("vec").as("a_vec"),
        col("cell"))
    val cand = anchors
      .join(assigned.select(col("vec_id").as("cand_id"), col("cell"),
        col("vec")), Seq("cell"))
      .where(col("cand_id") =!= col("anchor_id"))
      .withColumn("cos", Registry.cosineSim(col("a_vec"), col("vec")))
      .select(col("anchor_id"), col("cand_id"), col("cos"))
    tripletPick(cand, posMin, negMax).orderBy(col("anchor_id"))
  }

  /** The per-anchor pos/hard-neg pick shared by every triplet entry
    * point: ONE hash aggregation, conditional struct-max per side
    * (max over (cos, −cand_id) = the (cos desc, cand_id asc) rule),
    * anchors missing either side dropped. */
  private def tripletPick(cand: DataFrame, posMin: Double,
                          negMax: Double): DataFrame = {
    def pick(cond: Column) =
      max(when(cond, struct(col("cos").as("cos"),
        (-col("cand_id")).as("nid"))))
    cand.groupBy(col("anchor_id"))
      .agg(pick(col("cos") >= posMin).as("p"),
        pick(col("cos") < negMax).as("n"))
      .where(col("p").isNotNull && col("n").isNotNull)
      .select(col("anchor_id"),
        (-col("p.nid")).as("pos_id"), col("p.cos").as("pos_cos"),
        (-col("n.nid")).as("neg_id"), col("n.cos").as("neg_cos"))
  }

  /** Candidate stream of a QUERY batch against a PERSISTED IVF corpus
    * ([[saveIvf]] layout): each query row is assigned to its nearest
    * cell map-side under the loaded centroids (the same single
    * assignment path every entry point shares), joined to that cell's
    * STORED vectors — a partition-pruned scan of `cells/`, the disk
    * inverted file — with one cosine per pair and identical-id
    * self-exclusion. Shared by [[mineTripletsAgainstIvf]] and the
    * streaming enrich (graft.streaming.VectorStreams.tripletEnrich),
    * so the continuous and batch miners cannot drift. */
  def tripletCandidatesAgainstIvf(spark: org.apache.spark.sql.SparkSession,
                                  path: String,
                                  queries: DataFrame): DataFrame = {
    val (index, cells) = loadIvf(spark, path)
    val anchors = assignToCells(index, queries)
      .select(col("vec_id").as("anchor_id"), col("vec").as("a_vec"),
        col("cell"))
    anchors
      .join(cells.select(col("vec_id").as("cand_id"), col("cell"),
        col("vec")), Seq("cell"))
      .where(col("cand_id") =!= col("anchor_id"))
      .withColumn("cos", Registry.cosineSim(col("a_vec"), col("vec")))
      .select(col("anchor_id"), col("cand_id"), col("cos"))
  }

  /** Batch twin of the streaming triplet enrich: mine triplets for a
    * query batch against the persisted IVF corpus at `path` — the
    * daily shape when anchors arrive in batches rather than as a
    * stream. Selection semantics = [[mineTripletsFromAssigned]]
    * (same [[tripletPick]]); only where anchors come from changes. */
  def mineTripletsAgainstIvf(spark: org.apache.spark.sql.SparkSession,
                             path: String, queries: DataFrame,
                             posMin: Double, negMax: Double): DataFrame =
    tripletPick(tripletCandidatesAgainstIvf(spark, path, queries),
      posMin, negMax).orderBy(col("anchor_id"))

  /** DuckDB oracle for [[mineTriplets]] — [[ivfAssignCte]] assignment,
    * identical cosine arithmetic and tie rules. */
  def mineTripletsSql(dim: Int, nCentroids: Int, posMin: Double,
                      negMax: Double, sampleMod: Int): String = {
    val n2 = sqlN2(dim) _
    val dot = sqlDot(dim) _
    val cos = s"(${dot("a.a_emb", "b.embedding")}) / " +
      s"(sqrt(${n2("a.a_emb")}) * sqrt(${n2("b.embedding")}))"
    s"""${ivfAssignCte(dim, nCentroids)},
       |anch AS (
       |  SELECT vec_id AS anchor_id, embedding AS a_emb, cell
       |  FROM assign WHERE vec_id % $sampleMod = 0),
       |cnd AS (
       |  SELECT a.anchor_id, b.vec_id AS cand_id, $cos AS cos
       |  FROM anch a JOIN assign b USING (cell)
       |  WHERE b.vec_id <> a.anchor_id),
       |pos AS (
       |  SELECT anchor_id, cand_id AS pos_id, cos AS pos_cos FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY anchor_id
       |      ORDER BY cos DESC, cand_id) AS rn
       |    FROM cnd WHERE cos >= $posMin) WHERE rn = 1),
       |neg AS (
       |  SELECT anchor_id, cand_id AS neg_id, cos AS neg_cos FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY anchor_id
       |      ORDER BY cos DESC, cand_id) AS rn
       |    FROM cnd WHERE cos < $negMax) WHERE rn = 1)
       |SELECT anchor_id, pos_id, pos_cos, neg_id, neg_cos
       |FROM pos JOIN neg USING (anchor_id) ORDER BY anchor_id""".stripMargin
  }

  // ------------------------------------- margin-based alignment (v9)

  /** MARGIN-BASED ALIGNMENT MINING (v9) — the CCMatrix/LASER bitext
    * rule (Artetxe & Schwenk): a candidate pair (x, y) scores not by
    * raw cosine but by cosine RELATIVE to both points' neighborhoods,
    *   margin(x, y) = cos(x, y) / ((avgₖ(x) + avgₖ(y)) / 2),
    * where avgₖ is the mean cosine to the k nearest neighbors on the
    * OTHER side. Raw-cosine thresholds break on hubness (dense regions
    * where everything is "similar"); the margin cancels the
    * neighborhood density, which is why production parallel-corpus
    * mining uses it. Sides here are vec_id parity (even = source,
    * odd = target — the testdata stand-in for two languages); per
    * sampled source, the best-margin target at margin ≥ `minMargin`.
    *
    * Engine-exactness: each avgₖ is a PIVOTED left-associated sum —
    * max-over-rank columns added in rank order, (c₁+c₂)+c₃... — so the
    * float addition order is pinned identically in the SQL twin (a
    * plain AVG would sum in shuffle order); the final per-source pick
    * is the same conditional struct-max as [[mineTripletsFromAssigned]]
    * (margin desc, target id asc).
    *
    * This is the ORACLE/cohort form: sampled sources broadcast against
    * the streaming target side (one |sample|×|B| pass — v1's guarded
    * brute-force shape), then the touched targets' own neighborhoods
    * against the full source side (≤ sample·k distinct targets).
    * The 100 TB path is [[marginAlignmentFromAssigned]]. */
  def marginAlignment(emb: DataFrame, k: Int, minMargin: Double,
                      sampleMod: Int): DataFrame = {
    val base = emb.select(col("vec_id"), col("embedding"))
    val aSide = base.where(pmod(col("vec_id"), lit(2)) === 0)
    val bSide = base.where(pmod(col("vec_id"), lit(2)) === 1)
    val q = aSide.where(pmod(col("vec_id"), lit(sampleMod.toLong)) === 0)
      .select(col("vec_id").as("src_id"), col("embedding").as("q_emb"))
    val cand = bSide.join(broadcast(q), lit(true))
      .withColumn("cos", Registry.cosineSim(col("q_emb"), col("embedding")))
      .select(col("src_id"), col("vec_id").as("tgt_id"), col("cos"))
    val wq = Window.partitionBy(col("src_id")).orderBy(desc("cos"), col("tgt_id"))
    // feeds the source denominator, the touched-target set, and the
    // margin join — pin it once (|sample|·k rows)
    val top = cand.withColumn("rn", row_number().over(wq))
      .where(col("rn") <= k).localCheckpoint()
    val ys = top.select(col("tgt_id")).distinct()
      .join(bSide.select(col("vec_id").as("tgt_id"),
        col("embedding").as("y_emb")), Seq("tgt_id"))
    val yc = aSide.join(broadcast(ys), lit(true))
      .withColumn("cos", Registry.cosineSim(col("y_emb"), col("embedding")))
      .select(col("tgt_id"), col("vec_id").as("a_id"), col("cos"))
    val wy = Window.partitionBy(col("tgt_id")).orderBy(desc("cos"), col("a_id"))
    val ytop = yc.withColumn("rn", row_number().over(wy)).where(col("rn") <= k)
    marginPick(top, pivotAvg(top, "src_id", "x_avg", k),
      pivotAvg(ytop, "tgt_id", "y_avg", k), minMargin)
  }

  /** avgₖ with a PINNED addition order: rank-pivoted max columns summed
    * left-associated — identical IEEE order in Spark and the SQL twin.
    * A key with fewer than k neighbors yields NULL (strict-k rule;
    * such rows drop at the margin threshold on both engines). */
  private def pivotAvg(top: DataFrame, key: String, out: String,
                       k: Int): DataFrame =
    top.groupBy(col(key)).agg(
      ((1 to k).map(i => max(when(col("rn") === i, col("cos"))))
        .reduceLeft(_ + _) / lit(k.toDouble)).as(out))

  /** Margin computation + best-margin-per-source pick shared by the
    * brute and in-cell forms. */
  private def marginPick(top: DataFrame, xden: DataFrame, yden: DataFrame,
                         minMargin: Double): DataFrame =
    top.join(xden, "src_id").join(yden, "tgt_id")
      .withColumn("margin",
        col("cos") / ((col("x_avg") + col("y_avg")) / lit(2.0)))
      .groupBy(col("src_id"))
      .agg(max(when(col("margin") >= minMargin,
        struct(col("margin").as("m"), (-col("tgt_id")).as("nid"),
          col("cos").as("c")))).as("p"))
      .where(col("p").isNotNull)
      .select(col("src_id"), (-col("p.nid")).as("tgt_id"),
        col("p.c").as("cos"), col("p.m").as("margin"))
      .orderBy(col("src_id"))

  /** [[marginAlignment]] over a prebuilt cell assignment ((vec_id,
    * cell, vec) from [[buildIvfTrained]]/[[loadIvf]]) — the production
    * path: candidates and both neighborhoods meet only INSIDE a cell
    * (equi-join on the cell key), so the |sample|×|B| cross never
    * forms and the work per cell is |A∩cell|·|B∩cell|. The margin is
    * then computed over in-cell neighborhoods — the standard
    * faiss-sharded approximation of the global rule (exact when a
    * probe's true k-NN live in its cell; one-cell assignment ≡ the
    * brute form, spec-pinned). */
  def marginAlignmentFromAssigned(assigned: DataFrame, k: Int,
                                  minMargin: Double,
                                  sampleMod: Int): DataFrame = {
    val aSide = assigned.where(pmod(col("vec_id"), lit(2)) === 0)
      .select(col("vec_id"), col("cell"), col("vec"))
    val bSide = assigned.where(pmod(col("vec_id"), lit(2)) === 1)
      .select(col("vec_id"), col("cell"), col("vec"))
    val q = aSide.where(pmod(col("vec_id"), lit(sampleMod.toLong)) === 0)
      .select(col("vec_id").as("src_id"), col("vec").as("q_vec"), col("cell"))
    val cand = q.join(bSide.select(col("vec_id").as("tgt_id"), col("cell"),
        col("vec")), Seq("cell"))
      .withColumn("cos", Registry.cosineSim(col("q_vec"), col("vec")))
      .select(col("src_id"), col("tgt_id"), col("cos"))
    val wq = Window.partitionBy(col("src_id")).orderBy(desc("cos"), col("tgt_id"))
    val top = cand.withColumn("rn", row_number().over(wq))
      .where(col("rn") <= k).localCheckpoint()
    val ys = top.select(col("tgt_id")).distinct()
      .join(bSide.select(col("vec_id").as("tgt_id"), col("cell"),
        col("vec").as("y_vec")), Seq("tgt_id"))
    val yc = ys.join(aSide.select(col("vec_id").as("a_id"), col("cell"),
        col("vec")), Seq("cell"))
      .withColumn("cos", Registry.cosineSim(col("y_vec"), col("vec")))
      .select(col("tgt_id"), col("a_id"), col("cos"))
    val wy = Window.partitionBy(col("tgt_id")).orderBy(desc("cos"), col("a_id"))
    val ytop = yc.withColumn("rn", row_number().over(wy)).where(col("rn") <= k)
    marginPick(top, pivotAvg(top, "src_id", "x_avg", k),
      pivotAvg(ytop, "tgt_id", "y_avg", k), minMargin)
  }

  /** Persist the margin-mining serving artifact: the [[saveIvf]]
    * layout PLUS a per-target neighborhood-denominator table `yden/`
    * (tgt_id, y_avg) — avgₖ of every B-side (odd-id) vector's top-k
    * in-cell cosines against the A-side (even-id) corpus, with
    * [[pivotAvg]]'s pinned left-associated addition order. The
    * production observation: the y-denominator is a property of the
    * CORPUS, not of the queries — [[marginAlignmentFromAssigned]]
    * recomputes touched targets' neighborhoods every run, but a
    * persisted index can pay that join ONCE at build time, leaving
    * per-batch mining one broadcast-able yden lookup (the d14
    * amortization argument, applied to v9). Targets with fewer than
    * `k` in-cell A-side neighbors keep the strict-k NULL (they drop
    * at the margin join on every path, batch and stream alike). */
  def saveMarginIndex(index: IvfIndex, assigned: DataFrame, k: Int,
                      path: String): Unit = {
    // family marker FIRST: a direct build that crashes mid-way must
    // never leave cells/ without margin_meta/ — Maintenance.nightly
    // detects the margin family by the marker, and a marker-less root
    // with cells/ would be misdetected as PQ-IVF and crash the drift
    // check on the missing codebook tables. A marker-first partial
    // build is detected as margin-ivf and fails loudly at the first
    // probe of the missing tables instead (atomic replacement of a
    // LIVE index rides Maintenance.retrainAndSwap either way).
    MarginArtifact("margin_meta").writeRow(assigned.sparkSession,
      MarginArtifact("margin_meta").at(path), k)
    saveIvf(index, assigned, path)
    val aSide = assigned.where(pmod(col("vec_id"), lit(2)) === 0)
      .select(col("vec_id").as("a_id"), col("cell"), col("vec"))
    val bSide = assigned.where(pmod(col("vec_id"), lit(2)) === 1)
      .select(col("vec_id").as("tgt_id"), col("cell"),
        col("vec").as("y_vec"))
    val yc = bSide.join(aSide, Seq("cell"))
      .withColumn("cos", Registry.cosineSim(col("y_vec"), col("vec")))
      .select(col("tgt_id"), col("a_id"), col("cos"))
    val wy = Window.partitionBy(col("tgt_id")).orderBy(desc("cos"), col("a_id"))
    val ytop = yc.withColumn("rn", row_number().over(wy)).where(col("rn") <= k)
    MarginArtifact("yden").writer(pivotAvg(ytop, "tgt_id", "y_avg", k))
      .mode("overwrite").parquet(MarginArtifact("yden").at(path))
  }

  /** Mine margin-alignment pairs for a QUERY batch against the
    * persisted index — query rows are the source side (assign
    * map-side, candidates in-cell against the stored B-side targets,
    * x-denominator from the batch's own top-k), the y-denominator one
    * pruned read of the precomputed `yden/` table. On the corpus's own
    * sampled A-side rows this equals [[marginAlignmentFromAssigned]]
    * exactly (spec-pinned — yden over ALL targets vs the touched-only
    * recompute is pure precomputation, never a semantics change).
    * Query vec_ids must be disjoint from stored target ids (the same
    * id contract as every probe API here; the corpus's parity split
    * satisfies it by construction). */
  def marginAgainstIvf(spark: org.apache.spark.sql.SparkSession,
                       path: String, queries: DataFrame,
                       minMargin: Double): DataFrame = {
    val k = marginIndexK(spark, path)
    val cand = marginCandidatesAgainstIvf(spark, path, queries)
    val wq = Window.partitionBy(col("src_id")).orderBy(desc("cos"), col("tgt_id"))
    val top = cand.withColumn("rn", row_number().over(wq))
      .where(col("rn") <= k).localCheckpoint()
    marginPick(top, pivotAvg(top, "src_id", "x_avg", k),
      MarginArtifact("yden").read(spark, path), minMargin)
  }

  /** The persisted index's build-time k (top-k width shared by the
    * x side and the precomputed yden). */
  def marginIndexK(spark: org.apache.spark.sql.SparkSession,
                   path: String): Int =
    MarginArtifact.meta(spark, path).getAs[Int]("k")

  /** Shared candidate front half of the batch and streaming
    * against-index miners: assign queries to cells map-side, join the
    * stored B-side targets in-cell (partition-pruned), one cosine per
    * pair. Emits (src_id, tgt_id, cos). */
  private[graft] def marginCandidatesAgainstIvf(
      spark: org.apache.spark.sql.SparkSession, path: String,
      queries: DataFrame): DataFrame = {
    val (index, cells) = loadIvf(spark, path)
    val bSide = cells.where(pmod(col("vec_id"), lit(2)) === 1)
      .select(col("vec_id").as("tgt_id"), col("cell"), col("vec"))
    val anchors = assignToCells(index, queries)
      .select(col("vec_id").as("src_id"), col("vec").as("q_vec"),
        col("cell"))
    anchors.join(bSide, Seq("cell"))
      .withColumn("cos", Registry.cosineSim(col("q_vec"), col("vec")))
      .select(col("src_id"), col("tgt_id"), col("cos"))
  }

  /** DuckDB oracle for [[marginAlignment]]: unrolled in-order cosine
    * chains, the same rank pivots with the same left-associated sums,
    * the same (margin desc, tgt_id) pick. */
  def marginAlignmentSql(dim: Int, k: Int, minMargin: Double,
                         sampleMod: Int): String = {
    def n2(t: String) = (1 to dim)
      .map(i => s"CAST($t.embedding[$i] AS DOUBLE)*CAST($t.embedding[$i] AS DOUBLE)")
      .mkString(" + ")
    def dotE(x: String, y: String) = (1 to dim)
      .map(i => s"CAST($x.embedding[$i] AS DOUBLE)*CAST($y.embedding[$i] AS DOUBLE)")
      .mkString(" + ")
    def pivot(k: Int) = (1 to k)
      .map(i => s"MAX(CASE WHEN rn = $i THEN cos END)").mkString(" + ")
    s"""WITH q AS (SELECT vec_id, embedding, ${n2("q")} AS n2
       |           FROM embeddings q
       |           WHERE vec_id % $sampleMod = 0 AND vec_id % 2 = 0),
       |aa AS (SELECT vec_id, embedding, ${n2("aa")} AS n2
       |       FROM embeddings aa WHERE vec_id % 2 = 0),
       |bb AS (SELECT vec_id, embedding, ${n2("bb")} AS n2
       |       FROM embeddings bb WHERE vec_id % 2 = 1),
       |cand AS (
       |  SELECT q.vec_id AS src_id, bb.vec_id AS tgt_id,
       |         (${dotE("q", "bb")}) / (sqrt(q.n2) * sqrt(bb.n2)) AS cos
       |  FROM q CROSS JOIN bb),
       |topx AS (
       |  SELECT * FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY src_id
       |      ORDER BY cos DESC, tgt_id) AS rn FROM cand)
       |  WHERE rn <= $k),
       |xden AS (SELECT src_id, (${pivot(k)}) / $k.0 AS x_avg
       |         FROM topx GROUP BY src_id),
       |ys AS (SELECT DISTINCT tgt_id FROM topx),
       |yc AS (
       |  SELECT y.vec_id AS tgt_id, aa.vec_id AS a_id,
       |         (${dotE("y", "aa")}) / (sqrt(y.n2) * sqrt(aa.n2)) AS cos
       |  FROM (SELECT bb.* FROM bb JOIN ys ON ys.tgt_id = bb.vec_id) y
       |  CROSS JOIN aa),
       |ytop AS (
       |  SELECT * FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY tgt_id
       |      ORDER BY cos DESC, a_id) AS rn FROM yc)
       |  WHERE rn <= $k),
       |yden AS (SELECT tgt_id, (${pivot(k)}) / $k.0 AS y_avg
       |         FROM ytop GROUP BY tgt_id),
       |m AS (
       |  SELECT t.src_id, t.tgt_id, t.cos,
       |         t.cos / ((x_avg + y_avg) / 2.0) AS margin
       |  FROM topx t JOIN xden USING (src_id) JOIN yden USING (tgt_id)),
       |r AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY src_id
       |    ORDER BY margin DESC, tgt_id) AS rr
       |  FROM m WHERE margin >= $minMargin)
       |SELECT src_id, tgt_id, cos, margin FROM r WHERE rr = 1
       |ORDER BY src_id""".stripMargin
  }

  // ----------------------------------------- int8 scalar quantization

  /** Per-vector max-abs int8 quantization: q_i = floor(v_i/scale·127
    * + 0.5). The explicit floor-of-shifted form (not round()) pins the
    * tie rule identically across Spark and the SQL twin. */
  def quantizeI8(emb: Column): Column = {
    val scale = greatest(
      aggregate(transform(emb, x => abs(x.cast("double"))),
        lit(0.0), (a, v) => greatest(a, v)),
      lit(1e-30))
    transform(emb, x =>
      floor(x.cast("double") / scale * 127 + 0.5).cast("int"))
  }

  /** Quantized ANN top-k with exact rescoring: rank all candidates by
    * int8-dot quantized cosine (integer partial sums — order-independent
    * and exactly reproducible, unlike float accumulation), keep the best
    * `rescoreK` per query, rescore those with exact float cosine, return
    * top `k`. The scale story: 4 bytes/dim shrink to 1, so the candidate
    * scan reads a quarter of the bytes and the exact-cosine work drops
    * from |corpus| to `rescoreK` per query. Recall < 1 when quantization
    * reorders a true neighbor below rank `rescoreK` — the dial is
    * `rescoreK`, asserted in the spec. */
  def quantizedTopK(emb: DataFrame, sampleMod: Int, k: Int,
                    rescoreK: Int): DataFrame = {
    def intSum(c: Column) = aggregate(c, lit(0L), (a, v) => a + v)
    val base = emb.select(col("vec_id"), col("embedding"),
        quantizeI8(col("embedding")).as("q"))
      .withColumn("nq", intSum(transform(col("q"), x => (x * x).cast("long"))))
    val queries = base
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("q").as("qq"), col("nq").as("nqq"))
      .where(col("q_id") % sampleMod === 0)
    val wq = Window.partitionBy(col("q_id")).orderBy(desc("qcos"), col("vec_id"))
    val w = Window.partitionBy(col("q_id")).orderBy(desc("cos"), col("vec_id"))
    base.join(broadcast(queries), col("vec_id") =!= col("q_id"))
      // native one-loop integer dot — this runs |queries|×|corpus| times
      .withColumn("dotq", Registry.intDot(col("q"), col("qq")))
      .withColumn("qcos",
        col("dotq").cast("double") / sqrt((col("nq") * col("nqq")).cast("double")))
      .withColumn("qrank", row_number().over(wq))
      .where(col("qrank") <= rescoreK)
      .withColumn("cos", Registry.cosineSim(col("q_emb"), col("embedding")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("vec_id").as("neighbor_id"), col("cos"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** DuckDB oracle for [[quantizedTopK]]: same quantization formula,
    * unrolled integer dot/norm chains (integer sums need no IEEE-order
    * care), same two-stage ranking with the same tie-breaks, exact
    * rescore via the in-order float cosine chain. */
  def quantizedTopKSql(dim: Int, sampleMod: Int, k: Int,
                       rescoreK: Int): String = {
    val qdot = (1 to dim).map(i => s"a.q[$i]*q.qq[$i]").mkString(" + ")
    val n2q = (1 to dim).map(i => s"q[$i]*q[$i]").mkString(" + ")
    val dotE = (1 to dim)
      .map(i => s"CAST(c.q_emb[$i] AS DOUBLE)*CAST(c.embedding[$i] AS DOUBLE)")
      .mkString(" + ")
    def n2(t: String) = (1 to dim)
      .map(i => s"CAST($t[$i] AS DOUBLE)*CAST($t[$i] AS DOUBLE)")
      .mkString(" + ")
    s"""WITH b AS (
       |  SELECT vec_id, embedding,
       |    list_transform(embedding, x -> CAST(floor(
       |      CAST(x AS DOUBLE) / GREATEST(list_aggregate(
       |        list_transform(embedding, y -> abs(CAST(y AS DOUBLE))), 'max'),
       |        1e-30) * 127 + 0.5) AS BIGINT)) AS q
       |  FROM embeddings),
       |bn AS (SELECT vec_id, embedding, q, $n2q AS nq FROM b),
       |qs AS (SELECT vec_id AS q_id, embedding AS q_emb, q AS qq, nq AS nqq
       |       FROM bn WHERE vec_id % $sampleMod = 0),
       |scored AS (
       |  SELECT q.q_id, q.q_emb, a.vec_id, a.embedding,
       |         CAST(($qdot) AS DOUBLE) / sqrt(CAST(a.nq * q.nqq AS DOUBLE)) AS qcos
       |  FROM bn a JOIN qs q ON a.vec_id <> q.q_id),
       |cand AS (
       |  SELECT q_id, q_emb, vec_id, embedding,
       |         ROW_NUMBER() OVER (PARTITION BY q_id
       |                            ORDER BY qcos DESC, vec_id) AS qrank
       |  FROM scored),
       |rescored AS (
       |  SELECT q_id, vec_id,
       |         ($dotE) / (sqrt(${n2("c.q_emb")}) * sqrt(${n2("c.embedding")})) AS cos
       |  FROM cand c WHERE qrank <= $rescoreK),
       |ranked AS (
       |  SELECT q_id, vec_id, cos,
       |         ROW_NUMBER() OVER (PARTITION BY q_id
       |                            ORDER BY cos DESC, vec_id) AS rank
       |  FROM rescored)
       |SELECT q_id, rank, vec_id AS neighbor_id, cos FROM ranked
       |WHERE rank <= $k ORDER BY q_id, rank""".stripMargin
  }

  // ------------------------------------- product quantization (ADC)

  /** Product-quantized ANN (the billion-scale memory play): vectors
    * compress to `m` one-byte codes — dim 64 × 4 B floats → 8 B per
    * vector, 32× — and queries score candidates via ADC (asymmetric
    * distance computation): a per-query lookup table of
    * query-subvector × codeword partial dot products, so scoring a
    * vector is `m` table reads and adds, never touching floats.
    *
    * Everything is formulated RELATIONALLY so the same shapes run at
    * 100 TB and replay in SQL:
    * - codebook: the [[buildIvf]] seed rule per subspace (every
    *   (n/kCode)-th vector by id — deterministic, layout-independent;
    *   a k-means-refined codebook would be the production step, same
    *   split as buildIvf/buildIvfTrained);
    * - codes: corpus × codebook argmin per (vector, subspace) — the
    *   codebook (m·kCode rows) broadcasts, ties break to the lowest
    *   codeword id;
    * - ADC scores: codes ⋈ broadcast LUT, grouped per (query, vector).
    *   Partial dots are FIXED-POINT (floor(dot·2^16) as BIGINT) so the
    *   per-vector sum of m partials is an integer sum — order-
    *   independent, hence bit-identical across engines and retries; a
    *   double sum here would hash-differ on aggregation order.
    * - exact rescore of the top `rescoreK` by true cosine, as in
    *   [[quantizedTopK]] — the approximation picks candidates, the
    *   exact pass owns the final ranking.
    */
  def pqTopK(emb: DataFrame, m: Int, kCode: Int, sampleMod: Int, k: Int,
             rescoreK: Int): DataFrame = {
    val dim = 64
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val subDim = dim / m
    val n = emb.count()
    val step = math.max(1, n / kCode)
    // codeword source vectors: the buildIvf seed rule (by id VALUE)
    val seeds = emb.where(pmod(col("vec_id"), lit(step)) === 0)
      .orderBy(col("vec_id")).limit(kCode)
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    val cbRows = for {
      (v, j) <- seeds.zipWithIndex.toSeq
      s <- 0 until m
    } yield (s, j, v.slice(s * subDim, (s + 1) * subDim).toSeq)
    pqTopKWith(emb, cbRows, m, sampleMod, k, rescoreK)
  }

  /** [[pqTopK]]'s production form: per-subspace Lloyd-trained
    * codebooks instead of the seed rule — the same split as
    * [[buildIvf]]/[[buildIvfTrained]] and for the same reason: seed
    * codewords land where ids fall, not where subvector density is,
    * and ADC recall collapses (the spec measures the gap on the real
    * testdata). Training is driver-local over a hash-decorrelated
    * sample (subvector k-means state is m·kCode·subDim doubles);
    * a k-means fixpoint has no SQL twin, so the seed variant keeps
    * the bit-exact v7 oracle.
    *
    * `trainSampleMod` controls the DRIVER-COLLECTED training sample:
    * - `0` (the default) = AUTO: a xxhash64(vec_id)-keyed sample whose
    *   expected size is [[PqPointsPerCodeword]]·kCode — enough points
    *   per codeword for Lloyd's objective, bounded regardless of
    *   corpus size, so the training collect can never OOM the driver
    *   at 100 TB.
    * - `1` = full-corpus training, EXPLICIT opt-in only (the collect
    *   is the whole embedding table — small-corpus/debug use).
    * - `> 1` = a fixed 1/mod hash sample, as in [[buildIvfTrained]]. */
  def pqTopKTrained(emb: DataFrame, m: Int, kCode: Int, sampleMod: Int,
                    k: Int, rescoreK: Int, trainIters: Int = 10,
                    trainSampleMod: Int = 0): DataFrame =
    pqTopKWith(emb, trainPqCodebooks(emb, m, kCode, trainIters,
      trainSampleMod), m, sampleMod, k, rescoreK)

  /** Target points per codeword for the AUTO training sample: Lloyd
    * needs enough mass per center to place it at the local density —
    * 64 is the classic PQ-training regime (≥ ~39·kCode points in the
    * FAISS guidance); the auto mod keeps the expected collect at
    * `64·kCode` vectors whatever the corpus size. */
  val PqPointsPerCodeword: Int = 64

  /** The effective sampling modulus for a training collect: AUTO
    * (`trainSampleMod = 0`) derives `max(1, n / (ppc·kCode))` so the
    * expected sample is `ppc·kCode` points; explicit values pass
    * through. Pure — unit-tested directly in TrainedIvfSpec. */
  private[operators] def pqAutoTrainMod(n: Long, kCode: Int,
                                        trainSampleMod: Int): Long =
    if (trainSampleMod != 0) trainSampleMod.toLong
    else math.max(1L, n / (PqPointsPerCodeword.toLong * kCode))

  /** Per-subspace Lloyd training, driver-local, deterministic: init
    * from the [[pqTopK]] seed rule applied to the sample, ties to the
    * lowest codeword id, empty codewords keep their previous center.
    * `trainSampleMod` semantics as in [[pqTopKTrained]] (0 = auto
    * bounded sample, 1 = explicit full corpus, >1 = fixed mod). */
  def trainPqCodebooks(emb: DataFrame, m: Int, kCode: Int, iters: Int,
                       trainSampleMod: Int = 0): Seq[(Int, Int, Seq[Double])] = {
    require(trainSampleMod >= 0, "trainSampleMod must be >= 0 (0 = auto)")
    val dim = 64
    val subDim = dim / m
    // AUTO needs |corpus| to size the mod; count() is a metadata-cheap
    // pass (parquet row-group counts) and runs only on the auto path.
    val mod = pqAutoTrainMod(
      if (trainSampleMod == 0) emb.count() else 1L, kCode, trainSampleMod)
    val sample = (if (mod <= 1L) emb
      else emb.where(pmod(xxhash64(col("vec_id")), lit(mod)) === 0))
      .orderBy(col("vec_id"))
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    require(sample.nonEmpty, "empty training sample")
    val step = math.max(1, sample.length / kCode)
    (0 until m).flatMap { s =>
      val subs = sample.map(_.slice(s * subDim, (s + 1) * subDim))
      var centers = (0 until kCode)
        .map(j => subs(math.min(j * step, subs.length - 1)).clone()).toArray
      for (_ <- 1 to iters) {
        val sums = Array.fill(kCode)(new Array[Double](subDim))
        val counts = new Array[Long](kCode)
        subs.foreach { v =>
          var best = 0; var bestD = Double.MaxValue
          for (j <- 0 until kCode) {
            var d = 0.0; var i = 0
            while (i < subDim) {
              val t = v(i) - centers(j)(i); d += t * t; i += 1
            }
            if (d < bestD) { bestD = d; best = j }
          }
          counts(best) += 1
          var i = 0
          while (i < subDim) { sums(best)(i) += v(i); i += 1 }
        }
        centers = centers.zipWithIndex.map { case (c, j) =>
          if (counts(j) == 0) c
          else sums(j).map(_ / counts(j))
        }
      }
      centers.zipWithIndex.map { case (c, j) => (s, j, c.toSeq) }
    }
  }

  // ------------------ persisted IVF+PQ serving index (memory tier)

  /** Persist the full memory-tier serving index: trained IVF cells
    * with PER-VECTOR PQ CODES stored in the cell-partitioned table —
    * the FAISS IVF-PQ layout as parquet. Each cell row carries
    * (vec_id, embedding, codes); a probe's ADC pass reads only the
    * `codes` column of probed partitions, and the exact rescore
    * re-joins the same pruned partitions reading `embedding` for the
    * survivors only — partition pruning × column pruning splitting
    * the byte cost exactly the way the RAM tiers do (codes hot,
    * floats cold). Centroids, codebooks and (m, kCode) ride side
    * tables; meta is written LAST as the commit marker, so a probe of
    * a half-written index fails loudly instead of finding nothing. */
  def savePqIvf(emb: DataFrame, nCentroids: Int, m: Int, kCode: Int,
                path: String, trainIters: Int = 10): Unit = {
    val spark = emb.sparkSession
    import spark.implicits._
    val base = emb.select(col("vec_id"), col("embedding"))
    val (index, assigned) = buildIvfTrained(base, nCentroids, maxIter = trainIters)
    val cbRows = trainPqCodebooks(base, m, kCode, trainIters)
    val cbFlat = typedLit(cbRows.sortBy(t => (t._1, t._2)).flatMap(_._3))
    val cells = assigned.toDF().select(col("vec_id"), col("cell"))
      .join(base, "vec_id")
      .select(col("vec_id"), col("cell"), col("embedding"),
        Registry.pqEncode(col("embedding"), cbFlat, m, kCode).as("codes"))
    PqIvfArtifact("cells").writer(cells).mode("overwrite")
      .parquet(PqIvfArtifact("cells").at(path))
    writeCentroids(index, spark, path)
    PqIvfArtifact("codebooks").writer(cbRows.toDF("s", "j", "cb").coalesce(1))
      .mode("overwrite").parquet(PqIvfArtifact("codebooks").at(path))
    PqIvfArtifact("meta").writeRow(spark, PqIvfArtifact("meta").at(path), m,
      kCode, nCentroids)
  }

  /** A loaded [[savePqIvf]] index: its (m, kCode), frozen centroids,
    * frozen codebooks as one flat literal (s-major, then codeword, then
    * dimension — the layout the PQ kernels extract) and the cells. */
  private case class PqIvf(m: Int, kCode: Int, index: IvfIndex,
                           cbFlat: Column, cells: DataFrame)

  private def loadPqIvf(spark: org.apache.spark.sql.SparkSession,
                        path: String): PqIvf = {
    val meta = PqIvfArtifact.meta(spark, path)
    val cbRows = PqIvfArtifact("codebooks").read(spark, path).collect()
      .map(r => (r.getAs[Int]("s"), r.getAs[Int]("j"),
        r.getSeq[Double](r.fieldIndex("cb")))).toSeq
    PqIvf(meta.getAs[Int]("m"), meta.getAs[Int]("k_code"),
      readCentroids(spark, path),
      typedLit(cbRows.sortBy(t => (t._1, t._2)).flatMap(_._3)),
      PqIvfArtifact("cells").read(spark, path))
  }

  /** Incremental maintenance for a [[savePqIvf]] index: assign arriving
    * vectors under the index's FROZEN centroids, encode them under the
    * FROZEN codebooks, and append to the cell-partitioned table —
    * exactly [[appendToIvf]]'s daily-ingest contract extended to the
    * codes column, so probes after the append see the union as a fresh
    * save of it would (same centroids ⇒ same cells, same codebooks ⇒
    * same codes — spec-asserted via exhaustive-probe ≡ brute force
    * over the union). Fragmentation from repeated appends is the
    * [[compactIvfCells]] story: the shared
    * [[graft.sources.Table.compact]] applies to
    * `PqIvfArtifact("cells")` verbatim. Codebook/centroid drift under a shifted
    * ingest distribution is the [[ivfCellStats]] tripwire, unchanged. */
  def appendToPqIvf(newVectors: DataFrame, path: String): Unit = {
    val spark = newVectors.sparkSession
    graft.sources.Rebuild.assertNotInflight(spark, path)
    val pq = loadPqIvf(spark, path)
    val base = newVectors.select(col("vec_id"), col("embedding"))
    PqIvfArtifact("cells").writer(
        assignToCells(pq.index, base).select(col("vec_id"), col("cell"))
          .join(base, "vec_id")
          .select(col("vec_id"), col("cell"), col("embedding"),
            Registry.pqEncode(col("embedding"), pq.cbFlat, pq.m, pq.kCode)
              .as("codes")))
      .mode("append").parquet(PqIvfArtifact("cells").at(path))
  }

  /** Repair a [[savePqIvf]] index damaged by an at-least-once replayed
    * append (the [[graft.streaming.VectorStreams.indexedVectorSink]]
    * crash window): a duplicated append leaves duplicate cell rows,
    * which can surface the same neighbor twice in a probe's top-k and
    * waste rescore slots. Exact row-level dedup of the cells table
    * through the shared stage-aside/rename swap
    * ([[graft.sources.TableSwap]] — crash-recoverable, idempotent on a
    * healthy index). Centroids/codebooks/meta are single-writer
    * (save/rebuild only) and never need repair. */
  def repairPqIvf(spark: org.apache.spark.sql.SparkSession,
                  path: String): Unit = {
    PqIvfArtifact.requireSaved(spark, path)
    val cells = PqIvfArtifact("cells")
    cells.rewrite(spark, path)(cells.read(spark, path).dropDuplicates())
  }

  /** Probe a [[savePqIvf]] index: `nProbe` nearest cells per query
    * (shared [[nearestCells]] rule), ADC scoring over the codes
    * column, exact-cosine rescore of the top `rescoreK` via a second
    * (cell, vec_id)-keyed join into the same pruned partitions. Both
    * cell scans carry dynamic-partition-pruning filters
    * (spec-asserted). Ranking rules are [[pqTopK]]'s: fixed-point ADC,
    * ties to the lowest vec_id, the exact pass owns the final order —
    * so with every cell probed and an unbounded rescore the result
    * EQUALS [[bruteForceTopK]] (spec-asserted), and nProbe/rescoreK
    * dial recall against cost from there. */
  def pqIvfSearch(spark: org.apache.spark.sql.SparkSession, path: String,
                  queries: DataFrame, k: Int, nProbe: Int,
                  rescoreK: Int): DataFrame =
    rescoredTopK(pqIvfAdcCandidates(spark, path, queries, nProbe), k, rescoreK)

  /** [[pqIvfSearch]]'s exact-cosine rescore of the ADC candidates. */
  private def rescoredTopK(candidates: (DataFrame, DataFrame), k: Int,
                           rescoreK: Int): DataFrame = {
    val (cand0, cells) = candidates
    val wq = Window.partitionBy(col("q_id")).orderBy(desc("qscore"), col("vec_id"))
    val cand = cand0
      .withColumn("qrank", row_number().over(wq))
      .where(col("qrank") <= rescoreK)
      .select(col("q_id"), col("q_emb"), col("cell"), col("vec_id"))
    val w = Window.partitionBy(col("q_id")).orderBy(desc("cos"), col("vec_id"))
    cand
      .join(cells.select(col("cell"), col("vec_id"), col("embedding")),
        Seq("cell", "vec_id"))
      .withColumn("cos", Registry.cosineSim(col("q_emb"), col("embedding")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("vec_id").as("neighbor_id"), col("cos"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** The shared ADC front half of a [[savePqIvf]]-index probe: load
    * meta/centroids/codebooks, pick each query's `nProbe` nearest
    * cells ([[nearestCells]]), and score every cohabiting code row by
    * ADC. Returns the scored candidates (q_id, q_emb, cell, vec_id,
    * qscore) plus the cells table (for the exact rescore join). ONE
    * implementation consumed by both cuts — [[pqIvfSearch]]'s
    * row_number windows and the streaming bounded-heap form
    * ([[graft.streaming.VectorStreams.pqIvfEnrich]]) — so the two
    * serving surfaces cannot drift on probe selection, LUT layout, or
    * the self-exclusion rule. */
  private[graft] def pqIvfAdcCandidates(
      spark: org.apache.spark.sql.SparkSession, path: String,
      queries: DataFrame, nProbe: Int): (DataFrame, DataFrame) = {
    // mid-rebuild cells may be encoded under codebooks the codebook
    // table does not yet hold — ADC scores would be silently wrong;
    // fail loudly instead (heal by re-running the rebuild)
    graft.sources.Rebuild.assertNotInflight(spark, path)
    adcCandidates(spark, loadPqIvf(spark, path), queries, nProbe)
  }

  /** [[pqIvfAdcCandidates]] over an index already loaded. */
  private def adcCandidates(spark: org.apache.spark.sql.SparkSession, pq: PqIvf,
                            queries: DataFrame, nProbe: Int): (DataFrame, DataFrame) = {
    val PqIvf(m, kCode, index, cbFlat, cells) = pq
    val bc = spark.sparkContext.broadcast(index)
    import spark.implicits._
    val qCells = queries.select(col("vec_id").as("q_id"), col("embedding"))
      .map { r =>
        val f = r.getSeq[Float](1).toArray
        (r.getLong(0), f, nearestCells(bc.value, f.map(_.toDouble), nProbe))
      }.toDF("q_id", "q_emb", "cells")
    val probes = qCells
      .withColumn("lut", Registry.pqLut(col("q_emb"), cbFlat, m, kCode))
      .select(col("q_id"), col("q_emb"), col("lut"),
        explode(col("cells")).as("cell"))
    val cand = probes.join(cells.select(col("cell"), col("vec_id"), col("codes")),
        Seq("cell"))
      .where(col("vec_id") =!= col("q_id"))
      .withColumn("qscore", Registry.pqAdc(col("codes"), col("lut"), kCode))
      .select(col("q_id"), col("q_emb"), col("cell"), col("vec_id"),
        col("qscore"))
    (cand, cells)
  }

  /** Staleness verdict for a [[savePqIvf]] index under frozen-parameter
    * appends ([[appendToPqIvf]]): `skewDrifted` when cell occupancy has
    * degenerated past `skewBound` (appended mass piling into the cells
    * nearest a SHIFTED ingest distribution — the [[IvfCellStats]]
    * tripwire applied to the PQ index's cells), `recallDrifted` when a
    * sampled serving-configuration probe recalls below `recallFloor`
    * against exact brute force over the index's own vectors (frozen
    * codebooks quantize drifted vectors badly even when occupancy still
    * looks healthy — the failure mode occupancy alone cannot see).
    * Either one ⇒ `drifted` ⇒ run [[rebuildPqIvf]] before the next
    * append. */
  case class PqIvfDriftReport(occupancy: IvfCellStats, sampledQueries: Long,
                              recallAtK: Double, skewBound: Double,
                              recallFloor: Double) {
    def skewDrifted: Boolean = occupancy.drifted(skewBound)
    def recallDrifted: Boolean = recallAtK < recallFloor
    def drifted: Boolean = skewDrifted || recallDrifted
  }

  /** The post-append maintenance check for a [[savePqIvf]] index —
    * cheap by construction: occupancy is one groupBy with k rows to
    * the driver, and the recall probe runs the SERVING configuration
    * (nProbe/rescoreK) for a 1-in-`sampleMod` query sample against a
    * brute-force pass over the index (|sample| × |index| scored pairs
    * — size the mod so the sample is hundreds of queries, the same
    * dial as PQ training's bounded sample). The daily loop this guards:
    * append → driftCheck → ([[rebuildPqIvf]] if drifted, else
    * `PqIvfArtifact("cells").compact` when fragmented). */
  def pqIvfDriftCheck(spark: org.apache.spark.sql.SparkSession, path: String,
                      sampleMod: Int, k: Int, nProbe: Int, rescoreK: Int,
                      skewBound: Double = 4.0,
                      recallFloor: Double = 0.9): PqIvfDriftReport = {
    graft.sources.Rebuild.assertNotInflight(spark, path)
    // one load serves the occupancy, the sample and the serving probe
    val pq = loadPqIvf(spark, path)
    val vectors = pq.cells.select(col("vec_id"), col("embedding"))
    val queries = vectors.where(col("vec_id") % sampleMod === 0)
    val truth = bruteForceTopK(vectors, sampleMod, k)
    val approx = rescoredTopK(adcCandidates(spark, pq, queries, nProbe), k, rescoreK)
    val truthPairs = truth.select(col("q_id"), col("neighbor_id"))
    val hit = approx.select(col("q_id"), col("neighbor_id"))
      .join(truthPairs, Seq("q_id", "neighbor_id")).count()
    val denom = truthPairs.count()
    PqIvfDriftReport(
      occupancy = ivfCellStats(pq.index, pq.cells),
      sampledQueries = queries.count(),
      recallAtK = if (denom == 0) 1.0 else hit.toDouble / denom,
      skewBound = skewBound, recallFloor = recallFloor)
  }

  /** Re-train a drifted [[savePqIvf]] index from its own current
    * vectors, in place: fresh k-means centroids AND fresh PQ codebooks
    * over the full resident+appended population, same (nCentroids, m,
    * kCode) read from the index's meta. Crash-safe by re-run via the
    * shared snapshot protocol ([[graft.sources.Rebuild]]): the current
    * vectors are snapshotted (token-committed) FIRST and the rebuild
    * runs from the snapshot, so a rebuild that died mid-overwrite is
    * healed by calling [[rebuildPqIvf]] again, and a COMPLETED
    * rebuild's leftover snapshot (token already echoed to the done
    * marker) is discarded rather than rolling back later appends. */
  def rebuildPqIvf(spark: org.apache.spark.sql.SparkSession, path: String,
                   trainIters: Int = 10): Unit =
    // meta is read lazily INSIDE the snapshot thunk: a re-run healing
    // a crashed rebuild takes (m, kCode, nCentroids) from the
    // snapshot's persisted params instead, so it heals even when the
    // crash tore the meta table itself
    graft.sources.Rebuild.withCommittedSnapshot(spark, path, {
      val meta = PqIvfArtifact.meta(spark, path)
      (PqIvfArtifact("cells").read(spark, path)
         .select(col("vec_id"), col("embedding")),
       Seq("m", "k_code", "n_centroids")
         .map(f => f -> meta.getAs[Int](f).toString).toMap)
    }) { (snap, params) =>
      savePqIvf(snap, params("n_centroids").toInt, params("m").toInt,
        params("k_code").toInt, path, trainIters)
    }

  /** `pq_encode` runs once per vector, not per (vector, query) pair:
    * [[graft.plans.EvalOnce]] evaluates the join's streamed side before
    * its loop. Every library session ([[graft.LocalSession]]) installs
    * it; an external caller's session built without
    * `GraftExtensions.install` keeps the per-pair encode. */
  private def pqTopKWith(emb: DataFrame, cbRows: Seq[(Int, Int, Seq[Double])],
                         m: Int, sampleMod: Int, k: Int,
                         rescoreK: Int): DataFrame = {
    val kCode = cbRows.map(_._2).max + 1
    // flat codebook literal (s-major, then codeword, then dimension):
    // m·kCode·subDim doubles riding the plan as one foldable array —
    // the three native kernels (PqEncode/PqLut/PqAdc) extract it once
    // per executor. The interpreted HOF formulation of the same math
    // (explode per subspace, zip_with+aggregate per codeword) benched
    // 12.4 s at sf0.1; these loops replace it wholesale.
    val cbFlat = typedLit(
      cbRows.sortBy(t => (t._1, t._2)).flatMap(_._3))
    val codes = emb.select(col("vec_id"),
      Registry.pqEncode(col("embedding"), cbFlat, m, kCode).as("codes"))
    val queries = emb.where(col("vec_id") % sampleMod === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val lut = queries.select(col("q_id"), col("q_emb"),
      Registry.pqLut(col("q_emb"), cbFlat, m, kCode).as("lut"))
    val wq = Window.partitionBy(col("q_id")).orderBy(desc("qscore"), col("vec_id"))
    val w = Window.partitionBy(col("q_id")).orderBy(desc("cos"), col("vec_id"))
    codes.join(broadcast(lut), col("vec_id") =!= col("q_id"))
      .withColumn("qscore", Registry.pqAdc(col("codes"), col("lut"), kCode))
      .withColumn("qrank", row_number().over(wq))
      .where(col("qrank") <= rescoreK)
      .join(emb.select(col("vec_id"), col("embedding")), Seq("vec_id"))
      .withColumn("cos", Registry.cosineSim(col("q_emb"), col("embedding")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("vec_id").as("neighbor_id"), col("cos"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** DuckDB oracle for [[pqTopK]]: the identical chain — seed-rule
    * codebook, per-subspace argmin with the same in-order double
    * arithmetic and lowest-j ties, fixed-point ADC partials summed as
    * integers, exact-cosine rescore with the v5 tie-breaks. */
  def pqTopKSql(dim: Int, m: Int, kCode: Int, sampleMod: Int, k: Int,
                rescoreK: Int): String = {
    val subDim = dim / m
    // element d of subspace s of an embedding column, as double
    def el(t: String, d: Int) = s"CAST($t.embedding[$t.s * $subDim + $d] AS DOUBLE)"
    def cbEl(d: Int) = s"CAST(cb.cb[$d] AS DOUBLE)"
    val distChain = (1 to subDim)
      .map(d => s"(${el("sub", d)} - ${cbEl(d)}) * (${el("sub", d)} - ${cbEl(d)})")
      .mkString(" + ")
    val dotChain = (1 to subDim)
      .map(d => s"${el("qs", d)} * ${cbEl(d)}")
      .mkString(" + ")
    val dotE = (1 to dim)
      .map(i => s"CAST(c.q_emb[$i] AS DOUBLE)*CAST(c.embedding[$i] AS DOUBLE)")
      .mkString(" + ")
    def n2(t: String) = (1 to dim)
      .map(i => s"CAST($t[$i] AS DOUBLE)*CAST($t[$i] AS DOUBLE)")
      .mkString(" + ")
    s"""WITH stepv AS (
       |  SELECT GREATEST(1, COUNT(*) // $kCode) AS step FROM embeddings),
       |seeds AS (
       |  SELECT embedding,
       |         ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS j
       |  FROM embeddings, stepv WHERE vec_id % step = 0
       |  ORDER BY vec_id LIMIT $kCode),
       |cb AS (
       |  SELECT sg.s AS s, seeds.j AS j,
       |         seeds.embedding[sg.s * $subDim + 1 : (sg.s + 1) * $subDim] AS cb
       |  FROM seeds, LATERAL (
       |    SELECT unnest(range(0, $m)) AS s) sg),
       |sub AS (
       |  SELECT vec_id, embedding, sg.s AS s
       |  FROM embeddings, LATERAL (SELECT unnest(range(0, $m)) AS s) sg),
       |dists AS (
       |  SELECT sub.vec_id, sub.s, cb.j, $distChain AS dist
       |  FROM sub JOIN cb ON sub.s = cb.s),
       |codes AS (
       |  SELECT vec_id, s, j FROM (
       |    SELECT vec_id, s, j,
       |           ROW_NUMBER() OVER (PARTITION BY vec_id, s
       |                              ORDER BY dist, j) AS rn
       |    FROM dists) t WHERE rn = 1),
       |qs AS (
       |  SELECT vec_id AS q_id, embedding, sg.s AS s
       |  FROM embeddings, LATERAL (SELECT unnest(range(0, $m)) AS s) sg
       |  WHERE vec_id % $sampleMod = 0),
       |lut AS (
       |  SELECT qs.q_id, qs.s, cb.j,
       |         CAST(floor(($dotChain) * 65536.0) AS BIGINT) AS pint
       |  FROM qs JOIN cb ON qs.s = cb.s),
       |scored AS (
       |  SELECT l.q_id, c.vec_id, CAST(SUM(l.pint) AS BIGINT) AS qscore
       |  FROM codes c JOIN lut l ON c.s = l.s AND c.j = l.j
       |  WHERE l.q_id <> c.vec_id
       |  GROUP BY l.q_id, c.vec_id),
       |cand AS (
       |  SELECT q_id, vec_id FROM (
       |    SELECT q_id, vec_id,
       |           ROW_NUMBER() OVER (PARTITION BY q_id
       |                              ORDER BY qscore DESC, vec_id) AS qrank
       |    FROM scored) t WHERE qrank <= $rescoreK),
       |rescored AS (
       |  SELECT c.q_id, c.vec_id,
       |         ($dotE) / (sqrt(${n2("c.q_emb")}) * sqrt(${n2("c.embedding")})) AS cos
       |  FROM (SELECT cand.q_id, cand.vec_id, e.embedding, q.embedding AS q_emb
       |        FROM cand
       |        JOIN embeddings e ON e.vec_id = cand.vec_id
       |        JOIN embeddings q ON q.vec_id = cand.q_id) c),
       |ranked AS (
       |  SELECT q_id, vec_id, cos,
       |         ROW_NUMBER() OVER (PARTITION BY q_id
       |                            ORDER BY cos DESC, vec_id) AS rank
       |  FROM rescored)
       |SELECT q_id, rank, vec_id AS neighbor_id, cos FROM ranked
       |WHERE rank <= $k ORDER BY q_id, rank""".stripMargin
  }

  // ---------------------------------- IVF × int8 × rescore (serving)

  /** The composed ANN serving path: IVF probe (touch nProbe cells, not
    * the corpus) → int8 quantized scoring inside the probed cells (a
    * quarter of the bytes, integer dot) → exact float rescore of the
    * best `rescoreK` only. This is the 100 TB serving shape: the scan
    * is DPP-pruned to the probed cells when `assigned` is the
    * cell-partitioned table ([[saveIvf]]), the quantized rank prunes
    * per-query partially (WindowGroupLimit) before the exchange, and
    * exact cosine work is `rescoreK` rows per query, independent of
    * corpus size. Recall dials: `nProbe` (cells touched) and
    * `rescoreK` (quantization-reorder headroom). */
  def ivfQuantizedTopK(index: IvfIndex, assigned: DataFrame, queries: DataFrame,
                       k: Int, nProbe: Int, rescoreK: Int): DataFrame = {
    val sess = assigned.sparkSession
    val bc = sess.sparkContext.broadcast(index)
    import sess.implicits._
    def intSum(c: Column) = aggregate(c, lit(0L), (a, v) => a + v)
    // corpus side quantizes BELOW the join — once per resident row,
    // map-side, never per candidate pair
    val cand = assigned.withColumn("q", quantizeI8(col("vec")))
      .withColumn("nq", intSum(transform(col("q"), x => (x * x).cast("long"))))
    val qCells = queries.select(col("vec_id").as("q_id"), col("embedding"))
      .map { r =>
        val v = r.getSeq[Float](1).map(_.toDouble).toArray
        (r.getLong(0), v, nearestCells(bc.value, v, nProbe))
      }.toDF("q_id", "q_vec", "cells")
      .withColumn("qq", quantizeI8(col("q_vec")))
      .withColumn("nqq", intSum(transform(col("qq"), x => (x * x).cast("long"))))
    val probed = qCells.select(col("q_id"), col("q_vec"), col("qq"), col("nqq"),
      explode(col("cells")).as("cell"))
    val wq = Window.partitionBy(col("q_id")).orderBy(desc("qcos"), col("vec_id"))
    val w = Window.partitionBy(col("q_id")).orderBy(desc("cos"), col("vec_id"))
    probed.join(cand, Seq("cell"))
      .where(col("vec_id") =!= col("q_id"))
      .withColumn("dotq", Registry.intDot(col("q"), col("qq")))
      .withColumn("qcos",
        col("dotq").cast("double") / sqrt((col("nq") * col("nqq")).cast("double")))
      .withColumn("qrank", row_number().over(wq))
      .where(col("qrank") <= rescoreK)
      .withColumn("cos", Registry.cosineSim(col("q_vec"), col("vec")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("vec_id").as("neighbor_id"), col("cos"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** One-call surface for [[ivfQuantizedTopK]] — the `queries()` entry.
    * Uses the deterministic-seed [[buildIvf]] so the DuckDB oracle can
    * replicate the whole pipeline bit-for-bit; swap in
    * [[buildIvfTrained]] for a production index (same search code). */
  def ivfQuantizedSearch(emb: DataFrame, k: Int, nCentroids: Int, nProbe: Int,
                         rescoreK: Int, sampleMod: Int): DataFrame = {
    val base = emb.select(col("vec_id"), col("embedding"))
    val (index, assigned) = buildIvf(base, nCentroids)
    ivfQuantizedTopK(index, assigned, base.where(col("vec_id") % sampleMod === 0),
      k, nProbe, rescoreK)
  }

  /** DuckDB oracle for [[ivfQuantizedSearch]]: the full composed
    * pipeline in SQL — [[ivfAssignCte]] assignment, the same max-abs
    * int8 quantization and integer dot (order-free), the same nProbe
    * probe and two-stage (qrank→rescore→rank) tie rules, exact float
    * rescore via the in-order cosine chain. Bit-exact end to end. */
  def ivfQuantizedSearchSql(dim: Int, k: Int, nCentroids: Int, nProbe: Int,
                            rescoreK: Int, sampleMod: Int): String = {
    val dist = sqlDist(dim) _
    val n2 = sqlN2(dim) _
    val dot = sqlDot(dim) _
    val qdot = (1 to dim).map(i => s"a.q[$i]*q.qq[$i]").mkString(" + ")
    val n2q = (1 to dim).map(i => s"q[$i]*q[$i]").mkString(" + ")
    s"""${ivfAssignCte(dim, nCentroids)},
       |bq AS (
       |  SELECT vec_id, cell, embedding,
       |    list_transform(embedding, x -> CAST(floor(
       |      CAST(x AS DOUBLE) / GREATEST(list_aggregate(
       |        list_transform(embedding, y -> abs(CAST(y AS DOUBLE))), 'max'),
       |        1e-30) * 127 + 0.5) AS BIGINT)) AS q
       |  FROM assign),
       |bn AS (SELECT vec_id, cell, embedding, q, $n2q AS nq FROM bq),
       |qs AS (SELECT vec_id AS q_id, embedding AS q_emb, q AS qq, nq AS nqq
       |       FROM bn WHERE vec_id % $sampleMod = 0),
       |probe AS (
       |  SELECT q_id, cell FROM (
       |    SELECT q.q_id, c.ci AS cell,
       |           ROW_NUMBER() OVER (PARTITION BY q.q_id
       |             ORDER BY ${dist("q.q_emb", "c.embedding")}, c.ci) AS rn
       |    FROM qs q CROSS JOIN cent c)
       |  WHERE rn <= $nProbe),
       |scored AS (
       |  SELECT q.q_id, q.q_emb, a.vec_id, a.embedding,
       |         CAST(($qdot) AS DOUBLE) / sqrt(CAST(a.nq * q.nqq AS DOUBLE)) AS qcos
       |  FROM probe p
       |  JOIN bn a ON a.cell = p.cell
       |  JOIN qs q ON q.q_id = p.q_id AND a.vec_id <> q.q_id),
       |cand AS (
       |  SELECT q_id, q_emb, vec_id, embedding,
       |         ROW_NUMBER() OVER (PARTITION BY q_id
       |                            ORDER BY qcos DESC, vec_id) AS qrank
       |  FROM scored),
       |rescored AS (
       |  SELECT q_id, vec_id,
       |         (${dot("c.q_emb", "c.embedding")}) /
       |         (sqrt(${n2("c.q_emb")}) * sqrt(${n2("c.embedding")})) AS cos
       |  FROM cand c WHERE qrank <= $rescoreK),
       |ranked AS (
       |  SELECT q_id, vec_id, cos,
       |         ROW_NUMBER() OVER (PARTITION BY q_id
       |                            ORDER BY cos DESC, vec_id) AS rank
       |  FROM rescored)
       |SELECT q_id, rank, vec_id AS neighbor_id, cos FROM ranked
       |WHERE rank <= $k ORDER BY q_id, rank""".stripMargin
  }

  /** Random-hyperplane LSH (sign sketch): `nBits` fixed deterministic
    * pseudo-hyperplanes; bucket = sign bit vector. Near-dup candidates
    * share a bucket; verification is exact cosine within bucket only.
    * This is the shape that survives 1000 executors — bucket join, no
    * cross product. */
  /** DuckDB oracle for [[lshCosinePairs]]: the deterministic
    * pseudo-hyperplanes are computed HERE with the same integer formula
    * as [[graft.functions.HyperplaneSig]] and embedded as double
    * literals (Double.toString round-trips exactly); each projection is
    * a left-associated `+` chain = the native loop's IEEE fold order, so
    * sign decisions — and therefore buckets — match bit-for-bit. */
  def lshCosinePairsSql(dim: Int, nBits: Int, minCos: Double): String = {
    def plane(b: Int, d: Int): Double = {
      val x = (b * 1315423911L + d * 2654435761L) & 0xFFFFFFFFL
      (x.toDouble / 0xFFFFFFFFL.toDouble) * 2.0 - 1.0
    }
    def proj(b: Int) = (0 until dim)
      .map(d => s"CAST(e.embedding[${d + 1}] AS DOUBLE)*(${plane(b, d)})")
      .mkString(" + ")
    val sig = (0 until nBits)
      .map(b => s"(CASE WHEN (${proj(b)}) > 0 THEN ${1L << b} ELSE 0 END)")
      .mkString(" + ")
    def n2(t: String) = (1 to dim)
      .map(i => s"CAST($t.embedding[$i] AS DOUBLE)*CAST($t.embedding[$i] AS DOUBLE)")
      .mkString(" + ")
    val dotE = (1 to dim)
      .map(i => s"CAST(a.embedding[$i] AS DOUBLE)*CAST(b.embedding[$i] AS DOUBLE)")
      .mkString(" + ")
    s"""WITH v AS (SELECT vec_id, embedding, ${n2("e")} AS n2, $sig AS sig
       |           FROM embeddings e)
       |SELECT a.vec_id AS id1, b.vec_id AS id2,
       |       ($dotE) / (sqrt(a.n2) * sqrt(b.n2)) AS cos
       |FROM v a JOIN v b ON a.sig = b.sig AND a.vec_id < b.vec_id
       |WHERE ($dotE) / (sqrt(a.n2) * sqrt(b.n2)) >= $minCos
       |ORDER BY id1, id2""".stripMargin
  }

  def lshCosinePairs(emb: DataFrame, dim: Int, nBits: Int,
                     minCos: Double): DataFrame = {
    // native one-loop signature (see HyperplaneSig for why not a
    // generated expression chain)
    val withSig = emb.select(col("vec_id"), col("embedding"),
      Registry.hyperplaneSig(col("embedding"), nBits, dim).as("bucket"))
    withSig.as("a").join(withSig.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
      .withColumn("cos", Registry.cosineSim(col("a.embedding"), col("b.embedding")))
      .where(col("cos") >= minCos)
      .select(col("a.vec_id").as("id1"), col("b.vec_id").as("id2"), col("cos"))
      .orderBy(col("id1"), col("id2"))
  }
}
