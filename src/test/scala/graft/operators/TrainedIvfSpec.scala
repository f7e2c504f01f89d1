package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

/** The production IVF story: k-means-trained centroids
  * (Similarity.buildIvfTrained) vs the deterministic every-(n/k)-th
  * seed (buildIvf, kept for the bit-exact v4/v6 oracles).
  *
  * Two corpora probe the difference:
  *  - the near-uniform testdata embeddings (IVF's worst case — no
  *    cluster structure to exploit), where the bar is absolute recall;
  *  - a clustered, source-ordered fixture (ids grouped by source, the
  *    layout real ingests produce), where the untrained seed drops all
  *    centroids into ONE source's cluster — hot cells, junk recall —
  *    and training fixes both.
  */
class TrainedIvfSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def topkPairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(2))).toSet

  private def maxOverMean(assigned: org.apache.spark.sql.DataFrame): Double = {
    val sizes = assigned.groupBy("cell").count().collect().map(_.getLong(1))
    sizes.max.toDouble / (sizes.sum.toDouble / sizes.length)
  }

  /** Stage a rebuild-protocol token file (graft.sources.Rebuild's
    * commit markers) to simulate crash states. */
  private def writeToken(fs: org.apache.hadoop.fs.FileSystem,
                         p: org.apache.hadoop.fs.Path, tok: String): Unit = {
    val out = fs.create(p, true)
    try out.write(tok.getBytes("UTF-8")) finally out.close()
  }

  test("trained IVF on testdata: recall@10 >= 0.8 at nProbe=10/16, cells balanced (max/mean <= 4)") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val (index, assigned) = Similarity.buildIvfTrained(emb, k = 16)
    assert(index.centroids.length === 16)
    assert(assigned.count() === emb.count())
    assert(maxOverMean(assigned) <= 4.0)
    val queries = emb.where(col("vec_id") % 25 === 0)
    val exact = topkPairs(Similarity.bruteForceTopK(emb, sampleMod = 25, k = 10))
    val ivf = topkPairs(
      Similarity.ivfTopK(index, assigned, queries, k = 10, nProbe = 10))
    val recall = (ivf & exact).size.toDouble / exact.size
    assert(recall >= 0.8, s"trained IVF recall@10 = $recall")
    // exhaustive probe degenerates to exact search — trained centroids
    // change WHERE vectors live, never what a full scan returns
    val full = topkPairs(
      Similarity.ivfTopK(index, assigned, queries, k = 10, nProbe = 16))
    assert(full === exact)
  }

  /** Source-ordered clustered corpus: even ids are source A (half the
    * mass), odd ids spread over 7 more clusters. Every (n/k)-th id is
    * even, so the untrained seed puts ALL its centroids inside source
    * A's cluster. Within-cluster spread (1.5) is comparable to the
    * centroid spacing, so assignment of the other sources decorrelates
    * from their true neighborhoods — the layout where an untrained
    * index quietly degrades. Deterministic (fixed RNG). */
  private lazy val clustered: org.apache.spark.sql.DataFrame = {
    val dim = 16; val nClusters = 8; val n = 512
    val rnd = new scala.util.Random(11)
    val centers = Array.fill(nClusters, dim)(rnd.nextGaussian() * 1.6)
    (0 until n).map { i =>
      val c = if (i % 2 == 0) 0 else 1 + rnd.nextInt(nClusters - 1)
      val v = centers(c).map(x => (x + 1.5 * rnd.nextGaussian()).toFloat).toSeq
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
  }

  test("clustered corpus: untrained seed centroids unbalance cells and drop recall; trained centroids fix both") {
    val emb = clustered.cache()
    try {
      val exact = topkPairs(Similarity.bruteForceTopK(emb, sampleMod = 25,
        k = 10, dim = 16))
      val queries = emb.where(col("vec_id") % 25 === 0)
      def recallAt(index: Similarity.IvfIndex,
                   assigned: org.apache.spark.sql.DataFrame, nProbe: Int) = {
        val got = topkPairs(
          Similarity.ivfTopK(index, assigned, queries, k = 10, nProbe = nProbe))
        (got & exact).size.toDouble / exact.size
      }
      val (seedIdx, seedAssigned) = Similarity.buildIvf(emb, k = 16)
      val (trainIdx, trainAssigned) = Similarity.buildIvfTrained(emb, k = 16)
      val (seedBal, trainBal) = (maxOverMean(seedAssigned), maxOverMean(trainAssigned))
      val (seedRec, trainRec) = (recallAt(seedIdx, seedAssigned, 4),
        recallAt(trainIdx, trainAssigned, 4))
      withClue(s"seed(bal=$seedBal rec=$seedRec) trained(bal=$trainBal rec=$trainRec): ") {
        // trained: every source owns centroids in proportion to its
        // density — 4/16 probes recover the true neighbors, no hot cell
        assert(trainRec >= 0.9)
        assert(trainBal <= 2.5)
        // untrained: all 16 centroids sit in source A's cluster — other
        // sources assign by noise, probes rank uninformative centroids
        assert(seedRec <= trainRec - 0.15)
        assert(seedBal >= trainBal + 1.0)
      }
    } finally emb.unpersist()
  }

  test("clustered corpus: seed-centroid decontamination misses contaminated rows; trained centroids recover them") {
    // Decontamination recall is the metric that matters for a leakage
    // gate: a missed flag ships a benchmark paraphrase into training
    // data, silently. Ground truth here is exhaustive — every corpus
    // row within minCos of ANY bench row (512x16 floats, driver-side).
    // Both variants compare with EXACT cosine inside shared cells, so
    // precision is 1 by construction and recall isolates what centroid
    // placement costs.
    val emb = clustered.cache()
    try {
      val benchPred = pmod(col("vec_id"), lit(25)) === 0
      val minCos = 0.6
      val vecs = emb.collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
      def cos(a: Array[Double], b: Array[Double]): Double = {
        var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
        while (i < a.length) { d += a(i)*b(i); na += a(i)*a(i); nb += b(i)*b(i); i += 1 }
        d / (math.sqrt(na) * math.sqrt(nb))
      }
      val bench = vecs.filter(_._1 % 25 == 0)
      val truth = vecs.filter(_._1 % 25 != 0)
        .filter { case (_, v) => bench.exists(b => cos(v, b._2) >= minCos) }
        .map(_._1).toSet
      assert(truth.size >= 50, s"fixture too sparse: ${truth.size} contaminated rows")
      def flagged(df: org.apache.spark.sql.DataFrame): Set[Long] =
        df.collect().map(_.getLong(0)).toSet
      // 8 cells over 8 sources: trained k-means recovers one cell per
      // cluster, so an embedding neighborhood never straddles a cell;
      // the seed drops all 8 centroids into source A regardless of k
      val seed = flagged(Dedup.semanticContamination(
        emb, benchPred, nCentroids = 8, minCos = minCos))
      val trained = flagged(Dedup.semanticContaminationTrained(
        emb, benchPred, nCentroids = 8, minCos = minCos))
      // exact in-cell cosine => no false positives from either variant
      assert((seed -- truth).isEmpty && (trained -- truth).isEmpty)
      val (seedRec, trainRec) = (
        (seed & truth).size.toDouble / truth.size,
        (trained & truth).size.toDouble / truth.size)
      withClue(s"seed recall=$seedRec trained recall=$trainRec (|truth|=${truth.size}): ") {
        // trained cells follow the density, so an embedding neighborhood
        // (what a paraphrase pair is) stays within a cell
        assert(trainRec >= 0.9)
        // seed centroids all sit in source A's cluster: the other
        // sources' rows scatter across uninformative cells and their
        // contaminated rows pass the gate unflagged
        assert(seedRec <= trainRec - 0.15)
      }
    } finally emb.unpersist()
  }

  test("PQ/ADC: trained codebooks beat the seed rule on recall@5; codes are genuinely 8 bytes per vector") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.01")
    val exact = Similarity.bruteForceTopK(emb, sampleMod = 50, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    def recall(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.collect().map(r => (r.getLong(0), r.getLong(2))).groupBy(_._1)
        .view.mapValues(_.map(_._2).toSet).toMap
      exact.map { case (q, s) =>
        got.getOrElse(q, Set.empty).count(s).toDouble / s.size }.sum / exact.size
    }
    val seed = recall(Similarity.pqTopK(emb, m = 8, kCode = 256,
      sampleMod = 50, k = 5, rescoreK = 20))
    val trained = recall(Similarity.pqTopKTrained(emb, m = 8, kCode = 256,
      sampleMod = 50, k = 5, rescoreK = 20))
    // measured 0.82 / 0.94 on this data — pinned with margin; the gap
    // is the same seed-vs-trained story as IVF cells (Lloyd places
    // codewords where subvector density is, the id-rule doesn't)
    assert(seed >= 0.70, s"seed-codebook recall@5 $seed")
    assert(trained >= 0.88, s"trained-codebook recall@5 $trained")
    assert(trained >= seed + 0.05,
      s"training should beat the seed rule: $trained vs $seed")
    // the compression claim: m=8 codes per vector, each fitting a byte
    val codes = Similarity.trainPqCodebooks(emb, m = 8, kCode = 256,
      iters = 1, trainSampleMod = 1)
    assert(codes.map(_._1).toSet === (0 until 8).toSet)
    assert(codes.forall { case (_, j, cbv) => j >= 0 && j < 256 && cbv.size == 8 })
  }

  test("ivfCellStats drift tripwire: appends from a shifted distribution trip the re-train signal") {
    // appendToIvf assigns under FROZEN centroids — a distribution shift
    // (new source, dup-heavy crawl) piles arriving mass into whichever
    // cell sits nearest the new density. Nothing in append/search fails
    // loudly; the index just degrades toward a linear scan of the hot
    // cell. ivfCellStats is the maintenance tripwire: run post-append,
    // re-train when drifted.
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(col("vec_id"), col("embedding"))
    val (index, assigned) = Similarity.buildIvfTrained(emb, k = 8)
    val path = java.nio.file.Files.createTempDirectory("ivf_drift").toString
    Similarity.saveIvf(index, assigned, path)
    val bound = 2.5 // the trained-build balance bar this spec pins elsewhere
    val stats0 = Similarity.ivfCellStats(spark, path)
    assert(stats0.k === 8)
    assert(stats0.nVectors === emb.count())
    assert(!stats0.drifted(bound), s"fresh trained build already drifted: $stats0")
    // the shifted ingest: every arriving vector is a near-copy of one
    // resident vector, so the whole batch lands in ONE cell
    val hot = emb.orderBy(col("vec_id")).limit(1)
      .collect()(0).getSeq[Float](1)
    import spark.implicits._
    var batches = 0
    while (!Similarity.ivfCellStats(spark, path).drifted(bound) && batches < 12) {
      val batch = (0 until 64)
        .map(i => (1000000L + batches * 64L + i, hot)).toDF("vec_id", "embedding")
      Similarity.appendToIvf(index, batch, path)
      batches += 1
    }
    val statsN = Similarity.ivfCellStats(spark, path)
    withClue(s"after $batches hot batches: $statsN: ") {
      assert(statsN.drifted(bound), "drift check never tripped")
      assert(statsN.nVectors === stats0.nVectors + batches * 64L)
      // the tripwire names the hot cell's mass, not just a boolean —
      // max grew while the other cells stood still
      assert(statsN.maxCell > stats0.maxCell)
      assert(statsN.k === 8)
    }
  }

  test("sampled training: k-means on a 1/2 subsample matches full-corpus training on recall and balance") {
    // the 100 TB build-cost lever: Lloyd's objective only needs enough
    // points per cell to place centroids where the density is, so
    // training on a deterministic hashed-id subsample and assigning
    // the FULL corpus must keep both recall and cell balance. Two
    // regime notes this fixture encodes: (a) points-per-centroid is
    // what matters, not the fraction — a 1% sample of 100 TB still
    // trains on millions of points per cell, while 1/4 of 512 vectors
    // (~8 per centroid) is below any regime the technique targets
    // (measured: recall 0.97 → 0.79); (b) the sample key must be a
    // HASH of the id — this fixture's even ids are all cluster A, so a
    // raw vec_id % 2 sample would train on one cluster and collapse
    // (measured: recall 0.82, balance 4.0).
    val emb = clustered.cache()
    try {
      val exact = topkPairs(Similarity.bruteForceTopK(emb, sampleMod = 25,
        k = 10, dim = 16))
      val queries = emb.where(col("vec_id") % 25 === 0)
      def recallAt(index: Similarity.IvfIndex,
                   assigned: org.apache.spark.sql.DataFrame) = {
        val got = topkPairs(
          Similarity.ivfTopK(index, assigned, queries, k = 10, nProbe = 4))
        (got & exact).size.toDouble / exact.size
      }
      val (fullIdx, fullAssigned) = Similarity.buildIvfTrained(emb, k = 16)
      val (sampIdx, sampAssigned) =
        Similarity.buildIvfTrained(emb, k = 16, sampleMod = 2L)
      val (fullRec, sampRec) = (recallAt(fullIdx, fullAssigned),
        recallAt(sampIdx, sampAssigned))
      val sampBal = maxOverMean(sampAssigned)
      withClue(s"full(rec=$fullRec) sampled(rec=$sampRec bal=$sampBal): ") {
        // sampled training meets the same absolute bars as full training
        assert(sampRec >= 0.9)
        assert(sampBal <= 2.5)
        // and sits within noise of the full-train recall
        assert(sampRec >= fullRec - 0.05)
      }
      // the sampled index still assigns the WHOLE corpus
      assert(sampAssigned.count() === emb.count())
    } finally emb.unpersist()
  }

  test("buildIvfTrained rejects an over-thinned training sample with an actionable error") {
    import spark.implicits._
    val emb = (0L until 40L).map(i => (i, Seq.fill(4)(i.toFloat)))
      .toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Similarity.buildIvfTrained(emb, k = 16, sampleMod = 1024L)
    }
    assert(e.getMessage.contains("sampleMod"))
    assert(e.getMessage.contains("points-per-centroid"))
  }

  test("dup-heavy corpus: seed centroids collapse into hot cells (a full scan in disguise); trained cells stay balanced") {
    // 8 exact copies of every vector, ids shifted per copy — the
    // duplicate-heavy layout real web corpora have. The every-(n/k)-th
    // seed then draws its 16 centroids from very few DISTINCT vectors,
    // so the whole corpus lands in a couple of cells and a 4/16-probe
    // search silently degenerates to scanning everything (measured on
    // the 8x sf0.1 corpus: v6-with-seed 27.6 s ~= flat v5, 2 effective
    // cells of ~8k rows; v6-with-trained 9.0 s, 16 cells, max/mean 1.4)
    val base = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(col("vec_id"), col("embedding"))
    val emb = (0 until 8).map(c =>
        base.select((col("vec_id") + lit(c * 10000L)).as("vec_id"), col("embedding")))
      .reduce(_.unionByName(_)).cache()
    try {
      val n = emb.count()
      val (_, seedAssigned) = Similarity.buildIvf(emb, k = 16)
      val seedSizes = seedAssigned.groupBy("cell").count().collect().map(_.getLong(1))
      // the seed index degenerates: nearly everything in a few hot cells
      assert(seedSizes.length <= 4,
        s"expected collapsed seed cells, got ${seedSizes.length}")
      assert(seedSizes.max >= n / 4, s"expected a hot cell, got ${seedSizes.toSeq}")
      val (_, trainAssigned) = Similarity.buildIvfTrained(emb, k = 16)
      val trainSizes = trainAssigned.groupBy("cell").count().collect().map(_.getLong(1))
      assert(trainSizes.length === 16)
      assert(trainSizes.max.toDouble / (n.toDouble / 16) <= 2.5,
        s"trained cells unbalanced: ${trainSizes.sorted.toSeq}")
    } finally emb.unpersist()
  }

  test("composed IVF x int8 x rescore: exhaustive params degenerate to brute force; serving params keep recall") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val exact = topkPairs(Similarity.bruteForceTopK(emb, sampleMod = 25, k = 5))
    // probe all cells + rescore everything == exact search, bit for bit
    val full = Similarity.ivfQuantizedSearch(emb, k = 5, nCentroids = 16,
      nProbe = 16, rescoreK = 1000, sampleMod = 25)
    assert(topkPairs(full) === exact)
    // serving shape: trained index, partial probe, bounded rescore
    val (index, assigned) = Similarity.buildIvfTrained(emb, k = 16)
    val queries = emb.where(col("vec_id") % 25 === 0)
    val served = topkPairs(Similarity.ivfQuantizedTopK(index, assigned, queries,
      k = 5, nProbe = 10, rescoreK = 20))
    val recall = (served & exact).size.toDouble / exact.size
    assert(recall >= 0.8, s"composed serving recall@5 = $recall")
  }

  test("composed path on the persisted index: scan is DPP-pruned to probed cells") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(col("vec_id"), col("embedding"))
    val (index, assigned) = Similarity.buildIvf(emb, k = 8)
    val path = java.nio.file.Files.createTempDirectory("ivf_q").toString
    Similarity.saveIvf(index, assigned, path)
    val (loaded, cells) = Similarity.loadIvf(spark, path)
    val queries = emb.where(col("vec_id") % 50 === 0)
    val df = Similarity.ivfQuantizedTopK(loaded, cells, queries,
      k = 5, nProbe = 3, rescoreK = 20)
    val fresh = Similarity.ivfQuantizedTopK(index, assigned, queries,
      k = 5, nProbe = 3, rescoreK = 20)
    assert(df.collect().map(_.toSeq).toSeq === fresh.collect().map(_.toSeq).toSeq)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"), plan)
  }

  test("IVF cell compaction: fragmented cells collapse to one file; results and untouched cells unchanged") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(col("vec_id"), col("embedding"))
    val resident = emb.where(col("vec_id") < 300)
    val (index, assigned) = Similarity.buildIvf(resident, k = 8)
    val path = java.nio.file.Files.createTempDirectory("ivf_compact").toString
    Similarity.saveIvf(index, assigned, path)
    // five small ingest batches — each append adds files to its cells
    (0 until 5).foreach { b =>
      Similarity.appendToIvf(index,
        emb.where(col("vec_id") >= 300 + b * 40 && col("vec_id") < 340 + b * 40), path)
    }
    def fileCounts(): Map[Int, Int] = {
      val root = java.nio.file.Paths.get(s"$path/cells")
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.list(root).iterator().asScala
        .filter(d => d.getFileName.toString.startsWith("cell="))
        .map { d =>
          val n = java.nio.file.Files.list(d).iterator().asScala
            .count(_.toString.endsWith(".parquet"))
          d.getFileName.toString.stripPrefix("cell=").toInt -> n
        }.toMap
    }
    val before = fileCounts()
    assert(before.values.max > 3, s"fixture not fragmented: $before")
    val queries = emb.where(col("vec_id") % 50 === 0)
    val (_, cells0) = Similarity.loadIvf(spark, path)
    // materialize BEFORE compaction: the pre-compaction frames chase
    // deleted files if re-executed afterwards
    val nRowsBefore = cells0.count()
    val resultsBefore = Similarity.ivfTopK(index, cells0, queries, k = 5, nProbe = 8)
      .collect().map(_.toSeq).toSeq

    val compacted = Similarity.compactIvfCells(spark, path, maxFilesPerCell = 3)
    val after = fileCounts()
    assert(compacted.nonEmpty)
    assert(after.values.max <= 3, s"still fragmented: $after")
    compacted.foreach(c => assert(after(c) === 1))
    // cells under the threshold were not rewritten
    before.filter(_._2 <= 3).foreach { case (c, n) => assert(after(c) === n) }
    // compaction rewrites layout, never content
    val (_, cells1) = Similarity.loadIvf(spark, path)
    val resultsAfter = Similarity.ivfTopK(index, cells1, queries, k = 5, nProbe = 8)
      .collect().map(_.toSeq).toSeq
    assert(resultsAfter === resultsBefore)
    assert(cells1.count() === nRowsBefore)
  }

  test("compaction crash recovery: a cell stranded mid-swap is restored at the next compaction entry") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(col("vec_id"), col("embedding"))
    val (index, assigned) = Similarity.buildIvf(emb, k = 8)
    val path = java.nio.file.Files.createTempDirectory("ivf_crash").toString
    Similarity.saveIvf(index, assigned, path)
    val queries = emb.where(col("vec_id") % 50 === 0)
    val before = Similarity.ivfTopK(index, spark.read.parquet(s"$path/cells"),
      queries, k = 5, nProbe = 8).collect().map(_.toSeq).toSeq
    val nBefore = spark.read.parquet(s"$path/cells").count()
    // simulate the crash window between rename(live -> old) and
    // rename(tmp -> live): the live cell dir is gone, only the trash
    // copy holds the data, plus an incomplete tmp rewrite of another
    import java.nio.file.{Files, Paths}
    val cellsDir = Paths.get(s"$path/cells")
    import scala.jdk.CollectionConverters._
    val someCell = Files.list(cellsDir).iterator().asScala
      .find(_.getFileName.toString.startsWith("cell=")).get
    val cellName = someCell.getFileName.toString
    val (staged, tmp) = graft.sources.TableSwap.stageDirs(s"$path/cells", cellName)
    Files.move(someCell, Paths.get(staged.toString))
    Files.createDirectory(Paths.get(tmp.toString))
    spark.catalog.refreshByPath(s"$path/cells")
    assert(spark.read.parquet(s"$path/cells").count() < nBefore) // data IS missing
    // next maintenance entry must restore the stranded cell and drop litter
    Similarity.compactIvfCells(spark, path, maxFilesPerCell = 1000)
    assert(Files.exists(someCell), "stranded cell was not restored")
    assert(!Files.exists(Paths.get(staged.toString)))
    assert(!Files.exists(Paths.get(tmp.toString)))
    val after = Similarity.ivfTopK(index, spark.read.parquet(s"$path/cells"),
      queries, k = 5, nProbe = 8).collect().map(_.toSeq).toSeq
    assert(after === before)
    assert(spark.read.parquet(s"$path/cells").count() === nBefore)
  }

  test("production lifecycle: trained build → save → incremental appends → compaction → composed search, DPP intact") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(col("vec_id"), col("embedding"))
    val resident = emb.where(col("vec_id") < 350)
    // day 0: train on the resident corpus, persist
    val (index, assigned) = Similarity.buildIvfTrained(resident, k = 8)
    val path = java.nio.file.Files.createTempDirectory("ivf_life").toString
    Similarity.saveIvf(index, assigned, path)
    // days 1..3: ingest batches append under the SAME centroids
    (0 until 3).foreach { b =>
      Similarity.appendToIvf(index,
        emb.where(col("vec_id") >= 350 + b * 50 && col("vec_id") < 400 + b * 50), path)
    }
    // maintenance: compact whatever fragmented
    Similarity.compactIvfCells(spark, path, maxFilesPerCell = 2)
    // serve: composed search over the reloaded index
    val (loaded, cells) = Similarity.loadIvf(spark, path)
    assert(loaded.centroids.map(_._1).toSeq === index.centroids.map(_._1).toSeq)
    assert(cells.count() === emb.count())
    val queries = emb.where(col("vec_id") % 50 === 0)
    val df = Similarity.ivfQuantizedTopK(loaded, cells, queries,
      k = 5, nProbe = 3, rescoreK = 20)
    assert(df.count() > 0)
    // the whole lifecycle (train, persist, 3 appends, compaction,
    // reload) must be invisible to search: an exhaustive probe over the
    // lifecycle index equals brute force over the full corpus
    val full = Similarity.ivfQuantizedTopK(loaded, cells, queries,
      k = 5, nProbe = 8, rescoreK = 1000)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val exact = Similarity.bruteForceTopK(emb, sampleMod = 50, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(full === exact)
    // the serving scan still DPP-prunes to the probed partitions
    assert(df.queryExecution.executedPlan.toString.toLowerCase
      .contains("dynamicpruning"))
  }

  test("PQ training collect is bounded by default: auto mod targets PqPointsPerCodeword·kCode, full corpus is explicit opt-in") {
    // the pure sizing rule first: the auto mod keeps the EXPECTED
    // sample at ppc·kCode points whatever the corpus size — at 1M
    // vectors / kCode=256 that's mod 61 (16384-point collect), and a
    // corpus SMALLER than the target degrades to mod 1 (train on all)
    val ppc = Similarity.PqPointsPerCodeword
    assert(Similarity.pqAutoTrainMod(1_000_000L, 256, 0) ===
      1_000_000L / (ppc.toLong * 256))
    assert(Similarity.pqAutoTrainMod(500L, 256, 0) === 1L)
    // explicit values pass through untouched — 1 (full corpus) and
    // fixed mods are the caller's own decision, never auto-resized
    assert(Similarity.pqAutoTrainMod(1_000_000L, 256, 1) === 1L)
    assert(Similarity.pqAutoTrainMod(1_000_000L, 256, 40) === 40L)
    // end-to-end on a corpus 10× the auto target: the driver-side
    // sample must stay near ppc·kCode, NOT grow with the corpus
    val kCode = 16
    val target = ppc.toLong * kCode // 1024
    val n = 10L * target
    val emb = spark.range(n).select(col("id").as("vec_id"),
      array((0 until 64).map(i =>
        sin(col("id") * (i + 1)).cast("float")): _*).as("embedding"))
    val mod = Similarity.pqAutoTrainMod(n, kCode, 0)
    assert(mod === 10L, s"auto mod for n=$n kCode=$kCode was $mod")
    // the exact frame the training collect pulls — count it distributed
    val sampled = emb
      .where(pmod(xxhash64(col("vec_id")), lit(mod)) === 0).count()
    assert(sampled >= kCode, s"sample $sampled too thin for $kCode codewords")
    assert(sampled <= 2 * target,
      s"auto sample $sampled exceeds 2× the $target-point target — unbounded collect")
    // and the codebooks trained on that bounded sample are well-formed
    val codes = Similarity.trainPqCodebooks(emb, m = 8, kCode = kCode, iters = 2)
    assert(codes.size === 8 * kCode)
    assert(codes.forall { case (s, j, cbv) =>
      s >= 0 && s < 8 && j >= 0 && j < kCode && cbv.size == 8 })
  }

  test("persisted IVF+PQ index: exhaustive probe equals brute force; partial probe DPP-prunes and recalls") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(col("vec_id"), col("embedding"))
    val path = java.nio.file.Files.createTempDirectory("pqivf").toString
    val nCells = 8
    Similarity.savePqIvf(emb, nCentroids = nCells, m = 8, kCode = 16, path)
    val queries = emb.where(col("vec_id") % 10 === 0)
    // every cell probed + unbounded rescore: the ADC stage passes every
    // candidate through and the exact pass owns the ranking — the
    // result must EQUAL brute force row for row, cosines included
    val full = Similarity.pqIvfSearch(spark, path, queries, k = 5,
      nProbe = nCells, rescoreK = Int.MaxValue)
    val brute = Similarity.bruteForceTopK(emb, sampleMod = 10, k = 5)
    assert(full.collect().map(_.toSeq).toSeq ===
      brute.collect().map(_.toSeq).toSeq)
    // the serving configuration: pruned probes, bounded rescore — both
    // cell scans (ADC codes pass AND the embedding rescore pass) join
    // on the partition column and carry dynamic pruning
    val partial = Similarity.pqIvfSearch(spark, path, queries, k = 5,
      nProbe = 3, rescoreK = 20)
    val plan = partial.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"), plan)
    val recall = topkPairs(partial).intersect(topkPairs(brute)).size.toDouble /
      topkPairs(brute).size
    assert(recall >= 0.5, s"IVF+PQ partial recall@5 = $recall")
  }

  test("IVF+PQ append lifecycle: frozen-centroid/codebook appends keep exhaustive probe == brute force over the union; compaction leaves probes unchanged") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(col("vec_id"), col("embedding"))
    val resident = emb.where(col("vec_id") % 2 === 0)
    val arriving = emb.where(col("vec_id") % 2 =!= 0)
    val path = java.nio.file.Files.createTempDirectory("pqivf_inc").toString
    val nCells = 8
    Similarity.savePqIvf(resident, nCentroids = nCells, m = 8, kCode = 16, path)
    Similarity.appendToPqIvf(arriving, path)
    val queries = emb.where(col("vec_id") % 10 === 0)
    val full = Similarity.pqIvfSearch(spark, path, queries, k = 5,
      nProbe = nCells, rescoreK = Int.MaxValue)
    // frozen centroids => same cells, frozen codebooks => same codes:
    // the appended index must serve the UNION exactly
    val brute = Similarity.bruteForceTopK(emb, sampleMod = 10, k = 5)
    assert(full.collect().map(_.toSeq).toSeq ===
      brute.collect().map(_.toSeq).toSeq)
    // append fragmented cells; the shared compactor applies verbatim
    val before = Similarity.pqIvfSearch(spark, path, queries, k = 5,
      nProbe = 3, rescoreK = 20).collect().map(_.toSeq).toSeq
    val compacted = Similarity.PqIvfArtifact("cells").compact(spark, path,
      maxFilesPerPart = 1)
    assert(compacted.nonEmpty, "append should have fragmented some cell")
    val after = Similarity.pqIvfSearch(spark, path, queries, k = 5,
      nProbe = 3, rescoreK = 20).collect().map(_.toSeq).toSeq
    assert(after === before, "compaction must never change probe results")
  }

  test("IVF+PQ drift guard: skewed appends trip the check, rebuild restores balance and the exactness pin") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(col("vec_id"), col("embedding"))
    val nResident = emb.count()
    val path = java.nio.file.Files.createTempDirectory("pqivf_drift").toString
    val nCells = 8
    Similarity.savePqIvf(emb, nCentroids = nCells, m = 8, kCode = 16, path)
    val healthy = Similarity.pqIvfDriftCheck(spark, path, sampleMod = 10,
      k = 5, nProbe = 3, rescoreK = 20, skewBound = 4.0, recallFloor = 0.0)
    assert(!healthy.skewDrifted, s"fresh build must not read drifted: $healthy")
    // drifted ingest: 2× the resident mass from a NEW source whose
    // embeddings live in a region none of the frozen centroids cover —
    // internally diverse (so a retrain CAN partition it), but under the
    // FROZEN centroids the whole family piles into whichever cell sits
    // nearest the new region: the hot-cell degeneration the guard
    // exists to catch. (Near-identical mass would stay in one cell
    // even after retraining — no centroid count can split equal
    // points — so diversity is what makes rebuild the right remedy.)
    val ball = spark.range(2 * nResident)
      .select((col("id") + lit(1000000L)).as("vec_id"),
        array((0 until 64).map(i =>
          (lit(2.5) + sin((col("id") * 13 + lit(i)) * lit(0.7)) * lit(0.8))
            .cast("float")): _*).as("embedding"))
    Similarity.appendToPqIvf(ball, path)
    val drifted = Similarity.pqIvfDriftCheck(spark, path, sampleMod = 10,
      k = 5, nProbe = 3, rescoreK = 20, skewBound = 4.0, recallFloor = 0.0)
    assert(drifted.skewDrifted && drifted.drifted,
      s"2x one-ball append must trip the skew bound: $drifted")
    // rebuild: fresh centroids/codebooks over the union, same params
    Similarity.rebuildPqIvf(spark, path)
    val rebuilt = Similarity.pqIvfDriftCheck(spark, path, sampleMod = 10,
      k = 5, nProbe = 3, rescoreK = 20, skewBound = 4.0, recallFloor = 0.0)
    assert(rebuilt.occupancy.maxOverMean < drifted.occupancy.maxOverMean,
      s"rebuild must improve occupancy: $drifted -> $rebuilt")
    assert(!rebuilt.skewDrifted, s"rebuilt index still skew-drifted: $rebuilt")
    // the exactness pin survives the rebuild: exhaustive serving
    // configuration must recall 1.0 against brute force over the union
    val exact = Similarity.pqIvfDriftCheck(spark, path, sampleMod = 10,
      k = 5, nProbe = nCells, rescoreK = Int.MaxValue)
    assert(exact.recallAtK === 1.0, s"$exact")
    assert(exact.sampledQueries > 0)
  }

  test("IVF+PQ rebuild: a COMPLETED rebuild's leftover snapshot is stale — later appends must survive the next rebuild") {
    import org.apache.hadoop.fs.{FileSystem, Path => HPath}
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(col("vec_id"), col("embedding"))
    val path = java.nio.file.Files.createTempDirectory("pqivf_stale").toString
    val nCells = 8
    Similarity.savePqIvf(emb, nCentroids = nCells, m = 8, kCode = 16, path)
    // simulate a rebuild that COMPLETED (done token echoed) but crashed
    // before deleting its snapshot: snapshot committed with token T,
    // and the index's done marker carries the same T
    spark.read.parquet(s"$path/cells").select(col("vec_id"), col("embedding"))
      .write.mode("overwrite").parquet(s"$path/rebuild_src")
    val fs = FileSystem.get(new HPath(path).toUri,
      spark.sessionState.newHadoopConf())
    writeToken(fs, new HPath(s"$path/rebuild_src/_token"), "tok-completed")
    writeToken(fs, new HPath(s"$path/rebuild_done_token"), "tok-completed")
    // the daily loop moves on: a new vector lands in the index — an
    // exact clone of sampled query vec 10, so it MUST surface as that
    // query's top neighbor (cos 1.0) iff the rebuild kept it
    val extra = emb.where(col("vec_id") === 10)
      .select((col("vec_id") + lit(5000000L)).as("vec_id"), col("embedding"))
    Similarity.appendToPqIvf(extra, path)
    // a drift-triggered rebuild must NOT roll back to the snapshot —
    // the appended vector has to survive
    Similarity.rebuildPqIvf(spark, path)
    val union = emb.unionByName(extra)
    val queries = union.where(col("vec_id") % 10 === 0)
    val full = Similarity.pqIvfSearch(spark, path, queries, k = 5,
      nProbe = nCells, rescoreK = Int.MaxValue)
    val brute = Similarity.bruteForceTopK(union, sampleMod = 10, k = 5)
    assert(full.collect().map(_.toSeq).toSeq ===
      brute.collect().map(_.toSeq).toSeq,
      "rebuild from a stale snapshot dropped post-rebuild appends")
  }

  test("IVF+PQ rebuild heals by re-run: a committed snapshot outranks a half-rewritten cells table") {
    import org.apache.hadoop.fs.{FileSystem, Path => HPath}
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(col("vec_id"), col("embedding"))
    val path = java.nio.file.Files.createTempDirectory("pqivf_heal").toString
    val nCells = 8
    Similarity.savePqIvf(emb, nCentroids = nCells, m = 8, kCode = 16, path)
    // simulate a rebuild that died mid-overwrite: the snapshot had
    // committed (its token landed) but the done token never did, then
    // the cells rewrite was interrupted — model the interruption by
    // dropping a cell partition
    spark.read.parquet(s"$path/cells").select(col("vec_id"), col("embedding"))
      .write.mode("overwrite").parquet(s"$path/rebuild_src")
    val fs = FileSystem.get(new HPath(path).toUri,
      spark.sessionState.newHadoopConf())
    writeToken(fs, new HPath(s"$path/rebuild_src/_params"),
      "m=8\nk_code=16\nn_centroids=8")
    writeToken(fs, new HPath(s"$path/rebuild_src/_token"), "tok-inflight")
    val someCell = fs.listStatus(new HPath(s"$path/cells"))
      .filter(_.isDirectory).map(_.getPath)
      .find(_.getName.startsWith("cell=")).get
    fs.delete(someCell, true)
    // re-running the rebuild must restore the FULL population from the
    // snapshot, not the mangled cells table, then clear the snapshot
    Similarity.rebuildPqIvf(spark, path)
    assert(!fs.exists(new HPath(s"$path/rebuild_src")))
    val queries = emb.where(col("vec_id") % 10 === 0)
    val full = Similarity.pqIvfSearch(spark, path, queries, k = 5,
      nProbe = nCells, rescoreK = Int.MaxValue)
    val brute = Similarity.bruteForceTopK(emb, sampleMod = 10, k = 5)
    assert(full.collect().map(_.toSeq).toSeq ===
      brute.collect().map(_.toSeq).toSeq,
      "healed index must serve the complete population exactly")
  }
}
