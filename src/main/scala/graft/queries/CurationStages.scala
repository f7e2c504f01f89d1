package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Graph, LmScore, Multimodal, Sampling, TextAnalysis}

/** The c7 curation chain's stage builders — ONE definition shared by
  * `c7_curation_pipeline` and the chains built on it (c10–c19), so no
  * chain can drift from the benchmarked/oracle-gated stages. Stage
  * semantics are documented at the query site (CoverageQueries "C7").
  *
  * The `localCheckpoint()` cuts are part of the contract, not an
  * optimization detail: `synthesized` feeds both the signal subtree and
  * the gate join, `gated` is consumed twice by decontamination, and
  * `decontaminated` three times downstream — without the cuts those
  * subtrees re-execute per consumer (the oracle materializes the same
  * CTEs for the same reason).
  */
private[graft] object CurationStages {

  /** The corpus slice under curation, with repetition synthesized into
    * every 30th doc (12-word head appended twice) so the Gopher gate
    * provably binds. Pinned: feeds the signal subtree AND the gate join. */
  def synthesized(all: DataFrame): DataFrame = {
    val wr = split(col("text"), " ")
    val rep = concat(col("text"), lit(" "),
      array_join(slice(wr, 1, 12), " "), lit(" "),
      array_join(slice(wr, 1, 12), " "))
    all.where(pmod(col("doc_id"), lit(3)) === 0)
      .select(col("doc_id"), col("source"),
        when(pmod(col("doc_id"), lit(30)) === 0, rep)
          .otherwise(col("text")).as("text"))
      .localCheckpoint()
  }

  /** The held-out benchmark slice decontamination screens against. */
  def benchSlice(all: DataFrame): DataFrame =
    all.where(pmod(col("doc_id"), lit(3)) === 1)

  /** Gopher repetition gate: keep docs with dup10_char_frac < 0.10.
    * Pinned: decontamination consumes its batch twice. */
  def gated(docs: DataFrame): DataFrame = {
    val sig = TextAnalysis.repetitionSignals(docs,
      topNs = Seq(2), dupNs = Seq(10))
    docs.join(
      sig.where(col("dup10_char_frac") < 0.10).select(col("doc_id")),
      Seq("doc_id"), "left_semi")
      .localCheckpoint()
  }

  /** CCNet-style LM quality gate: score the gated docs under
    * PER-LANGUAGE bigram LMs of estimator `smoothing`, then
    * per-language thirds by surprisal ([[LmScore.ccnetBuckets]] — ONE
    * global rank, lang leading the sort key), keep head+middle. Sits
    * between the Gopher rule gate and decontamination — the CCNet
    * recipe's position in a curation chain. Sub-2-token docs have no
    * surprisal row and drop with the tail (the oracle twins replay
    * the same inner join). The chains that use it:
    *  - c10/c13/c14/c18/c20: add-½, self-trained;
    *  - c12: add-½, persisted target model;
    *  - c15: interpolated KN, self-trained — because KN redistributes
    *    backoff mass by continuation counts, its kept set genuinely
    *    DIFFERS from c10's (LmScoreSpec pins it on the gate corpus);
    *  - c17/c19: interpolated / modified KN, persisted target models —
    *    the configuration CCNet actually runs (its per-language target
    *    models ARE KenLM, whose default estimator is modified KN).
    *
    * With `lmPath` empty the models are trained on the gated corpus
    * itself ([[LmScore.train]] — |langs| models in the same hash-agg
    * shuffles as one). That is deliberate, and NOT the c8
    * self-training defect c9 fixes: bucketing keeps the best two
    * RELATIVE thirds per language (rank-based within one corpus), so
    * a corpus-wide shift in absolute surprisal cancels, whereas c8's
    * survivor pick compares absolute scores between near-identical
    * texts where a dup cluster's own mass tips the scale. The defense
    * has a LIMIT, though: a language whose crawl is
    * boilerplate-dominated still ranks boilerplate phrasing as head
    * WITHIN that language under a self-trained model. A persisted
    * TARGET-domain model at `lmPath` ([[LmScore.save]] of the same
    * estimator) fixes it: it never learns that phrasing in the first
    * place. Its tables are lang-partitioned pruned reads,
    * broadcast-able when each language's vocab fits; a scoring
    * language absent from the target corpus scores lp 0 per
    * transition (the documented "no opinion" arm) and buckets by rank
    * like any other.
    *
    * Pinned: the decon stage consumes the result twice. The model
    * joins stay broadcast-able (count tables are vocab-bounded per
    * language); everything else in the stage is the corpus-keyed
    * scoring pass + a #langs-row broadcast of bucket offsets. */
  def lmGated(gatedDocs: DataFrame, langs: DataFrame,
              smoothing: LmScore.Smoothing = LmScore.Smoothing.AddHalf,
              lmPath: Option[String] = None): DataFrame = {
    val spec = LmScore.LmSpec(smoothing, perLang = true)
    val docs = gatedDocs.join(langs, "doc_id")
    val model = lmPath.fold(LmScore.train(spec, docs))(
      LmScore.load(gatedDocs.sparkSession, spec, _))
    val keep = LmScore.ccnetBuckets(LmScore.score(model, docs)
        .select(col("doc_id"), col("lang"), col("surprisal")))
      .where(col("bucket") =!= "tail")
      .select(col("doc_id"))
    gatedDocs.join(keep, Seq("doc_id"), "left_semi").localCheckpoint()
  }

  /** The synthetic messy URL of a document (a pure doc_id formula —
    * the corpus carries no URL column): d18's construction with a
    * 37-host web, every canonicalization rule exercised (scheme/case/
    * www variance by %4, an UPPERCASED host, a trailing slash every
    * 5th doc, tracking params / unsorted params / a fragment by %3).
    * Canonical host comes out as "h<doc_id%37>.com". */
  def hostUrl: org.apache.spark.sql.Column = {
    val d = col("doc_id")
    val scheme = when(pmod(d, lit(4)) === 0, lit("http://"))
      .when(pmod(d, lit(4)) === 1, lit("https://www."))
      .when(pmod(d, lit(4)) === 2, lit("HTTPS://"))
      .otherwise(lit("https://WWW."))
    concat(scheme, lit("H"), pmod(d, lit(37)).cast("string"),
      lit(".CoM/p/"), pmod(d, lit(10)).cast("string"),
      when(pmod(d, lit(5)) === 0, lit("/")).otherwise(lit("")),
      when(pmod(d, lit(3)) === 0, lit("?utm_source=x&b=2&a=1"))
        .when(pmod(d, lit(3)) === 1, lit("?b=2&a=1"))
        .otherwise(lit("#frag")))
  }

  /** c14's stage — the RefinedWeb/Common-Crawl HOST-QUALITY prior
    * composed into the gate: d18's canonicalizer extracts each gated
    * doc's host from its (messy) URL, g1's fixed-point PageRank ranks
    * the host co-citation graph (each doc cites two formula hosts;
    * edge weight = citation count — built from the WHOLE corpus, the
    * way a web graph exists independently of the slice under
    * curation), and docs whose host ranks below the integer-mean rank
    * drop. Sits right after the Gopher rule gate — URL-keyed rules run
    * before anything content-heavy because they are the cheapest
    * signal there is. Scale shape: the graph is |hosts|-bounded, so
    * ranks and the keep set BROADCAST; the corpus pays one map-side
    * host derivation + one broadcast semi join. All rank arithmetic is
    * BIGINT fixed-point ([[Graph.pageRank]]), the mean an integer
    * div, so the cut is engine-exact. Pinned: [[lmGated]] consumes the
    * result twice. */
  def hostPriorKept(gatedDocs: DataFrame, all: DataFrame): DataFrame = {
    def hostOf(k: org.apache.spark.sql.Column) =
      concat(lit("h"), k.cast("string"), lit(".com"))
    val r = pmod(col("doc_id"), lit(37))
    val edges = all.select(hostOf(r).as("src"),
        hostOf(pmod(r * 3 + 1, lit(37))).as("dst"))
      .unionAll(all.select(hostOf(r).as("src"),
        hostOf(pmod(r * 5 + 2, lit(37))).as("dst")))
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("w"))
    val ranks = Graph.pageRank(edges, iters = 3)
    val avg = ranks.agg(expr("sum(rank_fp) div count(*)").as("avg_fp"))
    val keep = ranks.crossJoin(broadcast(avg))
      .where(col("rank_fp") >= col("avg_fp"))
      .select(col("id").as("host"))
    gatedDocs
      .withColumn("host", Dedup.urlHost(hostUrl))
      .join(broadcast(keep), Seq("host"), "left_semi")
      .drop("host")
      .localCheckpoint()
  }

  /** c18's stage — the m6 PERCEPTUAL image verdict composed into the
    * chain: a LAION-shaped corpus is image+text pairs, and the text
    * gates alone let a thousand re-hosted copies of one raster
    * through. Each doc under curation carries one synthetic PNG
    * (media_id = doc_id div 3 — consecutive cohort docs carry
    * brightness-twin rasters, so the stage provably binds); m6's chain
    * (real PNG decode → 9×7 luma resample → 56-bit dHash →
    * Hamming-band pairs at dist ≤ 3 → d7 components) clusters the
    * rasters, and the d9 survivor rule keeps ONE canonical copy per
    * cluster (the component's min id — `connectedComponents`' comp
    * label IS that id): docs whose media sits in a dup cluster with
    * the kept canonical elsewhere DROP. Sits between the Gopher rule
    * gate and the LM gate — an image-dup verdict is per-RASTER
    * metadata, and dropping copies before the LM stage keeps content
    * scoring off text the corpus won't keep anyway. Scale shape: the
    * decode is map-side over the slice's own media, candidates never
    * leave their band bucket, and the drop is an anti join against
    * the (dup-members-only) verdict. Pinned: [[lmGated]] consumes the
    * result twice. */
  def imageDedupKept(gatedDocs: DataFrame): DataFrame = {
    val media = gatedDocs.select(expr("doc_id div 3").as("media_id"))
    val hashes = Multimodal.pngDHash(Multimodal.synthPngVariantMedia(media))
    val pairs = Dedup.hammingNearDupPairs(hashes, "media_id", "dhash",
      bits = 56, maxDist = 3, bands = 4)
    val comps = Dedup.connectedComponents(
      pairs.select(col("id1"), col("id2")), assumeDistinctPairs = true)
    val drops = comps.where(col("id") =!= col("comp"))
      .select((col("id") * 3).as("doc_id"))
    gatedDocs.join(drops, Seq("doc_id"), "left_anti").localCheckpoint()
  }

  /** Frame decontamination: drop docs whose k=8 shingle containment in
    * the benchmark reaches 0.5. Pinned: consumed by the LSH subtree,
    * the split items, and the final join. */
  def decontaminated(gatedDocs: DataFrame, bench: DataFrame): DataFrame =
    Dedup.decontaminateFrames(gatedDocs, bench, k = 8, maxContainment = 0.5)
      .localCheckpoint()

  /** MinHash-LSH near-dup candidate pairs over the survivors. */
  def nearDupPairs(kept: DataFrame): DataFrame =
    Dedup.minhashLshPairs(kept, k = 3, bands = 8,
      rowsPerBand = 4, threshold = 0.05).select(col("id1"), col("id2"))

  /** Near-dup components (reused for the splits — no second fixpoint). */
  def components(pairs: DataFrame): DataFrame =
    Dedup.connectedComponents(pairs, assumeDistinctPairs = true)

  /** Leakage-safe whole-component split labels joined back onto the
    * curated corpus. */
  def curated(kept: DataFrame, comps: DataFrame): DataFrame = {
    val labeled = Sampling.componentSplitsFromComponents(
      kept.select(col("doc_id").as("id")), comps)
    kept.join(
      labeled.select(col("id").as("doc_id"), col("split")), Seq("doc_id"))
  }

  /** Per-source hard quota, rolled up per (source, split). */
  def quotaRollup(curatedDocs: DataFrame): DataFrame =
    Sampling.groupCap(curatedDocs, "source", "doc_id",
        key = concat(col("doc_id").cast("string"), lit("/"), col("source")),
        cap = 5)
      .groupBy(col("source"), col("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text"))).cast("long").as("chars"),
        sum(col("doc_id")).cast("long").as("id_checksum"))
      .orderBy(col("source"), col("split"))
}
