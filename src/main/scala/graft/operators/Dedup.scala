package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{Registry, TextFunctions}
import graft.sources.{Artifact, Table}

/** Deduplication operators for a training-data pipeline: exact
  * (hash-groupBy), n-gram Jaccard (exact near-dup ground truth),
  * MinHash+LSH (scalable candidate generation), SimHash (bit-band
  * clustering). SURVEY §7.4 item 10 / builder-prompt extension ops.
  *
  * Scale posture (100 TB): every operator shuffles on a
  * *content-derived* key (md5, shingle, band hash) so work distributes
  * by data, never by source partition; candidate verification touches
  * only bucket-cohabiting pairs, not the cross product.
  */
object Dedup {

  import org.apache.spark.sql.expressions.Window

  // ------------------------------------------------------------ exact

  /** Exact dedup summary over a text column: total docs, distinct texts
    * (by md5 — same digest function in the DuckDB oracle), dup count. */
  def exactSummary(docs: DataFrame): DataFrame =
    docs.agg(
      count(lit(1)).as("n_docs"),
      countDistinct(md5(col("text"))).as("n_distinct"),
      (count(lit(1)) - countDistinct(md5(col("text")))).as("n_dups"))

  /** Exact dedup: keep the first (lowest doc_id) row per distinct text. */
  def exactDedup(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy(md5(col("text"))).orderBy(col("doc_id"))
    docs.withColumn("rn", row_number().over(w))
      .where(col("rn") === 1).drop("rn")
  }

  // -------------------------------------------- URL-canonical dedup

  /** d18 — canonical form of a URL for stage-1 web-curation exact
    * dedup (the RefinedWeb/CCNet rule: normalize, then first-seen
    * wins). Rules, applied in order and replayed 1:1 by
    * [[normalizeUrlSql]]:
    *
    *  1. drop the fragment (`#...` — client-side only)
    *  2. lowercase (dedup-key stance: a scheme/host/path differing
    *     only by case is the same fetch target in practice)
    *  3. drop the scheme (`http://` ≡ `https://`) and a leading `www.`
    *  4. drop a trailing `/` on the path
    *  5. drop tracking query parameters (`utm_*`, `fbclid`, `gclid`)
    *     and SORT the survivors (`?b=2&a=1` ≡ `?a=1&b=2`)
    *
    * Pure per-row Column arithmetic — map-side, codegen'd, no UDF. */
  def normalizeUrl(url: Column): Column = {
    val lowered = lower(split_part(url, lit("#"), lit(1)))
    val noScheme = regexp_replace(lowered, "^https?://", "")
    val noWww = regexp_replace(noScheme, "^www\\.", "")
    val path = regexp_replace(split_part(noWww, lit("?"), lit(1)), "/$", "")
    val qparts = split(noWww, "\\?", 2)
    val query = when(size(qparts) === 2, element_at(qparts, 2))
      .otherwise(lit(""))
    val params = filter(split(query, "&"), p =>
      !(p.startsWith("utm_") || p.startsWith("fbclid=") ||
        p.startsWith("gclid=") || p === ""))
    val canonQ = array_join(array_sort(params), "&")
    when(length(canonQ) > 0, concat(path, lit("?"), canonQ)).otherwise(path)
  }

  /** DuckDB twin of [[normalizeUrl]] over SQL expression `u`. */
  def normalizeUrlSql(u: String): String = {
    val noWww = s"regexp_replace(regexp_replace(lower(split_part($u, '#', 1)), " +
      "'^https?://', ''), '^www\\.', '')"
    s"""(SELECT CASE WHEN length(cq) > 0 THEN p || '?' || cq ELSE p END
       | FROM (SELECT
       |   regexp_replace(split_part(nw, '?', 1), '/$$', '') AS p,
       |   array_to_string(list_sort(list_filter(
       |     string_split(CASE WHEN position('?' IN nw) > 0
       |                  THEN substr(nw, position('?' IN nw) + 1)
       |                  ELSE '' END, '&'),
       |     x -> NOT (starts_with(x, 'utm_') OR starts_with(x, 'fbclid=')
       |               OR starts_with(x, 'gclid=') OR x = ''))), '&') AS cq
       |  FROM (SELECT $noWww AS nw)))""".stripMargin.replace("\n", " ")
  }

  /** Host of a URL, through the [[normalizeUrl]] rules (lowercase,
    * scheme/www stripped) — the key of every host-level web-quality
    * prior (RefinedWeb's URL rules, Common-Crawl host PageRank): the
    * canonical form starts with the host, so this is one split. */
  def urlHost(url: Column): Column =
    split_part(split_part(normalizeUrl(url), lit("?"), lit(1)),
      lit("/"), lit(1))

  /** DuckDB twin of [[urlHost]]. */
  def urlHostSql(u: String): String =
    s"split_part(split_part(${normalizeUrlSql(u)}, '?', 1), '/', 1)"

  /** d18 — URL-canonical exact dedup groups: one row per canonical
    * URL with the first-seen keeper (min id — the engine's S2
    * first-writer-wins semantics, reference
    * backend/app/seed.py:87-109) and the group size. ONE shuffle on
    * the canonical string with map-side partial aggregation; at
    * 100 TB this is the cheapest dedup stage there is, which is
    * exactly why web pipelines run it before any near-dup pass. */
  def urlDedup(docs: DataFrame, urlCol: String = "url",
               idCol: String = "doc_id"): DataFrame =
    docs.select(normalizeUrl(col(urlCol)).as("canon_url"), col(idCol))
      .groupBy(col("canon_url"))
      .agg(min(col(idCol)).as("keeper"), count(lit(1)).as("n_dups"))

  /** [[urlDedup]]'s survivor form: the full first-seen row per
    * canonical URL — the frame a curation pipeline feeds forward.
    * Keeper ids are derived by the same single-shuffle rollup, then
    * survivors come back via one id-keyed semi join (no wide-struct
    * min_by shuffle, no window over the corpus). */
  def urlDedupSurvivors(docs: DataFrame, urlCol: String = "url",
                        idCol: String = "doc_id"): DataFrame =
    docs.join(
      urlDedup(docs, urlCol, idCol).select(col("keeper").as(idCol)),
      Seq(idCol), "left_semi")

  // --------------------------------------------- exact n-gram Jaccard

  /** Top-N near-duplicate pairs by exact k-shingle Jaccard similarity.
    * Self-equi-join on shingle → intersection counts → |A∪B| from
    * per-doc set sizes. This is the ground truth MinHash approximates;
    * at scale the shingle join IS the LSH bucket join with bands of 1.
    */
  def ngramJaccardTopN(docs: DataFrame, k: Int, topN: Int,
                       sampleMod: Option[Int] = None): DataFrame = {
    // optional deterministic sample: the all-pairs shingle join is
    // quadratic in corpus density — at bench scale the operator is
    // exercised on a doc_id-sampled cohort (oracle applies the same cut)
    val cohort = sampleMod.map(m => docs.where(col("doc_id") % m === 0)).getOrElse(docs)
    // native ShingleHashes (one JVM loop, no string materialization) and
    // an 8-byte join key: the interpreted HOF + string-key formulation
    // measured ~10× slower; 64-bit collisions (~1e-11 here) are the
    // standard trade for hash-based shingling
    // no cache: shingle hashing is a cheap native loop, and pinning the
    // exploded relation for the session's lifetime starves later queries
    val sh = cohort.select(col("doc_id"),
        explode(Registry.shingleHashes(
          Registry.wsLowerTokens(col("text")), k)).as("s_h"))
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    val inter = sh.as("a").join(sh.as("b").hint("SHUFFLE_HASH"),
        col("a.s_h") === col("b.s_h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.withColumnRenamed("doc_id", "id1").withColumnRenamed("sz", "sz1"), "id1")
      .join(sizes.withColumnRenamed("doc_id", "id2").withColumnRenamed("sz", "sz2"), "id2")
      .select(col("id1"), col("id2"),
        (col("inter").cast("double") / (col("sz1") + col("sz2") - col("inter"))).as("jaccard"))
      .orderBy(desc("jaccard"), col("id1"), col("id2"))
      .limit(topN)
  }

  /** DuckDB oracle for [[ngramJaccardTopN]] (k fixed at call site). */
  def ngramJaccardSql(k: Int, topN: Int, sampleMod: Option[Int] = None): String = {
    val sample = sampleMod.map(m => s"WHERE doc_id % $m = 0").getOrElse("")
    val joins = (1 until k).map(j =>
      s"JOIN p t$j ON t$j.doc_id = t0.doc_id AND t$j.pos = t0.pos + $j").mkString(" ")
    val catted = (0 until k).map(j => s"t$j.tok").mkString(" || ' ' || ")
    s"""WITH toks AS (
       |  SELECT doc_id, ${TextFunctions.wsTokensSql("lower(text)")} AS t
       |  FROM documents $sample),
       |p AS (
       |  SELECT doc_id, unnest(t) AS tok, generate_subscripts(t, 1) AS pos
       |  FROM toks),
       |sh AS (
       |  SELECT DISTINCT t0.doc_id, $catted AS s
       |  FROM p t0 $joins),
       |sz AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
       |inter AS (
       |  SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS inter
       |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT id1, id2,
       |       CAST(inter AS DOUBLE) / (s1.sz + s2.sz - inter) AS jaccard
       |FROM inter
       |JOIN sz s1 ON s1.doc_id = id1
       |JOIN sz s2 ON s2.doc_id = id2
       |ORDER BY jaccard DESC, id1, id2 LIMIT $topN""".stripMargin
  }

  /** Exact cross-frame n-gram Jaccard pairs — the batch-vs-corpus twin
    * of [[ngramJaccardTopN]]: every (batch doc, corpus doc) pair whose
    * shingle-set Jaccard clears `threshold`, as (`bid`, `cid`,
    * `jaccard`). The incremental registry's ground-truth pair source
    * (d17): same shingle rule, same join shape (8-byte hash equi-join,
    * shuffle-hash — the batch side is small by contract), same exact
    * division as the d2 oracle, so the SQL twin replays it verbatim. */
  def crossJaccardPairs(batch: DataFrame, corpus: DataFrame, k: Int,
                        threshold: Double): DataFrame = {
    def sh(df: DataFrame) = df.select(col("doc_id"),
      explode(Registry.shingleHashes(
        Registry.wsLowerTokens(col("text")), k)).as("s_h"))
    val a = sh(batch)
    val b = sh(corpus)
    val szA = a.groupBy(col("doc_id")).agg(count(lit(1)).as("sz1"))
      .withColumnRenamed("doc_id", "bid")
    val szB = b.groupBy(col("doc_id")).agg(count(lit(1)).as("sz2"))
      .withColumnRenamed("doc_id", "cid")
    a.as("a").join(b.as("b").hint("SHUFFLE_HASH"),
        col("a.s_h") === col("b.s_h"))
      .groupBy(col("a.doc_id").as("bid"), col("b.doc_id").as("cid"))
      .agg(count(lit(1)).as("inter"))
      .join(szA, "bid").join(szB, "cid")
      .select(col("bid"), col("cid"),
        (col("inter").cast("double") /
          (col("sz1") + col("sz2") - col("inter"))).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  // ------------------------------------------------------ MinHash+LSH

  /** FNV-1a 64 over a VARCHAR column's bytes as DuckDB SQL — the exact
    * twin of [[graft.functions.ShingleHashes]]/[[graft.functions.SimHash64]]'s
    * per-token hash. 64-bit wrapping arithmetic runs in HUGEINT mod 2^64;
    * the byte XOR only touches the low 8 bits, so it is expressible as
    * arithmetic on the split (avoids HUGEINT xor). ASCII-only corpora:
    * ord(char) == utf8 byte. */
  private[graft] def fnvSql(col: String): String =
    "list_reduce(" +
      "[CAST('14695981039346656037' AS HUGEINT)] || " +
      s"list_transform(range(1, strlen($col)+1), i -> CAST(ord(substr($col, i, 1)) AS HUGEINT)), " +
      "(h, b) -> ((h // 256) * 256 + xor(CAST(h % 256 AS BIGINT), CAST(b AS BIGINT))) " +
      "* 1099511628211 % CAST('18446744073709551616' AS HUGEINT))"

  private val P61: Long = graft.functions.MinHashSig.P
  private val U64 = "CAST('18446744073709551616' AS HUGEINT)"
  private val S63 = "CAST('9223372036854775808' AS HUGEINT)"

  /** MinHash signature — native expression (graft.functions.MinHashSig):
    * one tight loop per row instead of numHashes interpreted
    * array traversals. */
  def minhashSig(shingleHashes: Column, numHashes: Int): Column =
    Registry.minhashSig(shingleHashes, numHashes)

  /** THE per-doc shingle-hash stream: k-token shingles over whitespace
    * tokens of the lowercased text, native-hashed, one row per
    * occurrence (callers dedup/distinct as their containment form
    * needs). Single definition shared by every decontamination form
    * ([[contamination]], [[bloomContamination]], [[saveDeconIndex]],
    * [[decontaminateAgainstDeconIndex]], [[decontaminateFrames]]) so
    * tokenization or shingle hashing can never drift between them. */
  private def shingleHashCol(k: Int): Column =
    explode(Registry.shingleHashes(
      Registry.wsLowerTokens(col("text")), k))

  /** MinHash-LSH near-dup pairs: signature → bands → bucket join →
    * exact-Jaccard verification of candidates only.
    * @param bands × @param rowsPerBand = signature length. */
  def minhashLshPairs(docs: DataFrame, k: Int, bands: Int, rowsPerBand: Int,
                      threshold: Double): DataFrame =
    minhashLshPairsFromSig(minhashSignatures(docs, k, bands * rowsPerBand),
      bands, rowsPerBand, threshold)

  /** The MinHash preparation: (doc_id, shingle-hash set, signature).
    * Shingling+hashing+signature are native expressions — two JVM loops
    * per row (SURVEY: composed HOF lambdas run interpreted and re-walk
    * the array per hash fn). Split out because the LSH plan references
    * this frame THREE times (band explode + both verification joins):
    * a caller that can bound the lifetime (c2 materializes its pairs
    * into components) caches it and pays one scan instead of three —
    * measured 7.3 s → 5.2 s on the 8× dup corpus. [[minhashLshPairs]]
    * itself stays lazy/uncached: a library call that returns a lazy
    * frame must not pin blocks it can never unpersist. */
  def minhashSignatures(docs: DataFrame, k: Int, numHashes: Int,
                        carry: Seq[String] = Nil): DataFrame =
    docs
      .select(col("doc_id") +: carry.map(col) :+
        Registry.shingleHashes(Registry.wsLowerTokens(col("text")), k).as("sh"): _*)
      .where(size(col("sh")) > 0)
      .withColumn("sig", minhashSig(col("sh"), numHashes))

  /** (doc_id, band, bucket) from a [[minhashSignatures]] frame: band b's
    * bucket is a 64-bit hash of signature slice [b*r, b*r+r) — the one
    * banding rule every LSH surface in this file shares (batch pairs,
    * the persisted index build, and incremental probes), so a probe can
    * never land in a differently-keyed bucket than the build wrote. */
  private[graft] def bandedFrame(withSig: DataFrame, bands: Int,
                                 rowsPerBand: Int,
                                 carry: Seq[String] = Nil): DataFrame =
    withSig.select(col("doc_id") +: carry.map(col) :+
      posexplode(array((0 until bands).map(b =>
        xxhash64(lit(b), concat_ws(",",
          (0 until rowsPerBand).map(r =>
            element_at(col("sig"), b * rowsPerBand + r + 1)): _*))): _*)): _*)
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")

  /** LSH candidate generation + exact-Jaccard verification over a
    * prepared [[minhashSignatures]] frame. */
  def minhashLshPairsFromSig(withSig: DataFrame, bands: Int, rowsPerBand: Int,
                             threshold: Double): DataFrame = {
    // band b = hash of sig[b*r .. b*r+r). The band join carries only
    // (doc_id, band, bucket) — shuffling the shingle-hash arrays bands×
    // on both sides would dominate at scale; the arrays join back once
    // per side for the verification step only. Candidate dedup stays a
    // dropDuplicates here (unlike simhashPairs' map-side first-band
    // filter): carrying the 8-entry bucket array through BOTH sides of
    // the self-join was measured SLOWER (13.5 s vs 11.4 s on the 8×
    // dup-heavy corpus) than shuffling the 16-byte pair ids once.
    val banded = bandedFrame(withSig, bands, rowsPerBand)
    val candIds = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      .dropDuplicates("id1", "id2")
    val shSets = withSig.select(col("doc_id"), col("sh"))
    val cand = candIds
      .join(shSets.withColumnRenamed("doc_id", "id1").withColumnRenamed("sh", "sh1"), "id1")
      .join(shSets.withColumnRenamed("doc_id", "id2").withColumnRenamed("sh", "sh2"), "id2")
    cand
      .withColumn("inter", size(array_intersect(col("sh1"), col("sh2"))))
      .withColumn("jaccard", col("inter").cast("double") /
        (size(col("sh1")) + size(col("sh2")) - col("inter")))
      .where(col("jaccard") >= threshold)
      .select(col("id1"), col("id2"), col("jaccard"))
      .orderBy(col("id1"), col("id2"))
  }

  /** DuckDB oracle for [[minhashLshPairs]]: same FNV-1a shingle hashes,
    * same (a·h+b) mod 2^61−1 signature (64-bit wrap replicated via
    * HUGEINT, floorMod via ((s%P)+P)%P), band keys compared by VALUE
    * (the Spark side buckets on xxhash64 of the same slice — equal
    * slices hash equal, and a cross-slice collision is ~2⁻⁶⁴). */
  /** The shared MinHash CTE prefix (`toks` → … → `band`) used by both
    * [[minhashLshSql]] and [[incrementalLshSql]] — one text so the two
    * oracles can never diverge on the signature/band arithmetic. */
  private def minhashBandCtes(k: Int, bands: Int, rowsPerBand: Int,
                              from: String = "documents"): String = {
    val joins = (1 until k).map(j =>
      s"JOIN p t$j ON t$j.doc_id = t0.doc_id AND t$j.pos = t0.pos + $j").mkString(" ")
    val catted = (0 until k).map(j => s"t$j.tok").mkString(" || ' ' || ")
    val numHashes = bands * rowsPerBand
    s"""WITH toks AS (
       |  SELECT doc_id, ${TextFunctions.wsTokensSql("lower(text)")} AS t FROM $from),
       |p AS (
       |  SELECT doc_id, unnest(t) AS tok, generate_subscripts(t, 1) AS pos FROM toks),
       |shs AS (
       |  SELECT t0.doc_id, $catted AS s
       |  FROM p t0 $joins),
       |sh AS (
       |  SELECT DISTINCT doc_id, ${fnvSql("s")} AS h FROM shs),
       |seeds AS (
       |  SELECT j, CAST(2*j*1000003 + 1 AS HUGEINT) AS a,
       |         CAST(j*998244353 % $P61 AS HUGEINT) AS b
       |  FROM (SELECT unnest(range(1, ${numHashes + 1})) AS j)),
       |sigv AS (
       |  SELECT doc_id, j, min(((s % $P61) + $P61) % $P61) AS v
       |  FROM (
       |    SELECT doc_id, j, CASE WHEN u >= $S63 THEN u - $U64 ELSE u END AS s
       |    FROM (SELECT sh.doc_id, seeds.j, (sh.h * seeds.a + seeds.b) % $U64 AS u
       |          FROM sh CROSS JOIN seeds))
       |  GROUP BY doc_id, j),
       |band AS (
       |  SELECT doc_id, (j-1) // $rowsPerBand AS band,
       |         string_agg(CAST(v AS VARCHAR), ',' ORDER BY j) AS bucket
       |  FROM sigv GROUP BY doc_id, (j-1) // $rowsPerBand)""".stripMargin
  }

  def minhashLshSql(k: Int, bands: Int, rowsPerBand: Int,
                    threshold: Double, from: String = "documents"): String = {
    s"""${minhashBandCtes(k, bands, rowsPerBand, from)},
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
       |  FROM band a JOIN band b
       |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
       |sz AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
       |inter AS (
       |  SELECT c.id1, c.id2, COUNT(*) AS inter
       |  FROM cand c
       |  JOIN sh a ON a.doc_id = c.id1
       |  JOIN sh b ON b.doc_id = c.id2 AND b.h = a.h
       |  GROUP BY 1, 2)
       |SELECT id1, id2, CAST(inter AS DOUBLE) / (s1.sz + s2.sz - inter) AS jaccard
       |FROM inter
       |JOIN sz s1 ON s1.doc_id = id1
       |JOIN sz s2 ON s2.doc_id = id2
       |WHERE CAST(inter AS DOUBLE) / (s1.sz + s2.sz - inter) >= $threshold
       |ORDER BY id1, id2""".stripMargin
  }

  // --------------------- incremental dedup vs a persisted index (d14)

  /** Bucket-partition count for a persisted LSH index: band rows land in
    * partition `pmod(bucket, nBucketParts)`, so an incremental probe's
    * bucket join prunes to only the partitions its own buckets hash
    * into — the daily-increment analogue of [[graft.operators.Similarity.saveIvf]]'s
    * cell partitioning. Sizing at scale: pruning pays when the batch's
    * distinct buckets cover a minority of partitions, so raise this
    * with the corpus (e.g. toward 4–16K at 100 TB) — each partition
    * should hold a few hundred MB of band rows, and a small daily
    * batch (≤ a few hundred distinct buckets per band) then touches a
    * small fraction of them. */
  val LshBucketParts = 64

  /** Incremental batch-vs-corpus near-dup dedup — the production shape
    * at 100 TB: the historical corpus' MinHash band index is built ONCE
    * (ideally persisted, [[saveLshIndex]]); each arriving batch computes
    * its own signatures (|batch| work, not |corpus|), probes the
    * matching buckets, and verifies only bucket-cohabiting candidates
    * by exact Jaccard. Nothing rehashes or re-shuffles the corpus: the
    * corpus-side touch is the pruned bucket probe plus a semi-join
    * fetch of candidate shingle sets.
    *
    * `maxBucket`: drop corpus buckets with more than this many members
    * before candidate generation — the degenerate-bucket guard. A
    * boilerplate/template bucket of B members yields B candidates per
    * probing doc; one hot bucket at corpus scale (B ~ 1e6) turns a
    * cheap probe into a job-killing fan-out. Near-dups lost this way
    * sit in near-identical template families that band agreement
    * re-finds in other (smaller) buckets or that downstream line-level
    * dedup ([[lineDedup]]) removes anyway — the standard recall trade
    * every production LSH makes (capped in the SQL twin identically, so
    * the oracle replays the drop bit for bit).
    *
    * Output, one row per batch doc with a nonempty shingle set:
    * (doc_id, n_matches, match_id = lowest matching corpus doc,
    * is_dup). Batch and corpus must be doc_id-disjoint (self-pairs are
    * guarded regardless, so probing an index the batch was already
    * appended to — the idempotent-resume shape — flags at least the
    * same dups; exact equality additionally requires the batch to have
    * no intra-batch near-dups, since appended batch docs can now match
    * EACH OTHER through the index, raising n_matches/match_id for those
    * rows vs the pre-append probe). */
  def incrementalLshDedup(corpus: DataFrame, batch: DataFrame, k: Int,
                          bands: Int, rowsPerBand: Int, threshold: Double,
                          maxBucket: Option[Int] = None,
                          nBucketParts: Int = LshBucketParts): DataFrame = {
    val cSig = minhashSignatures(corpus, k, bands * rowsPerBand)
    val cBands = bandedFrame(cSig, bands, rowsPerBand)
      .withColumn("part", pmod(col("bucket"), lit(nBucketParts)))
    dedupAgainstBands(cBands, cSig.select(col("doc_id"), col("sh")),
      minhashSignatures(batch, k, bands * rowsPerBand),
      bands, rowsPerBand, threshold, maxBucket, nBucketParts)
  }

  /** The probe core shared by the in-memory ([[incrementalLshDedup]])
    * and persisted ([[dedupAgainstLshIndex]]) forms, so the two can
    * never diverge (spec-asserted equal).
    *
    * Scale shape: every corpus-side operand joins on (part, band,
    * bucket) against the batch's buckets — over a `part`-partitioned
    * parquet index that is a DPP-pruned scan (only partitions the
    * batch's buckets hash into are read; plan-asserted in the spec).
    * When `maxBucket` is set, bucket sizes come from `bucketSizes` if
    * the caller has them precomputed ([[saveLshIndex]]'s stats side
    * table — one tiny pruned scan, summed across append slices so it
    * never goes stale across [[appendToLshIndex]] batches); otherwise
    * from counting within the pruned band scan itself, which costs a
    * second pruned pass over the band data.
    *
    * The BATCH side's shingle/signature subtree is referenced several
    * times (probe buckets, candidate join, verification, output base)
    * and recomputes per reference — |batch| work each, the side that
    * is small by contract. The lazy surface must not pin cache blocks
    * it can never release (the [[minhashLshPairs]] rule); a caller
    * probing repeatedly can cache the small batch DataFrame itself
    * before calling, which bounds every recompute at one in-memory
    * scan. */
  private def dedupAgainstBands(corpusBands: DataFrame, corpusDocs: DataFrame,
                                batchSig: DataFrame, bands: Int,
                                rowsPerBand: Int, threshold: Double,
                                maxBucket: Option[Int],
                                nBucketParts: Int,
                                bucketSizes: Option[DataFrame] = None): DataFrame =
    verdictsFromPairs(batchSig.select(col("doc_id")),
      verifiedPairsAgainstBands(corpusBands, corpusDocs, batchSig, bands,
        rowsPerBand, threshold, maxBucket, nBucketParts, bucketSizes))

  private def verifiedPairsAgainstBands(corpusBands: DataFrame,
                                corpusDocs: DataFrame,
                                batchSig: DataFrame, bands: Int,
                                rowsPerBand: Int, threshold: Double,
                                maxBucket: Option[Int],
                                nBucketParts: Int,
                                bucketSizes: Option[DataFrame] = None): DataFrame = {
    val bBands = bandedFrame(batchSig, bands, rowsPerBand)
      .withColumn("part", pmod(col("bucket"), lit(nBucketParts)))
    val keys = Seq("part", "band", "bucket")
    // corpus rows cohabiting a batch bucket; join carries `part` so the
    // partition column is an equi-join key — the DPP handle
    val hit = corpusBands.join(bBands.select(keys.map(col): _*).distinct(), keys)
    val okHit = (maxBucket, bucketSizes) match {
      // precomputed stats: restrict to the batch's buckets first
      // (the same pruned-join shape as `hit`, so DPP applies to the
      // stats scan too), then sum across save/append slices — each
      // append writes its own per-bucket counts, so the sum is the
      // current full bucket size with no staleness window. LEFT join:
      // a bucket present in the band data but with NO stats row yet —
      // the crash window between [[appendToLshIndex]]'s bands append
      // and its stats slice, or a probe racing a concurrent append
      // between those two writes — is size-UNKNOWN and must be probed
      // (an inner join would silently drop it: missed duplicates, the
      // one failure mode worse than an untripped cap).
      case (Some(cap), Some(st)) =>
        val sizes = st.join(bBands.select(keys.map(col): _*).distinct(), keys)
          .groupBy(keys.map(col): _*).agg(sum(col("n")).as("n"))
        hit.join(sizes, keys, "left_outer")
          .where(col("n").isNull || col("n") <= cap).drop("n")
      // a bucket lives wholly inside part = bucket % nBucketParts, so
      // counting within the pruned scan IS the full bucket size (and
      // every hit bucket has a count row — the inner join drops none)
      case (Some(cap), None) =>
        val sizes = hit.groupBy(keys.map(col): _*).agg(count(lit(1)).as("n"))
        hit.join(sizes.where(col("n") <= cap).drop("n"), keys)
      case (None, _) => hit
    }
    val cand = bBands.as("b")
      .join(okHit.as("c"), keys)
      // batch∩corpus overlap guard: a doc probing an index it was
      // already appended to must not match itself
      .where(col("b.doc_id") =!= col("c.doc_id"))
      .select(col("b.doc_id").as("bid"), col("c.doc_id").as("cid"))
      .dropDuplicates("bid", "cid")
    // verification: batch shingle sets ride a small-side join; corpus
    // sets arrive via a candidate-keyed join (AQE broadcasts the
    // candidate side when small, so the doc store is a filtered scan,
    // not a corpus shuffle)
    val verified = cand
      .join(batchSig.select(col("doc_id").as("bid"), col("sh").as("sh1")), "bid")
      .join(corpusDocs.select(col("doc_id").as("cid"), col("sh").as("sh2")), "cid")
      .withColumn("inter", size(array_intersect(col("sh1"), col("sh2"))))
      .withColumn("jaccard", col("inter").cast("double") /
        (size(col("sh1")) + size(col("sh2")) - col("inter")))
      .where(col("jaccard") >= threshold)
      // verdict stability under a DAMAGED index: an at-least-once
      // replayed append leaves duplicate doc-store rows, which would
      // double-count n_matches through this join — dedup the verified
      // pairs (a tiny relation; free on a healthy index where pairs
      // are already unique) so replayed appends can never move
      // verdicts (the [[graft.streaming.DocStreams]] sink's contract)
      .dropDuplicates("bid", "cid")
    verified.select(col("bid"), col("cid"), col("jaccard"))
  }

  /** The per-doc verdict rollup over verified pairs — the shared tail
    * of every incremental probe. `batchDocs` fixes the verdict
    * POPULATION (one row per probing doc, matched or not); pass the
    * signature frame's doc ids ([[minhashSignatures]] drops docs with
    * no shingles) to reproduce [[dedupAgainstLshIndex]]'s rows exactly
    * — [[shingledDocIds]] computes that population without paying for
    * signatures, for callers deriving verdicts from PERSISTED pairs. */
  private[graft] def verdictsFromPairs(batchDocs: DataFrame,
                                       pairs: DataFrame): DataFrame =
    batchDocs.select(col("doc_id"))
      .join(pairs.groupBy(col("bid"))
          .agg(count(lit(1)).as("m"), min(col("cid")).as("match_id")),
        col("doc_id") === col("bid"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("m"), lit(0L)).as("n_matches"),
        col("match_id"),
        col("match_id").isNotNull.as("is_dup"))
      .orderBy(col("doc_id"))

  /** The probe population rule, standalone: doc ids with at least one
    * k-shingle — exactly [[minhashSignatures]]'s filter, minus the
    * signature cost. */
  def shingledDocIds(docs: DataFrame, k: Int): DataFrame =
    docs.select(col("doc_id"),
        Registry.shingleHashes(
          Registry.wsLowerTokens(col("text")), k).as("sh"))
      .where(size(col("sh")) > 0)
      .select(col("doc_id"))

  /** Persist a corpus LSH index: band rows bucket-partitioned (the
    * probe-pruning layout) plus a doc-keyed shingle-set store for
    * candidate verification, plus a one-row meta table pinning the
    * build parameters — a probe with mismatched (k, bands, rowsPerBand)
    * would silently find nothing, so [[dedupAgainstLshIndex]] reads its
    * parameters from the index itself. Build once, probe every batch. */
  def saveLshIndex(corpus: DataFrame, k: Int, bands: Int, rowsPerBand: Int,
                   path: String,
                   nBucketParts: Int = LshBucketParts): Unit = {
    // scope-bounded cache: bands and docs both read the signature frame
    // (shingling is the expensive part); released before returning
    val sig = minhashSignatures(corpus, k, bands * rowsPerBand).cache()
    try writeLshIndexFromSig(sig, k, bands, rowsPerBand, path, nBucketParts)
    finally sig.unpersist()
  }

  /** The index-writing back half shared by [[saveLshIndex]] (signatures
    * fresh from text) and [[rebuildLshIndex]] (signatures re-derived
    * from the snapshotted doc store): bands → stats → docs, meta LAST
    * as the commit marker. */
  private def writeLshIndexFromSig(sig: DataFrame, k: Int, bands: Int,
                                   rowsPerBand: Int, path: String,
                                   nBucketParts: Int): Unit = {
    val bandRows = bandedFrame(sig, bands, rowsPerBand)
      .withColumn("part", lshPart(nBucketParts))
    LshArtifact("bands").writer(bandRows).mode("overwrite")
      .parquet(LshArtifact("bands").at(path))
    writeLshStats(bandRows, LshArtifact("stats").at(path), overwrite = true)
    LshArtifact("docs").writer(sig).mode("overwrite")
      .parquet(LshArtifact("docs").at(path))
    writeLshMeta(sig.sparkSession, k, bands, rowsPerBand, nBucketParts, path)
  }

  /** The one-row meta table — written LAST as the index commit
    * marker. */
  private def writeLshMeta(spark: org.apache.spark.sql.SparkSession, k: Int,
                           bands: Int, rowsPerBand: Int, nBucketParts: Int,
                           path: String): Unit = {
    LshArtifact("meta").writeRow(spark, LshArtifact("meta").at(path), k, bands,
      rowsPerBand, nBucketParts)
    spark.catalog.refreshByPath(path)
  }

  /** A band row's bucket partition: INT, the type the partition
    * directory reads back as and the probe's DPP join key. */
  private def lshPart(nBucketParts: Int): Column =
    pmod(col("bucket"), lit(nBucketParts)).cast("int")

  /** Per-(part, band, bucket) member counts, written alongside the band
    * data at save/append time so a capped probe reads a tiny pruned
    * stats scan instead of re-counting the band data (a second pruned
    * pass over the index — the cost a daily prober pays on every
    * batch). Appends write their OWN slice's counts; the probe sums
    * slices, so freshness is structural, not a cache-invalidation
    * problem. Rows are 4 small ints per distinct bucket — negligible
    * next to the band rows they describe. */
  private def writeLshStats(bandRows: DataFrame, statsPath: String,
                            overwrite: Boolean): Unit =
    LshArtifact("stats").writer(
        bandRows.groupBy(col("part"), col("band"), col("bucket"))
          .agg(count(lit(1)).as("n")))
      .mode(if (overwrite) "overwrite" else "append").parquet(statsPath)

  /** Append an accepted batch to a persisted index — the post-dedup
    * step of the daily loop (probe → keep survivors → append them).
    * Parquet append touches only the partitions the new buckets hash
    * into; resident partitions' files are untouched. Probes after the
    * append see the union exactly as a fresh [[saveLshIndex]] of it
    * would (same banding rule — spec-asserted).
    *
    * Not transactional across its tables: a crash between the bands
    * append and the stats slice (or the doc-store append) leaves the
    * index torn — stats undercount the batch's PRE-EXISTING buckets
    * (capped probes under-trip on them, maintenance sizing reads
    * slightly low), and its BRAND-NEW buckets have no stats row at all,
    * which capped probes treat as size-unknown and always probe (the
    * sizes join is a left join precisely so these cannot be dropped —
    * a dropped bucket is a silently missed duplicate). Exactness
    * returns when [[backfillLshStats]] or [[repairLshIndex]] runs.
    * Callers needing a crash-contained append run it behind the
    * curation sink's sealed-verdict protocol
    * ([[graft.streaming.DocStreams.indexedDedupSink]]) and repair on
    * the operational cadence. */
  def appendToLshIndex(newDocs: DataFrame, path: String): Unit = {
    val spark = newDocs.sparkSession
    graft.sources.Rebuild.assertNotInflight(spark, path)
    val (k, bands, rpb, parts) = readLshMeta(spark, path)
    val sig = minhashSignatures(newDocs, k, bands * rpb).cache()
    try {
      val bandRows = bandedFrame(sig, bands, rpb)
        .withColumn("part", lshPart(parts))
      LshArtifact("bands").writer(bandRows).mode("append")
        .parquet(LshArtifact("bands").at(path))
      // stats slice ONLY when the index already carries a COMMITTED
      // stats table (the _SUCCESS gate — a torn stats dir left by a
      // crashed overwrite must not accrete slices on top of partial
      // counts): on a legacy (pre-stats) index, creating stats/ from
      // just this append would be silently WRONG — resident buckets
      // would report only their appended members (a 9-member template
      // bucket reads as 1, the cap never trips), and buckets with no
      // appended rows would have no stats row at all, probing forever
      // as size-unknown (the sizes left join includes them, but the
      // cap they were configured for never engages). Legacy/torn
      // indexes stay on the counting fallback until
      // [[backfillLshStats]] migrates them wholesale.
      if (lshStatsCommitted(spark, path))
        writeLshStats(bandRows, LshArtifact("stats").at(path), overwrite = false)
      LshArtifact("docs").writer(sig).mode("append")
        .parquet(LshArtifact("docs").at(path))
    } finally sig.unpersist()
  }

  /** The stats fast path's commit gate: a capped probe may trust the
    * stats side table only when its write COMMITTED (`_SUCCESS`
    * present at the table root) — a dir-existence check would accept a
    * torn dir left by a crashed overwrite, whose partial counts
    * under-size resident buckets (caps never trip) and leave the rest
    * probing as size-unknown, instead of falling back to counting. */
  private[graft] def lshStatsCommitted(spark: org.apache.spark.sql.SparkSession,
                                       path: String): Boolean =
    graft.sources.Hdfs.forPath(spark, path)
      .exists(new org.apache.hadoop.fs.Path(s"$path/stats/_SUCCESS"))

  /** Backfill (or exact-rebuild) the stats side table from the band
    * data: one aggregate writes the same per-(part, band, bucket)
    * counts a fresh [[saveLshIndex]] would have. Two uses — migrating
    * a legacy index saved before the stats layout existed onto the
    * one-pruned-scan probe path, and collapsing a long append
    * history's accreted stats slices into exact single rows. The
    * rewrite goes through the stage-aside/rename swap (never a plain
    * in-place overwrite of the live dir): probes keep a committed
    * stats table through every crash point, and [[lshStatsCommitted]]
    * closes the residual window — a swap interrupted between renames
    * leaves no `_SUCCESS`, so probes fall back to counting instead of
    * joining partial sizes. */
  def backfillLshStats(spark: org.apache.spark.sql.SparkSession,
                       path: String): Unit = {
    LshArtifact.requireSaved(spark, path)
    val fs = graft.sources.Hdfs.forPath(spark, path)
    graft.sources.TableSwap.recover(fs, path, "stats")
    graft.sources.TableSwap.rewrite(spark, fs, path, "stats") { tmp =>
      writeLshStats(LshArtifact("bands").read(spark, path), tmp, overwrite = true)
    }
  }

  /** Repair an index damaged by an at-least-once replayed append (the
    * [[graft.streaming.DocStreams.indexedDedupSink]] crash window): a
    * duplicated append leaves duplicate band and doc-store rows, which
    * inflate bucket stats (capped probes may drop buckets early) —
    * verdict VALUES stay correct regardless (the probe dedups verified
    * pairs), so repair is hygiene, not data recovery. Exact row-level
    * dedup of both tables, then a stats rebuild; each table rewrite
    * uses the stage-aside/rename swap (tmp written first, live staged
    * to `_repair_old_*`, replacement renamed in), and a repair that
    * crashed mid-swap is healed at the next entry the same way the
    * compactor heals its own. Idempotent: repairing a healthy index
    * changes nothing but file layout. */
  def repairLshIndex(spark: org.apache.spark.sql.SparkSession,
                     path: String): Unit = {
    LshArtifact.requireSaved(spark, path)
    val Seq(bandsT, docsT) = Seq("bands", "docs").map(LshArtifact(_))
    // band rows are fully determined by (doc_id, band): exact distinct
    bandsT.rewrite(spark, path)(bandsT.read(spark, path).dropDuplicates())
    // one shingle-set row per doc
    docsT.rewrite(spark, path)(docsT.read(spark, path).dropDuplicates("doc_id"))
    backfillLshStats(spark, path)
  }

  /** Small-file compaction for an append-grown LSH index: every
    * [[appendToLshIndex]] batch adds at least one file per touched
    * `part=` partition — in the band data AND the stats side table —
    * so a daily loop accretes tiny files until the pruned probe scans
    * go metadata-bound — the same accretion the IVF cell table
    * suffers, fixed by the same crash-safe swap
    * ([[graft.sources.Compaction.compactPartitions]]). Compacting
    * stats merges FILES, never rows (probes sum slices regardless), so
    * probe results are unchanged either way (spec-asserted); returns
    * the compacted band part ids. */
  def compactLshBands(spark: org.apache.spark.sql.SparkSession, path: String,
                      maxFilesPerPart: Int, targetFiles: Int = 1): Seq[Int] = {
    LshArtifact.requireSaved(spark, path)
    if (lshStatsCommitted(spark, path))
      LshArtifact("stats").compact(spark, path, maxFilesPerPart, targetFiles)
    LshArtifact("bands").compact(spark, path, maxFilesPerPart, targetFiles)
      .map(_.toInt)
  }

  /** Re-bucket (and optionally re-band) a persisted LSH index from its
    * own doc store — the growth-migration half of the maintenance
    * story, symmetric to [[graft.operators.Similarity.rebuildPqIvf]]:
    * an index sized at save time keeps its `nBucketParts` through
    * every append, so a corpus that grows 100× ends up with fat bucket
    * partitions and weak probe pruning; this re-saves the index under
    * new partitioning without touching the original text.
    *
    * `None` keeps the current value from meta. Changing ONLY
    * `nBucketParts` is pure layout: band rows and buckets are
    * unchanged, just re-hashed to partitions, so probe verdicts are
    * bit-identical before and after (spec-pinned, like compaction's) —
    * and the rebuild exploits that: the RE-BUCKET path snapshots and
    * rewrites the band table alone (recomputing only the `part`
    * column), touching neither the doc store nor a single MinHash —
    * O(|band rows|) IO with zero hashing, the cost that matters when a
    * 100 TB corpus outgrows its partition count (spec-pinned: the doc
    * store's files are byte-identical after a pure re-bucket).
    * Measured honestly (PipelineScaleBench rebuild leg, 64× local
    * volume): both migration paths are WRITE-bound there and land
    * within ambient of each other (~26 s vs ~25 s), both ~1.3× faster
    * than a fresh save — the fast path's gap opens with the
    * doc-store/band-table size ratio, which local shingle sets keep
    * small but production corpora do not.
    * Changing `bands`/`rowsPerBand` re-derives signatures from the
    * stored shingle sets — the result equals a fresh [[saveLshIndex]]
    * of the same docs at those parameters (spec-pinned); verdicts may
    * legitimately move (different candidate generation). The shingle
    * length `k` CANNOT change here — shingles are baked into the doc
    * store and the text is gone; re-shingling is a fresh
    * [[saveLshIndex]] from the corpus.
    *
    * Crash-safe by re-run via the shared token-committed snapshot
    * protocol ([[graft.sources.Rebuild]]): the doc store is
    * snapshotted first, the rebuild runs from the snapshot, and a
    * completed rebuild's leftover snapshot is discarded rather than
    * rolling back appends that landed since. */
  def rebuildLshIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                      nBucketParts: Option[Int] = None,
                      bands: Option[Int] = None,
                      rowsPerBand: Option[Int] = None): Unit =
    // meta is read lazily INSIDE the snapshot thunk: a re-run healing
    // a crashed rebuild takes its parameters from the snapshot's
    // persisted params instead (completing the ORIGINAL rebuild even
    // if the crash tore meta itself); the caller's overrides apply
    // only when a FRESH snapshot is taken
    graft.sources.Rebuild.withCommittedSnapshot(spark, path, {
      val (k, b0, r0, p0) = readLshMeta(spark, path)
      val nb = bands.getOrElse(b0)
      val nr = rowsPerBand.getOrElse(r0)
      val np = nBucketParts.getOrElse(p0)
      require(nb >= 1 && nr >= 1 && np >= 1,
        s"rebuild parameters must be positive: bands=$nb rowsPerBand=$nr nBucketParts=$np")
      // unchanged banding ⇒ band rows are invariant: snapshot THEM
      // (8-byte buckets, no shingle arrays) and skip every hash
      val rebucket = nb == b0 && nr == r0
      val df =
        if (rebucket) LshArtifact("bands").read(spark, path)
          .select(col("doc_id"), col("band"), col("bucket"))
        else LshArtifact("docs").read(spark, path)
      (df, Map("k" -> k.toString, "bands" -> nb.toString,
           "rows_per_band" -> nr.toString, "n_bucket_parts" -> np.toString,
           "mode" -> (if (rebucket) "rebucket" else "reband")))
    }) { (snap, params) =>
      val (k, nb, nr, np) = (params("k").toInt, params("bands").toInt,
        params("rows_per_band").toInt, params("n_bucket_parts").toInt)
      // mode defaults to the docs-snapshot path: snapshots written
      // before the re-bucket fast path existed carry no mode key and
      // are exactly doc-store snapshots
      if (params.getOrElse("mode", "reband") == "rebucket") {
        // pure layout: recompute `part`, rewrite bands + stats, leave
        // the doc store untouched; meta (written last) commits
        val bandRows = snap.withColumn("part", lshPart(np))
        LshArtifact("bands").writer(bandRows).mode("overwrite")
          .parquet(LshArtifact("bands").at(path))
        writeLshStats(bandRows, LshArtifact("stats").at(path), overwrite = true)
        writeLshMeta(spark, k, nb, nr, np, path)
      } else {
        // scope-bounded cache as in saveLshIndex: bands/stats/docs all
        // read the re-signed frame
        val sig = snap.withColumn("sig", minhashSig(col("sh"), nb * nr)).cache()
        try writeLshIndexFromSig(sig, k, nb, nr, path, np)
        finally sig.unpersist()
      }
    }

  /** Probe a persisted index with a new batch: [[incrementalLshDedup]]
    * semantics, corpus side read from the `part`-partitioned band table
    * (DPP-pruned to the batch's buckets) and the doc store. A capped
    * probe reads bucket sizes from the save-time stats table when the
    * index has a COMMITTED one ([[lshStatsCommitted]] — one pruned
    * band-data scan total, spec-pinned); indexes saved by older
    * layouts without `stats/`, or whose stats rewrite was interrupted
    * before commit, fall back to counting within the pruned band
    * scan. */
  def dedupAgainstLshIndex(batch: DataFrame, path: String, threshold: Double,
                           maxBucket: Option[Int] = None): DataFrame =
    indexProbe(batch, path, threshold, maxBucket)(dedupAgainstBands)

  /** [[dedupAgainstLshIndex]]'s probe, returning the verified PAIRS
    * (`bid`, `cid`, `jaccard`) instead of the per-doc verdict rollup —
    * the cluster-registry feed ([[Clusters.updateRegistry]] needs
    * every match, not just the min one) and the general "which
    * resident docs does each arrival match" surface. Same band scan,
    * same cap, same exact-Jaccard verification;
    * [[verdictsFromPairs]] over these pairs (population
    * [[shingledDocIds]]) reproduces the verdict form bit for bit
    * (spec-pinned). */
  def dedupPairsAgainstLshIndex(batch: DataFrame, path: String,
                                threshold: Double,
                                maxBucket: Option[Int] = None): DataFrame =
    indexProbe(batch, path, threshold, maxBucket)(verifiedPairsAgainstBands)

  /** [[saveLshIndex]]'s layout; `part` INT is the probe's DPP key. */
  private[graft] val LshArtifact = Artifact("LSH index", "saveLshIndex", "meta")(
    Table("bands", "doc_id BIGINT, band INT, bucket BIGINT, part INT", "part"),
    Table("docs", "doc_id BIGINT, sh ARRAY<BIGINT>"),
    Table("stats", "band INT, bucket BIGINT, n BIGINT, part INT", "part"),
    Table("meta", "k INT, bands INT, rows_per_band INT, n_bucket_parts INT"))

  /** (k, bands, rows_per_band, n_bucket_parts) from the index's meta. */
  private def readLshMeta(spark: org.apache.spark.sql.SparkSession,
                          path: String): (Int, Int, Int, Int) = {
    val m = LshArtifact.meta(spark, path)
    (m.getAs[Int]("k"), m.getAs[Int]("bands"), m.getAs[Int]("rows_per_band"),
      m.getAs[Int]("n_bucket_parts"))
  }

  /** Shared probe plumbing: rebuild guard, meta read, operand scans,
    * stats fast-path election. */
  private def indexProbe(batch: DataFrame, path: String, threshold: Double,
      maxBucket: Option[Int])(
      f: (DataFrame, DataFrame, DataFrame, Int, Int, Double, Option[Int],
          Int, Option[DataFrame]) => DataFrame): DataFrame = {
    val spark = batch.sparkSession
    // mid-rebuild tables may disagree with meta's partitioning — a
    // probe would silently join on the wrong `part` keys and MISS
    // duplicates; fail loudly instead (heal by re-running the rebuild)
    graft.sources.Rebuild.assertNotInflight(spark, path)
    val (k, bands, rpb, parts) = readLshMeta(spark, path)
    val stats =
      if (maxBucket.isDefined && lshStatsCommitted(spark, path))
        Some(LshArtifact("stats").read(spark, path))
      else None
    // the batch's shingle+signature subtree is referenced 4-5 times
    // downstream (probe buckets, candidate join, verification, verdict
    // population) and recomputed per reference — |batch| hashing each,
    // the cost the pre-r17 scaladoc pushed onto callers. cache(), NOT
    // localCheckpoint: a checkpoint's bare LogicalRDD defeats DPP's
    // selective-predicate/size heuristics and the band scan stops
    // pruning partitions (measured in the r17 probe: every checkpoint
    // variant loses `dynamicpruning`, cache keeps it — and the spec
    // pins it). The cache is lazily populated by the probe's first
    // consuming job and evicted by LRU or the caller's session
    // hygiene; each probe call builds its own entry, nothing persists
    // across runs. The size(sh)>0 predicate is re-asserted ABOVE the
    // cache: semantically idempotent (the frame was built under it),
    // but cache substitution turns the subtree into an InMemoryRelation
    // LEAF before optimization, and with no visible selective predicate
    // DPP stops pruning the band scan (spec-pinned `dynamicpruning`).
    val batchSig = minhashSignatures(batch, k, bands * rpb).cache()
      .where(size(col("sh")) > 0)
    f(LshArtifact("bands").read(spark, path), LshArtifact("docs").read(spark, path),
      batchSig, bands, rpb, threshold, maxBucket, parts, stats)
  }

  /** DuckDB oracle for [[incrementalLshDedup]]: the [[minhashLshSql]]
    * CTE chain up through `band`, roles split by `doc_id % batchMod`
    * (= 0 → batch, else corpus), the same corpus-side bucket cap, and
    * the same per-batch-doc left-join rollup. */
  def incrementalLshSql(k: Int, bands: Int, rowsPerBand: Int,
                        threshold: Double, batchMod: Int,
                        maxBucket: Option[Int]): String = {
    val capJoin = maxBucket.map(cap =>
      s"""JOIN (SELECT band, bucket FROM band WHERE doc_id % $batchMod <> 0
         |      GROUP BY 1, 2 HAVING COUNT(*) <= $cap) ok
         |  ON ok.band = b.band AND ok.bucket = b.bucket""".stripMargin)
      .getOrElse("")
    s"""${minhashBandCtes(k, bands, rowsPerBand)},
       |cand AS (
       |  SELECT DISTINCT b.doc_id AS bid, c.doc_id AS cid
       |  FROM band b JOIN band c
       |    ON c.band = b.band AND c.bucket = b.bucket
       |  $capJoin
       |  WHERE b.doc_id % $batchMod = 0 AND c.doc_id % $batchMod <> 0),
       |sz AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
       |inter AS (
       |  SELECT c.bid, c.cid, COUNT(*) AS inter
       |  FROM cand c
       |  JOIN sh a ON a.doc_id = c.bid
       |  JOIN sh b ON b.doc_id = c.cid AND b.h = a.h
       |  GROUP BY 1, 2),
       |verified AS (
       |  SELECT i.bid, i.cid
       |  FROM inter i
       |  JOIN sz s1 ON s1.doc_id = i.bid
       |  JOIN sz s2 ON s2.doc_id = i.cid
       |  WHERE CAST(inter AS DOUBLE) / (s1.sz + s2.sz - inter) >= $threshold),
       |matches AS (
       |  SELECT bid, COUNT(*) AS n_matches, MIN(cid) AS match_id
       |  FROM verified GROUP BY bid)
       |SELECT base.doc_id,
       |       COALESCE(m.n_matches, 0) AS n_matches,
       |       m.match_id,
       |       m.match_id IS NOT NULL AS is_dup
       |FROM (SELECT DISTINCT doc_id FROM sh WHERE doc_id % $batchMod = 0) base
       |LEFT JOIN matches m ON m.bid = base.doc_id
       |ORDER BY base.doc_id""".stripMargin
  }

  /** DuckDB oracle for the composed daily-increment LIFECYCLE (c6):
    * the [[incrementalLshSql]] probe unrolled over `nBatches`
    * successive batches against a GROWING corpus — corpus₀ = slice 0
    * of `doc_id % mod`, and after each batch `b` its survivors
    * (is_dup = false) join the corpus the next batch probes, exactly
    * what [[saveLshIndex]] → [[dedupAgainstLshIndex]] →
    * [[appendToLshIndex]] → [[compactLshBands]] does on disk. Output:
    * every batch's full probe result tagged with its batch number. */
  def incrementalLifecycleSql(k: Int, bands: Int, rowsPerBand: Int,
                              threshold: Double, mod: Int, nBatches: Int,
                              maxBucket: Int): String = {
    require(nBatches >= 1 && nBatches < mod,
      s"need 1..${mod - 1} batches for mod $mod slices")
    val steps = (1 to nBatches).map { b =>
      val prev = s"c${b - 1}"
      s"""cand$b AS (
         |  SELECT DISTINCT b.doc_id AS bid, c.doc_id AS cid
         |  FROM band b
         |  JOIN band c ON c.band = b.band AND c.bucket = b.bucket
         |  JOIN $prev pc ON pc.doc_id = c.doc_id
         |  JOIN (SELECT c.band, c.bucket FROM band c
         |        JOIN $prev pc ON pc.doc_id = c.doc_id
         |        GROUP BY 1, 2 HAVING COUNT(*) <= $maxBucket) ok
         |    ON ok.band = b.band AND ok.bucket = b.bucket
         |  WHERE b.doc_id % $mod = $b),
         |inter$b AS (
         |  SELECT c.bid, c.cid, COUNT(*) AS inter
         |  FROM cand$b c
         |  JOIN sh a ON a.doc_id = c.bid
         |  JOIN sh b2 ON b2.doc_id = c.cid AND b2.h = a.h
         |  GROUP BY 1, 2),
         |verified$b AS (
         |  SELECT i.bid, i.cid
         |  FROM inter$b i
         |  JOIN sz s1 ON s1.doc_id = i.bid
         |  JOIN sz s2 ON s2.doc_id = i.cid
         |  WHERE CAST(inter AS DOUBLE) / (s1.sz + s2.sz - inter) >= $threshold),
         |probe$b AS (
         |  SELECT base.doc_id,
         |         COALESCE(m.n_matches, 0) AS n_matches,
         |         m.match_id,
         |         m.match_id IS NOT NULL AS is_dup
         |  FROM (SELECT DISTINCT doc_id FROM sh WHERE doc_id % $mod = $b) base
         |  LEFT JOIN (SELECT bid, COUNT(*) AS n_matches, MIN(cid) AS match_id
         |             FROM verified$b GROUP BY bid) m ON m.bid = base.doc_id),
         |c$b AS (SELECT doc_id FROM $prev UNION ALL
         |        SELECT doc_id FROM probe$b WHERE NOT is_dup)""".stripMargin
    }
    val union = (1 to nBatches)
      .map(b => s"SELECT $b AS batch, doc_id, n_matches, match_id, is_dup " +
        s"FROM probe$b")
      .mkString("\nUNION ALL\n")
    s"""${minhashBandCtes(k, bands, rowsPerBand)},
       |sz AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
       |c0 AS (SELECT DISTINCT doc_id FROM sh WHERE doc_id % $mod = 0),
       |${steps.mkString(",\n")}
       |SELECT batch, doc_id, n_matches, match_id, is_dup FROM (
       |$union
       |) r ORDER BY batch, doc_id""".stripMargin
  }

  // ------------------------------------- components / survivor pick

  /** Connected components over a near-dup pair graph — the step that
    * turns pairwise matches into dedup clusters (one survivor each).
    * HashMin label propagation: every node starts as its own label and
    * takes the min label among itself and its neighbors each round;
    * converges in O(component diameter) rounds, each a plain
    * shuffle-bounded join+groupBy — the standard big-graph CC that needs
    * no adjacency in memory. Near-dup graphs are overwhelmingly tiny
    * cliques, so rounds ≈ 2-3 in practice; `maxIter` bounds pathology.
    *
    * Input columns (`id1`,`id2`); output (`id`,`comp`) with comp = min
    * node id in the component, covering only ids that appear in pairs. */
  /** @param pointerJumping add a path-doubling round after EVERY edge
    *   propagation from round 0: labels chase their own label's label
    *   (comp ← min(comp, comp(comp))), so convergence needs
    *   O(log diameter) rounds instead of O(diameter) — the standard
    *   escape hatch for DEEP pair graphs (long chains), at the price of
    *   one extra label-size join per round. Near-dup graphs are shallow
    *   cliques, so the default keeps the cheaper pure-HashMin loop for
    *   the first max(4, maxIter/3) rounds and switches the jump on
    *   adaptively only if those didn't converge — deep graphs still
    *   finish inside maxIter (doubling reach covers diameter 2^remaining)
    *   without shallow callers ever paying for it. */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20,
                          broadcastNodeLimit: Long = 4000000L,
                          assumeDistinctPairs: Boolean = false,
                          pointerJumping: Boolean = false): DataFrame = {
    // cache the DIRECTED pairs before doubling: both union branches
    // reference the pair subtree, which is typically the expensive part
    // of the whole job (an LSH candidate join, a sampled cross join) —
    // without the cache it executes twice inside the edges
    // materialization. Released as soon as edges itself is cached.
    val e = pairs.select(col("id1").as("src"), col("id2").as("dst")).cache()
    // duplicate edges are harmless to the min-aggregate (idempotent) but
    // cost every round's join; dedup once up front — unless the caller
    // guarantees unique pairs, which this library's own producers do
    // (d3 dropDuplicates, d4 first-band filter, d5 strict id1<id2), in
    // which case the extra setup shuffle is pure overhead
    val undirected = e.union(e.select(col("dst"), col("src")))
    val edges = (if (assumeDistinctPairs) undirected
                 else undirected.distinct()).cache()
    // localCheckpoint (not cache) for the ITERATED relation: each round
    // references the previous labels twice (union + join), so without
    // lineage truncation the logical plan doubles per round — 2^rounds
    // analysis blowup that OOMs the driver near round ~12. Checkpointing
    // materializes eagerly and cuts the plan back to a leaf every round;
    // edges is referenced once per round, so a plain cache suffices there.
    //
    // Fused first round: against identity labels (comp = id), the
    // propagation join is the identity map — round 1's fixpoint value
    // is just min(id, min neighbor id), computable straight off the
    // edge list. Starting the iteration there saves the separate
    // init-labels distinct, its checkpoint, and one full
    // join+aggregate round — the loop below then only runs the rounds
    // that actually move labels across >1 hop.
    var labels = edges.select(col("src").as("id"), col("dst").as("comp"))
      .union(edges.select(col("src").as("id"), col("src").as("comp")))
      .groupBy(col("id")).agg(min(col("comp")).as("comp"))
      .localCheckpoint()
    e.unpersist() // edges is materialized now; the pair subtree ran once
    def propagate(small: Boolean)(l: DataFrame, jump: Boolean): DataFrame = {
      val edgeMin = l.union(edges
          .join(if (small) broadcast(l.withColumnRenamed("id", "dst"))
                else l.withColumnRenamed("id", "dst"), Seq("dst"))
          .select(col("src").as("id"), col("comp")))
        .groupBy(col("id")).agg(min(col("comp")).as("comp"))
      if (!jump) edgeMin
      else {
        // comp ← min(comp, comp's own comp): reach doubles per round
        val parents = edgeMin.select(col("id").as("pid"), col("comp").as("pcomp"))
        edgeMin.join(
            if (small) broadcast(parents) else parents,
            col("comp") === col("pid"), "left_outer")
          .select(col("id"),
            least(col("comp"), coalesce(col("pcomp"), col("comp"))).as("comp"))
      }
    }
    // convergence via a potential function instead of a per-round join:
    // labels only ever DECREASE under HashMin, so Σcomp strictly drops
    // on any change and the fixpoint is exactly "sum unchanged". One
    // aggregate per round (which doubles as the cache materializer) —
    // at scale this removes a full join stage from every iteration.
    def compSum(l: DataFrame): (java.math.BigDecimal, Long) = {
      // cast BEFORE summing: ids may be 64-bit hash fingerprints, and a
      // LongType sum of those overflows (ANSI throw / silent wrap —
      // either corrupts the fixpoint check); decimal(38,0) partials
      // cannot overflow any realistic |V|
      val r = l.agg(sum(col("comp").cast("decimal(38,0)")), count(lit(1))).head()
      val d = r.getDecimal(0)
      (if (d == null) java.math.BigDecimal.ZERO else d, r.getLong(1)) // null: empty pair graph
    }
    // one aggregate delivers the initial potential AND the node count
    // (which decides label broadcasting — the label table is |V| rows,
    // tiny next to |E| for near-dup graphs; when it fits a broadcast,
    // every round drops from two shuffles to one, the same runtime
    // small-side decision AQE makes for static joins)
    var (prevSum, nNodes) = compSum(labels)
    val prop = propagate(nNodes <= broadcastNodeLimit) _
    var iter = 0
    var converged = false
    // Adaptive depth escape: pure HashMin moves labels ONE hop per
    // round, so a legitimately deep pair graph (chained near-dups — at
    // corpus scale a 10% mutate-a-previous-doc rate builds chains
    // hundreds long) would hit maxIter. Rather than force every shallow
    // clique graph to pay pointer jumping's extra label join, switch
    // the jump on mid-loop once the cheap mode has demonstrably not
    // finished: the remaining rounds then double reach (comp chases
    // comp(comp)), so maxIter=20 covers diameters past 2^12 instead
    // of 20. Shallow graphs (the overwhelming case) converge in 2-3
    // rounds and never reach the switch.
    val jumpAfter = if (pointerJumping) 0 else math.max(4, maxIter / 3)
    while (!converged && iter < maxIter) {
      // one propagation round per convergence check: near-dup graphs
      // are shallow (diameter 2-3), so the check converges after ~3
      // rounds — batching rounds between checks was measured slower
      // (extra propagations cost more than the checks they save)
      val next = prop(labels, iter >= jumpAfter).localCheckpoint()
      val (s, _) = compSum(next)
      converged = s.compareTo(prevSum) == 0
      prevSum = s
      // superseded checkpoint blocks are released by the ContextCleaner
      // once the old frame is unreferenced (unpersist doesn't apply)
      labels = next
      iter += 1
    }
    edges.unpersist()
    // a silent stop would return half-propagated labels that diverge
    // from the d7 recursive-CTE oracle fixpoint; with the adaptive jump
    // this now needs a component deeper than ~2^(maxIter - jumpAfter).
    // The message reports whether any jump round actually ran: a
    // maxIter <= jumpAfter caller never engaged the jump and should
    // raise maxIter past it, not conclude path doubling is exhausted.
    if (!converged) throw new IllegalStateException(
      s"connected components did not converge in $maxIter rounds " +
        (if (iter > jumpAfter) "even with path doubling engaged"
         else s"and path doubling never engaged (maxIter <= jumpAfter=$jumpAfter)") +
        "; raise maxIter")
    labels
  }

  /** Survivor selection — the step after [[connectedComponents]]: per
    * near-dup cluster keep the best member (highest `quality`, ties to
    * the lowest id). One window pass over (component ⋈ quality);
    * shuffles on the component key only.
    *
    * `components`: (`id`, `comp`); `quality`: (`id`, `quality`).
    * Output: (`comp`, `n_members`, `survivor`). */
  def survivors(components: DataFrame, quality: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("comp"))
      .orderBy(desc("quality"), col("id"))
    components.join(quality, Seq("id"))
      .withColumn("rn", row_number().over(w))
      .groupBy(col("comp"))
      .agg(count(lit(1)).as("n_members"),
        max(when(col("rn") === 1, col("id"))).as("survivor"))
      .orderBy(col("comp"))
  }

  /** c8: near-dup clusters with LM-QUALITY survivor selection — the
    * c2 pipeline's cluster stage composed with the add-½ [[LmScore.score]]
    * as the keep rule: per cluster, keep the most FLUENT member
    * (lowest mean bigram surprisal, ties to the lowest id) instead of
    * c2's longest-text proxy — the CCNet-style refinement where the
    * LM, not a length heuristic, decides which near-duplicate copy
    * enters the training set. Returns one row per cluster:
    * (comp, n_members, survivor, survivor_surprisal).
    *
    * Scale shape: identical to [[dedupPipelineSummary]] through the
    * components stage (pairs never outlive the CC loop); the LM score
    * adds one corpus-read train pass + one scoring pass (count tables
    * checkpointed — see [[LmScore.train]]), and the survivor
    * pick stays one window pass shuffling on the component key.
    *
    * Membership caveat (inherited by the target-LM variant): a bigram
    * LM has no estimate for sub-2-token texts, so cluster members with
    * no score row drop out of the INNER member⋈score join —
    * `n_members` counts SCORED members, and a cluster whose members
    * are all sub-2-token emits no row. The SQL twin replays the same
    * inner join, so the rule is cross-engine pinned rather than
    * accidental; callers needing every member LEFT-join the cluster
    * table ([[connectedComponents]]) themselves.
    *
    * Design caveat: train = score = the dedup input means every
    * near-dup copy inflates its own phrasing's counts — the keep rule
    * leans toward the MOST-duplicated text, backwards for a quality
    * prior. CCNet scores against a TARGET-domain LM;
    * [[lmSurvivorClustersAgainstLm]] is that form. This one stays as
    * the self-contained (no artifact) variant with a closed-form
    * single-relation oracle. */
  def lmSurvivorClusters(docs: DataFrame, k: Int, bands: Int,
                         rowsPerBand: Int, threshold: Double): DataFrame =
    lmSurvivorsWith(docs,
      LmScore.score(LmScore.train(SurvivorLm, docs), docs), k, bands,
      rowsPerBand, threshold)

  /** c9: [[lmSurvivorClusters]] scored against a PERSISTED
    * target-domain LM ([[LmScore.save]]) — the CCNet-faithful form:
    * the keep rule measures fluency under a reference corpus (e.g.
    * Wikipedia), not under the duplicate-laden corpus being deduped,
    * so a 10 000-copy boilerplate cluster cannot vote its own phrasing
    * into the training set. Same cluster stage, same tie rules; only
    * the LM the surprisal comes from changes
    * ([[LmScore.load]] — one pruned read of the saved bigram/unigram
    * tables, broadcast when the vocab fits). The model at `lmPath` is
    * the global add-½ spec. */
  def lmSurvivorClustersAgainstLm(docs: DataFrame,
                                  spark: org.apache.spark.sql.SparkSession,
                                  lmPath: String, k: Int, bands: Int,
                                  rowsPerBand: Int, threshold: Double): DataFrame =
    lmSurvivorsWith(docs,
      LmScore.score(LmScore.load(spark, SurvivorLm, lmPath), docs),
      k, bands, rowsPerBand, threshold)

  /** The survivor rule's LM: one global add-½ bigram model. */
  private val SurvivorLm =
    LmScore.LmSpec(LmScore.Smoothing.AddHalf, perLang = false)

  /** Shared cluster-then-pick body of the two lm-survivor entry points:
    * LSH pairs → connected components → lowest-surprisal member (ties
    * to the lowest id), one row per scored cluster. */
  private def lmSurvivorsWith(docs: DataFrame, scored0: DataFrame, k: Int,
                              bands: Int, rowsPerBand: Int,
                              threshold: Double): DataFrame = {
    val withSig = minhashSignatures(docs, k, bands * rowsPerBand).cache()
    val pairs = minhashLshPairsFromSig(withSig, bands, rowsPerBand, threshold)
      .select(col("id1"), col("id2"))
    val comps =
      try connectedComponents(pairs, assumeDistinctPairs = true)
      finally withSig.unpersist()
    // pin the per-doc scores: the frame feeds BOTH the keep rule and
    // the survivor-score join, and only the LM's count table is
    // checkpointed inside the scorer — unpinned, the whole scoring
    // subtree (corpus bigram stream ⋈ model ⋈ backoff + per-doc sum)
    // executes once per consumer, the same once-per-branch pathology
    // the LmScore.train comment documents. The table is |docs| rows of
    // four fixed-width columns.
    val scored = scored0.localCheckpoint()
    val quality = scored.select(col("doc_id").as("id"),
      (-col("surprisal")).as("quality"))
    survivors(comps, quality)
      .join(scored.select(col("doc_id").as("survivor"),
        col("surprisal").as("survivor_surprisal")), Seq("survivor"))
      .select(col("comp"), col("n_members"), col("survivor"),
        col("survivor_surprisal"))
      .orderBy(col("comp"))
  }

  /** DuckDB oracle for [[lmSurvivorClusters]] — c2's pair/walk chain +
    * q5's scored chain + the same (-surprisal DESC, id) pick. */
  def lmSurvivorClustersSql(k: Int, bands: Int, rowsPerBand: Int,
                            threshold: Double): String =
    lmSurvivorsSqlWith(LmScore.surprisalSql("documents"),
      k, bands, rowsPerBand, threshold)

  /** DuckDB oracle for [[lmSurvivorClustersAgainstLm]]: identical
    * chain, but the `scored` CTE trains on `trainFrom` (the relation /
    * aliased subquery the persisted LM was built from) and scores
    * `documents` — [[LmScore.surprisalTrainScoreSql]]. DuckDB cannot
    * read the runtime scratch path the Spark side persists to, so the
    * twin re-derives the SAME deterministic model from the same train
    * slice; save-then-load ≡ in-memory train is separately pinned by
    * LmScoreSpec. */
  def lmSurvivorClustersAgainstLmSql(trainFrom: String, k: Int, bands: Int,
                                     rowsPerBand: Int,
                                     threshold: Double): String =
    lmSurvivorsSqlWith(
      LmScore.surprisalTrainScoreSql(trainFrom, "documents"),
      k, bands, rowsPerBand, threshold)

  private def lmSurvivorsSqlWith(scoredCtes: String, k: Int, bands: Int,
                                 rowsPerBand: Int,
                                 threshold: Double): String =
    s"""WITH RECURSIVE pairs AS (
       |${minhashLshSql(k, bands, rowsPerBand, threshold)}),
       |edges AS (SELECT id1 AS src, id2 AS dst FROM pairs
       |          UNION SELECT id2, id1 FROM pairs),
       |walk(id, comp) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.src, w.comp FROM edges e JOIN walk w ON w.id = e.dst),
       |comps AS (SELECT id, MIN(comp) AS comp FROM walk GROUP BY id),
       |$scoredCtes,
       |r AS (
       |  SELECT c.comp, c.id, s.surprisal,
       |         ROW_NUMBER() OVER (PARTITION BY c.comp
       |           ORDER BY -s.surprisal DESC, c.id) AS rn
       |  FROM comps c JOIN scored s ON s.doc_id = c.id)
       |SELECT comp, CAST(COUNT(*) AS BIGINT) AS n_members,
       |       MAX(CASE WHEN rn = 1 THEN id END) AS survivor,
       |       MAX(CASE WHEN rn = 1 THEN surprisal END) AS survivor_surprisal
       |FROM r GROUP BY comp ORDER BY comp""".stripMargin

  // ------------------------------------- composed dedup pipeline (c2)

  /** The whole dedup story as ONE operator — the 100 TB near-dup
    * pipeline end to end: MinHash-LSH candidates ([[minhashLshPairs]])
    * → connected components ([[connectedComponents]]) → best-member
    * survivor per cluster ([[survivors]], quality = text length) →
    * survivor-only corpus rollup. Returns one row:
    * (n_docs, n_clustered, n_clusters, n_removed, n_kept, kept_chars).
    *
    * Scale shape: pairs exist only long enough to become component
    * labels — the iterative CC loop consumes them and checkpoints the
    * (id, comp) table, so the final rollup plan starts from that leaf
    * and joins documents on the doc key; the pair relation never
    * materializes past the components stage (plan-asserted in
    * PlanSpec). Everything downstream of CC is doc-keyed: one window
    * pass for survivors, one left join + aggregate for the rollup. */
  def dedupPipelineSummary(docs: DataFrame, k: Int, bands: Int,
                           rowsPerBand: Int, threshold: Double): DataFrame = {
    // scope-bounded signature cache: the LSH plan reads the signature
    // frame three times, and connectedComponents consumes the pairs
    // EAGERLY (checkpointed labels), so the cache lives exactly one
    // pipeline stage and is released deterministically — unlike the
    // lazy minhashLshPairs surface, which must stay uncached
    val withSig = minhashSignatures(docs, k, bands * rowsPerBand).cache()
    val pairs = minhashLshPairsFromSig(withSig, bands, rowsPerBand, threshold)
      .select(col("id1"), col("id2"))
    val comps =
      try connectedComponents(pairs, assumeDistinctPairs = true)
      finally withSig.unpersist()
    val quality = docs.select(col("doc_id").as("id"),
      length(col("text")).cast("long").as("quality"))
    val surv = survivors(comps, quality)
    docs.select(col("doc_id"), length(col("text")).cast("long").as("chars"))
      .join(comps.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left_outer")
      .join(surv.select(col("survivor").as("doc_id"), lit(true).as("is_surv")),
        Seq("doc_id"), "left_outer")
      .withColumn("removed", col("comp").isNotNull && col("is_surv").isNull)
      .agg(
        count(lit(1)).as("n_docs"),
        count(col("comp")).as("n_clustered"),
        countDistinct(col("comp")).as("n_clusters"),
        sum(when(col("removed"), 1L).otherwise(0L)).as("n_removed"),
        sum(when(!col("removed"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(!col("removed"), col("chars")).otherwise(0L)).as("kept_chars"))
  }

  /** DuckDB oracle for [[dedupPipelineSummary]]: the full pipeline in
    * SQL — the [[minhashLshSql]] candidate query as a nested CTE, the
    * recursive-CTE reachability fixpoint HashMin converges to, the same
    * (quality desc, id) survivor pick, the same survivor-only rollup. */
  def dedupPipelineSql(k: Int, bands: Int, rowsPerBand: Int,
                       threshold: Double): String =
    s"""WITH RECURSIVE pairs AS (
       |${minhashLshSql(k, bands, rowsPerBand, threshold)}),
       |edges AS (SELECT id1 AS src, id2 AS dst FROM pairs
       |          UNION SELECT id2, id1 FROM pairs),
       |walk(id, comp) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.src, w.comp FROM edges e JOIN walk w ON w.id = e.dst),
       |comps AS (SELECT id, MIN(comp) AS comp FROM walk GROUP BY id),
       |q AS (SELECT doc_id AS id, length(text) AS quality FROM documents),
       |r AS (
       |  SELECT c.comp, c.id,
       |         ROW_NUMBER() OVER (PARTITION BY c.comp
       |                            ORDER BY q.quality DESC, c.id) AS rn
       |  FROM comps c JOIN q USING (id)),
       |surv AS (SELECT comp, MAX(CASE WHEN rn = 1 THEN id END) AS survivor
       |         FROM r GROUP BY comp),
       |flags AS (
       |  SELECT d.doc_id, c.comp,
       |         c.comp IS NOT NULL AND
       |           d.doc_id NOT IN (SELECT survivor FROM surv) AS removed,
       |         length(d.text) AS chars
       |  FROM documents d LEFT JOIN comps c ON c.id = d.doc_id)
       |SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       |       CAST(COUNT(comp) AS BIGINT) AS n_clustered,
       |       CAST((SELECT COUNT(*) FROM surv) AS BIGINT) AS n_clusters,
       |       CAST(SUM(CASE WHEN removed THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
       |       CAST(SUM(CASE WHEN NOT removed THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |       CAST(SUM(CASE WHEN NOT removed THEN chars ELSE 0 END) AS BIGINT) AS kept_chars
       |FROM flags""".stripMargin

  // -------------------------------------------------- decontamination

  /** Benchmark-contamination check: for each document in the benchmark
    * cohort, the fraction of its k-shingles that appear ANYWHERE in the
    * rest of the corpus (containment). High containment = the benchmark
    * text leaked into the training set — the decontamination signal.
    * Long shingles (k=8 default) are the standard anti-false-positive
    * choice. Shuffle-bounded: a distinct corpus shingle-hash set
    * semi-joined to the benchmark's shingles — never doc×doc pairs. */
  def contamination(docs: DataFrame, benchPred: Column, k: Int = 8): DataFrame = {
    val withSh = docs.select(col("doc_id"), benchPred.as("is_bench"),
        shingleHashCol(k).as("h"))
      .dropDuplicates("doc_id", "h")
    val corpus = withSh.where(!col("is_bench"))
      .select(col("h")).distinct()
    containmentScores(withSh.where(col("is_bench")), corpus)
  }

  /** The containment-score tail every decontamination form shares:
    * per scored doc, the fraction of its distinct k-shingle hashes
    * present in `hitHashes`. ONE definition on purpose — [[contamination]],
    * [[bloomContamination]] and [[decontaminateAgainstDeconIndex]] all
    * promise bit-identical scores to their oracle twins, which only
    * holds while the aggregate arithmetic cannot drift between them. */
  private def containmentScores(perDocShingles: DataFrame,
                                hitHashes: DataFrame): DataFrame =
    perDocShingles
      .join(hitHashes.select(col("h")).withColumn("_hit", lit(true)),
        Seq("h"), "left_outer")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        count(col("_hit")).as("n_hit"))
      .withColumn("containment",
        col("n_hit").cast("double") / col("n_shingles"))
      .orderBy(col("doc_id"))

  /** [[contamination]] with a broadcast-Bloom prefilter on the corpus
    * side — SAME exact output (the caller can diff the two frames), a
    * different 100 TB plan.
    *
    * Where the plain form hurts at scale: it `distinct()`s EVERY corpus
    * shingle hash — a full shuffle of the corpus's shingle stream
    * (trillions of rows at 100 TB) — even though only hashes that also
    * occur in the (comparatively tiny) benchmark can ever contribute to
    * a containment score. This form builds a Bloom filter over the
    * benchmark's distinct hashes (`df.stat.bloomFilter` — a distributed
    * treeAggregate; only the ~9.6-bits-per-key filter itself lands on
    * the driver) and probes it INSIDE the corpus scan stage via the
    * native codegen [[graft.functions.BloomMightContainLong]], so
    * non-matching shingles die before the first exchange. The corpus
    * shuffle shrinks from |corpus shingles| to |bench shingles| + the
    * false-positive trickle (fpp-controlled); the survivors then
    * confirm against the real benchmark hash set with an exact
    * semi-join, which kills every false positive — exactness never
    * depends on the filter, only the pruning does. vs a broadcast
    * semi-join of the bench hashes: same plan shape, but a bloom holds
    * ~25x more keys per byte than a join hash relation, which is what
    * keeps the prefilter broadcastable when the benchmark suite has
    * 100M+ shingles. */
  def bloomContamination(docs: DataFrame, benchPred: Column, k: Int = 8,
      fpp: Double = 0.01): DataFrame = {
    val withSh = docs.select(col("doc_id"), benchPred.as("is_bench"),
        shingleHashCol(k).as("h"))
      .dropDuplicates("doc_id", "h")
    // the benchmark side is small by definition (a benchmark suite vs a
    // corpus) and is consumed three times (count, bloom build, final
    // join) — pin it once instead of re-scanning the corpus per use
    val bench = withSh.where(col("is_bench"))
      .select(col("doc_id"), col("h")).localCheckpoint()
    val benchHashes = bench.select(col("h")).distinct()
    val nBench = math.max(benchHashes.count(), 1L)
    val bloom = benchHashes.stat.bloomFilter("h", nBench, fpp)
    val bytes = { val bo = new java.io.ByteArrayOutputStream()
      bloom.writeTo(bo); bo.toByteArray }
    val corpus = withSh.where(!col("is_bench")).select(col("h"))
      // map-side prune BELOW the distinct's exchange: only hashes that
      // might exist in the benchmark reach the shuffle
      .where(graft.functions.BloomExprs.mightContainLong(col("h"), bytes))
      .distinct()
      // exact confirm: false positives die here, so the output is
      // bit-identical to [[contamination]] at any fpp
      .join(benchHashes, Seq("h"), "left_semi")
    containmentScores(bench, corpus)
  }

  // --------------------- persisted decontamination index (d15)

  /** Persist a benchmark DECONTAMINATION index — the [[saveLshIndex]]
    * production shape applied to decontamination: benchmark suites are
    * STATIC while the corpus arrives daily, so the benchmark's
    * distinct k-shingle hash set is built ONCE and every arriving
    * batch probes it, paying |batch| work instead of re-shingling the
    * benchmark per check ([[bloomContamination]]'s in-memory form
    * recomputes both sides every call). Layout: `hashes/` — the
    * exact-confirm store, hash-partitioned (`part = pmod(h, n)`) so a
    * probe's confirm join is a DPP-pruned scan; `bloom/` — the
    * serialized driver Bloom over the same hashes (the codegen
    * prefilter that kills non-matching batch shingles below the first
    * exchange); `meta/` — (k, fpp, n_hashes, n_hash_parts). The whole
    * artifact is staged and installed as ONE [[graft.sources.TableSwap]]
    * root swap: a FIRST save appears atomically (a single rename), and
    * a RE-save (updated benchmark suite) never tears the live index —
    * the in-place alternative would leave the OLD meta standing as a
    * valid commit over new hashes with a stale bloom, whose false
    * negatives the exact confirm join cannot repair (a bloom's
    * no-false-negative guarantee only holds against the set it was
    * built from). Crash-safe by re-run: the next save heals staged
    * leftovers via [[graft.sources.TableSwap.recover]]; a probe racing
    * the swap's rename window fails loudly on the missing meta rather
    * than reading torn state. Exactness never depends on the bloom
    * (the confirm join owns it — spec-pinned at fpp = 0.5). */
  def saveDeconIndex(benchmark: DataFrame, k: Int, path: String,
                     fpp: Double = 0.01, nHashParts: Int = 64): Unit = {
    val spark = benchmark.sparkSession
    import spark.implicits._
    val fs = graft.sources.Hdfs.forPath(spark, path)
    val root = new org.apache.hadoop.fs.Path(path)
    val (parent, name) = (root.getParent.toString, root.getName)
    graft.sources.TableSwap.recover(fs, parent, name)
    // consumed three times (count, bloom build, write) — pin the
    // shingled frame, release before returning
    val hashes = benchmark.select(shingleHashCol(k).as("h"))
      .distinct()
      .withColumn("part", pmod(col("h"), lit(nHashParts)))
      .cache()
    try {
      // n_hashes records the TRUE count (0 for an unshingleable
      // benchmark — every doc shorter than k tokens); only the bloom
      // sizing needs the >=1 clamp
      val n = hashes.count()
      val bytes = deconBloomBytes(hashes, n, fpp)
      // verdict-relevant content digest rides in meta so the per-batch
      // fingerprint never has to rescan the store
      val digest = deconContentDigest(hashes)
      graft.sources.TableSwap.rewrite(spark, fs, parent, name) { tmp =>
        DeconArtifact("hashes").writer(hashes).mode("overwrite")
          .parquet(DeconArtifact("hashes").at(tmp))
        DeconArtifact("bloom").writeRow(spark, DeconArtifact("bloom").at(tmp), bytes)
        DeconArtifact("meta").writeRow(spark, DeconArtifact("meta").at(tmp), k,
          fpp, n, nHashParts, digest, bloomBytesDigest(bytes))
      }
    } finally hashes.unpersist()
  }

  /** [[saveDeconIndex]]'s layout. `part` is stated BIGINT (directory
    * inference reads INT): `pmod` of the BIGINT hash, and the probe's
    * in-list holds longs. A legacy 4-column meta reads NULL digests. */
  private[graft] val DeconArtifact =
    Artifact("decontamination index", "saveDeconIndex", "meta")(
      Table("hashes", "h BIGINT, part BIGINT", "part"),
      Table("bloom", "bloom BINARY"),
      Table("meta", "k INT, fpp DOUBLE, n_hashes BIGINT, n_hash_parts INT, " +
        "content_digest BIGINT, bloom_digest BIGINT"))

  /** The bloom sidecar's serialized bytes. */
  private[graft] def readDeconBloom(spark: org.apache.spark.sql.SparkSession,
                                    path: String): Array[Byte] =
    DeconArtifact("bloom").read(spark, path).head().getAs[Array[Byte]]("bloom")

  /** Bloom sizing/serialization shared by [[saveDeconIndex]] and
    * [[rebuildDeconBloom]] — `stat.bloomFilter` NPEs on an empty
    * frame (null treeAggregate buffer), so an unshingleable benchmark
    * gets the explicit empty filter. */
  private def deconBloomBytes(hashes: DataFrame, n: Long,
                              fpp: Double): Array[Byte] = {
    val bloom =
      if (n == 0) org.apache.spark.util.sketch.BloomFilter.create(1, fpp)
      else hashes.stat.bloomFilter("h", n, fpp)
    val bo = new java.io.ByteArrayOutputStream()
    bloom.writeTo(bo)
    bo.toByteArray
  }

  /** Re-derive a decon index's bloom sidecar (and meta's recorded
    * hash count) from its own hash store — the heal for a damaged,
    * unreadable, or stale bloom. The hash store is the source of
    * truth (the confirm join owns exactness against false POSITIVES;
    * false NEGATIVES are what the heal repairs), so a rebuilt bloom is
    * correct by construction. Crash-safe by re-run: bloom swaps before
    * meta, and a crash between the two leaves a VALID new bloom under
    * the old meta. When the store was unchanged (the damaged-sidecar
    * heal) the rebuilt bloom is byte-identical to the one old meta's
    * `bloom_digest` records, so probes keep serving through the
    * window; when the store drifted, probes REFUSE (digest mismatch)
    * until the next tick re-trips and finishes the meta rewrite —
    * loud, never a silent false-negative serve. Returns the true hash
    * count. */
  def rebuildDeconBloom(spark: org.apache.spark.sql.SparkSession,
                        path: String): Long = {
    val fs = graft.sources.Hdfs.forPath(spark, path)
    // leftovers of a crashed PRIOR bloom rebuild first
    graft.sources.TableSwap.recover(fs, path, "bloom")
    graft.sources.TableSwap.recover(fs, path, "meta")
    val m = DeconArtifact.meta(spark, path)
    val hashes = DeconArtifact("hashes").read(spark, path)
    rebuildDeconBloomAs(spark, path, m.getAs[Int]("k"),
      m.getAs[Double]("fpp"), m.getAs[Int]("n_hash_parts"), hashes,
      hashes.count())
  }

  /** [[rebuildDeconBloom]] with the meta row and hash count already in
    * hand — the nightly cron has just read both for its tripwire, and
    * re-reading a store it scanned moments ago is wasted I/O. */
  private[graft] def rebuildDeconBloomAs(
      spark: org.apache.spark.sql.SparkSession, path: String,
      k: Int, fpp: Double, parts: Int, hashes: DataFrame, n: Long): Long = {
    val fs = graft.sources.Hdfs.forPath(spark, path)
    val bytes = deconBloomBytes(hashes, n, fpp)
    // recomputed from the store, so a heal is digest-IDENTICAL to the
    // original save (same hash set ⇒ same digest) and also migrates
    // legacy pre-digest indexes to the persisted-column layout
    val digest = deconContentDigest(hashes)
    graft.sources.TableSwap.rewrite(spark, fs, path, "bloom")(
      DeconArtifact("bloom").writeRow(spark, _, bytes))
    graft.sources.TableSwap.rewrite(spark, fs, path, "meta")(
      DeconArtifact("meta").writeRow(spark, _, k, fpp, n, parts, digest,
        bloomBytesDigest(bytes)))
    n
  }

  /** FNV-1a 64 fold over little-endian long words — the one mixer the
    * decon content digest and fingerprint share. */
  private def fnvMix(vs: Long*): Long = {
    var h = graft.functions.ShingleHashes.FnvOffset
    vs.foreach { v =>
      var i = 0
      while (i < 8) {
        h ^= (v >>> (i * 8)) & 0xffL
        h *= graft.functions.ShingleHashes.FnvPrime
        i += 1
      }
    }
    h
  }

  /** FNV-1a 64 over the serialized bloom bytes — persisted in meta as
    * `bloom_digest` at save/heal time and re-checked by every probe
    * (which already holds the bytes in driver memory), so a corrupt or
    * stale bloom sidecar refuses loudly instead of silently dropping
    * true contamination hits at the prefilter. */
  private def bloomBytesDigest(bytes: Array[Byte]): Long = {
    var h = graft.functions.ShingleHashes.FnvOffset
    var i = 0
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xffL)
      h *= graft.functions.ShingleHashes.FnvPrime
      i += 1
    }
    h
  }

  /** Order/partition-independent digest of a decon index's DISTINCT
    * shingle-hash set: two decorrelated xor folds (xor is the one
    * 64-bit reduction that is commutative, associative, and overflow-
    * free under ANSI arithmetic) plus the count, FNV-mixed. Computed
    * once at save time and persisted in meta as `content_digest`. */
  private def deconContentDigest(hashes: DataFrame): Long = {
    val r = hashes.agg(
      expr("bit_xor(h)"), expr("bit_xor(xxhash64(h))"),
      count(lit(1))).head()
    fnvMix(if (r.isNullAt(0)) 0L else r.getLong(0),
      if (r.isNullAt(1)) 0L else r.getLong(1),
      r.getLong(2))
  }

  /** Content fingerprint of a [[saveDeconIndex]] artifact, covering
    * EXACTLY the probe-verdict-relevant state: the shingle width `k`
    * and the distinct shingle-hash set (via the persisted
    * `content_digest` meta column). Tuning-only state is deliberately
    * excluded — verdicts are exact at any `fpp` (spec-pinned),
    * `n_hash_parts` is layout, and the bloom sidecar needs no coverage
    * here because every probe verifies it against meta's
    * `bloom_digest` before serving (a wrong bloom refuses, so no
    * verdict can ever be sealed through one) — a same-benchmark
    * re-save at different tuning keeps the fingerprint, as do
    * [[rebuildDeconBloom]] heals and byte-identical re-saves; any
    * benchmark content change flips it. Deliberately NOT an mtime
    * (coarse filesystem clocks misclassify — the `sources.Rebuild`
    * lesson). The value is version-prefixed (`v2...`) so a future
    * format change is distinguishable from a content change inside a
    * crash-replay window. Cost: one driver-side read of the 1-row meta
    * table; legacy indexes saved before the digest column (NULL
    * `content_digest`) fall back to one aggregation over the hash store
    * (the digest lands in meta at the next save, heal, or nightly
    * tick).
    * [[graft.streaming.DocStreams.processCurationBatch]] records it
    * next to each batch's sealed verdicts to catch the one operational
    * misuse its crash contract cannot survive: a benchmark re-save
    * inside a crash-replay window. */
  def deconIndexFingerprint(spark: org.apache.spark.sql.SparkSession,
                            path: String): String =
    fpFromMeta(spark, path, DeconArtifact.meta(spark, path))

  private def fpFromMeta(spark: org.apache.spark.sql.SparkSession,
                         path: String,
                         m: org.apache.spark.sql.Row): String = {
    val digest =
      if (!m.isNullAt(m.fieldIndex("content_digest")))
        m.getAs[Long]("content_digest")
      else deconContentDigest(DeconArtifact("hashes").read(spark, path))
    f"v2${fnvMix(m.getAs[Int]("k").toLong, digest)}%016x"
  }

  /** (fingerprint, meta token) from ONE read of the 1-row meta table —
    * the curation sink takes both at batch entry so they can never
    * describe different index states (a two-read formulation let a
    * re-save land between them, sealing the fingerprint marker for an
    * index the token bracket never saw). Fingerprint-only callers use
    * [[deconIndexFingerprint]], which skips the token's directory
    * listing. */
  private[graft] def deconIndexStamp(
      spark: org.apache.spark.sql.SparkSession,
      path: String): (String, String) = {
    val m = DeconArtifact.meta(spark, path)
    (fpFromMeta(spark, path, m), deconMetaToken(spark, path, m))
  }

  /** Opaque token over EVERY meta field (names and values) of a decon
    * index PLUS the meta directory's file names — the curation sink's
    * torn-probe tripwire. Unlike [[deconIndexFingerprint]], this
    * deliberately covers verdict-NEUTRAL state too: a tuning-only
    * re-save (say `n_hash_parts` 8 → 4) that root-swaps mid-probe
    * tears the probe itself — candidates carry `pmod(h, 8)` partitions
    * while the store scan lists the new 4-part layout, so the confirm
    * join misses most true hits. The file names (every parquet write
    * mints fresh UUID part names) make the token ABA-proof: two
    * re-saves inside one probe window that restore field-identical
    * meta still change it. Comparing the token before and after the
    * probe therefore detects ANY completed meta rewrite in the window
    * — a benchmark re-save, a bloom heal, or a legacy-meta migration
    * (NULL digests become values); the latter two are
    * fingerprint-stable, so the aborted batch's replay re-enters
    * cleanly. */
  private[graft] def deconMetaToken(spark: org.apache.spark.sql.SparkSession,
                                    path: String): String =
    deconMetaToken(spark, path, DeconArtifact.meta(spark, path))

  private def deconMetaToken(spark: org.apache.spark.sql.SparkSession,
                             path: String,
                             m: org.apache.spark.sql.Row): String = {
    val fs = graft.sources.Hdfs.forPath(spark, path)
    // a nightly hash-store compaction never touches meta, so the token
    // alone cannot see its per-partition rename swaps — the compactor
    // holds this marker instead, and the token read (both ends of the
    // sink's probe bracket) refuses while it is up
    assertDeconNotCompacting(fs, path)
    val files = fs.listStatus(new org.apache.hadoop.fs.Path(s"$path/meta"))
      .map(_.getPath.getName).sorted.mkString(",")
    m.schema.fieldNames.zip(m.toSeq)
      .map { case (n, v) => s"$n=$v" }.mkString(";") + "|" + files
  }

  /** Refuse to probe (or stamp) a decon index whose hash store is
    * being compacted: [[graft.operators.Maintenance]]'s nightly pass
    * seals `_compacting` before its first per-partition rename swap
    * and clears it after the swaps AND a fingerprint-stable meta bump
    * — a probe whose confirm scan lists a partition inside the
    * two-rename window reads ZERO rows for it and scores contaminated
    * docs clean, and the sink's meta token cannot catch that on its
    * own (compaction never rewrites meta). Between the marker (refuses
    * any probe overlapping the window at either end) and the meta bump
    * (fails the closing token check of a probe that spanned the WHOLE
    * window), every overlap shape aborts loudly and replays cleanly.
    * An orphaned marker (compaction crashed mid-swap) keeps refusing
    * until the next nightly run heals the store — loud until proven
    * whole, the same rule as the rebuild in-flight marker. */
  private[graft] def assertDeconNotCompacting(
      fs: org.apache.hadoop.fs.FileSystem, path: String): Unit =
    if (fs.exists(new org.apache.hadoop.fs.Path(s"$path/_compacting")))
      throw new IllegalStateException(
        s"decon index at $path is being compacted (_compacting marker " +
          "present): its hash partitions may be mid-swap and a probe " +
          "could read a partition as empty — retry after the nightly " +
          "maintenance pass completes (an orphaned marker means the " +
          "pass crashed; re-run Maintenance.nightly to heal)")

  /** Fingerprint-STABLE meta rewrite: same fields, same values, fresh
    * part-file names — bumps [[deconMetaToken]] without changing
    * [[deconIndexFingerprint]]. The nightly compactor calls this after
    * swapping hash partitions so a probe that spanned its entire
    * marker window (opened before the seal, closed after the clear —
    * the one shape the marker alone cannot see) still fails its
    * closing token check. Crash-safe via the meta [[TableSwap]]
    * protocol; the nightly's entry recovery heals a torn bump. */
  private[graft] def bumpDeconMeta(spark: org.apache.spark.sql.SparkSession,
                                   path: String): Unit = {
    val meta = DeconArtifact("meta")
    // the replacement is written (read from the live files) before the
    // swap stages the live table aside
    meta.rewrite(spark, path)(meta.read(spark, path).coalesce(1))
  }

  /** Probe a [[saveDeconIndex]] artifact with an arriving batch: per
    * batch doc (with a nonempty shingle set), the fraction of its
    * distinct k-shingles found in the benchmark — the containment
    * score [[contamination]] computes, roles swapped to the production
    * direction (score the ARRIVALS against the static benchmark). The
    * plan is the d12 shape against persisted state: the index's bloom
    * prunes batch shingles inside the scan stage, survivors confirm
    * by a left-semi join against the hash store's pruned partitions
    * (a static in-list over the batch's own candidate partitions —
    * spec-pinned), and false positives die at the confirm, so
    * the result equals the in-memory exact form bit for bit. */
  def decontaminateAgainstDeconIndex(batch: DataFrame,
                                     path: String): DataFrame = {
    val spark = batch.sparkSession
    // the hash store may be mid-compaction (partitions absent between
    // the compactor's two renames) — refuse rather than score torn.
    // PLAN-TIME check only: this operator returns a LAZY frame (its
    // plan is part of the contract — the partition-prune pin), so a
    // compaction STARTING after this line and before the caller
    // materializes can still tear the store scan. The curation sink
    // closes that with its stamp/token bracket around its own
    // materialization; unbracketed batch callers who may run
    // concurrently with Maintenance.nightly should use
    // [[decontaminateAgainstDeconIndexBracketed]] instead.
    assertDeconNotCompacting(graft.sources.Hdfs.forPath(spark, path), path)
    val m = DeconArtifact.meta(spark, path)
    val (k, parts) = (m.getAs[Int]("k"), m.getAs[Int]("n_hash_parts"))
    val bytes = readDeconBloom(spark, path)
    // a bloom with false negatives silently drops true contamination
    // hits at the prefilter (the confirm join can only veto false
    // POSITIVES), so a sidecar that does not match the digest meta
    // recorded at save/heal time must refuse, never serve — the bytes
    // are already in driver memory, so the check is free of extra I/O.
    // Legacy pre-digest metas (NULL digest) skip it (migrated at the
    // next save, heal, or nightly tick).
    if (!m.isNullAt(m.fieldIndex("bloom_digest")) &&
        m.getAs[Long]("bloom_digest") != bloomBytesDigest(bytes))
      throw new IllegalStateException(
        s"decon index at $path has a bloom sidecar that does not match " +
          "its meta's recorded bloom_digest — a corrupt or stale bloom " +
          "can silently miss contamination (false negatives). Heal with " +
          "rebuildDeconBloom or Maintenance.nightly before probing.")
    // consumed twice (the bloom/confirm hits subtree and the outer
    // containment join), and column pruning makes the two subtrees
    // unequal so ReuseExchange cannot collapse them — pin the shingled
    // batch once instead of shingling it twice per probe (the dominant
    // probe cost; same rule as bloomContamination's bench pin)
    val withSh = batch.select(col("doc_id"), shingleHashCol(k).as("h"))
      .dropDuplicates("doc_id", "h")
      .localCheckpoint()
    val candidates = withSh.select(col("h")).distinct()
      // map-side prune BELOW the distinct's exchange, as in d12
      .where(graft.functions.BloomExprs.mightContainLong(col("h"), bytes))
      .withColumn("part", pmod(col("h"), lit(parts)))
    // STATIC partition pruning on the confirm scan, driven by the
    // batch's own bloom-surviving hash partitions: <= nHashParts
    // values, a bounded driver aggregate over the PINNED frame (the
    // localCheckpoint hides the batch's selective source predicates
    // from Catalyst, so the DPP rule no longer fires on its own — the
    // explicit in-list is the same pruning, decided once instead of
    // re-derived per run)
    val candParts = candidates.select(col("part")).distinct()
      .collect().map(_.getLong(0)).toSeq
    // stated schema: an unshingleable benchmark's EMPTY store still
    // loads and scores everything clean
    val store = DeconArtifact("hashes").read(spark, path)
      .where(col("part").isin(candParts: _*))
    val hits = candidates.join(store, Seq("part", "h"), "left_semi")
      .select(col("h"))
    containmentScores(withSh, hits)
  }

  /** [[decontaminateAgainstDeconIndex]] under the FULL compaction
    * bracket, for batch callers that may run concurrently with
    * [[Maintenance.nightly]]: takes the meta token (which refuses on
    * the `_compacting` marker), MATERIALIZES the probe — its last
    * store read — and re-checks the token across it, so a compaction
    * overlapping the window at any point either trips the marker
    * assert or the closing token compare (the fingerprint-stable meta
    * bump makes even a whole-window-spanning overlap visible). This is
    * the curation sink's bracket packaged for standalone use; the
    * price is eagerness — the returned frame is checkpointed, its scan
    * plan already executed (callers pinning the pruned-scan plan use
    * the lazy form). */
  def decontaminateAgainstDeconIndexBracketed(batch: DataFrame,
                                              path: String): DataFrame = {
    val spark = batch.sparkSession
    val tok0 = deconMetaToken(spark, path)
    val scored = decontaminateAgainstDeconIndex(batch, path)
      .localCheckpoint()
    if (deconMetaToken(spark, path) != tok0)
      throw new IllegalStateException(
        s"decon index at $path had its meta rewritten (compaction bump, " +
          "re-save, bloom heal, or migration) while this probe was in " +
          "flight — the scores may be torn; retry against the settled " +
          "index")
    scored
  }

  /** The daily-loop composition: drop arriving docs whose containment
    * against the persisted benchmark index reaches `maxContainment`,
    * BEFORE they enter downstream curation (dedup index appends,
    * training shards). Docs too short to shingle cannot be
    * contaminated and pass through. Runs anywhere a batch DataFrame
    * exists — including inside a curation sink's foreachBatch, ahead
    * of [[dedupAgainstLshIndex]]. */
  def decontaminateBatch(batch: DataFrame, deconPath: String,
                         maxContainment: Double): DataFrame =
    batch.join(
      decontaminateAgainstDeconIndex(batch, deconPath)
        .where(col("containment") >= maxContainment)
        .select(col("doc_id")),
      Seq("doc_id"), "left_anti")

  /** Frame-to-frame decontamination — the in-memory twin of
    * [[decontaminateBatch]] for pipelines that hold the benchmark as a
    * DataFrame rather than a persisted index (one-shot curation runs,
    * compositions like c7): score every batch doc's distinct-shingle
    * containment against the benchmark's distinct shingle-hash set and
    * drop docs at or above `maxContainment`. Docs too short to shingle
    * cannot be contaminated and pass through — the same rule as the
    * persisted probe. Containment arithmetic is [[containmentScores]],
    * shared with every other decon form, so the three can never
    * diverge. At 100 TB prefer [[saveDeconIndex]] +
    * [[decontaminateBatch]]: this form re-shingles the benchmark on
    * every call and has no bloom prefilter below the exchange. */
  def decontaminateFrames(batch: DataFrame, bench: DataFrame, k: Int = 8,
                          maxContainment: Double = 0.8): DataFrame = {
    def shingled(df: DataFrame) =
      df.select(col("doc_id"), shingleHashCol(k).as("h"))
    val benchHashes = shingled(bench).select(col("h")).distinct()
    val contaminated = containmentScores(
        shingled(batch).dropDuplicates("doc_id", "h"), benchHashes)
      .where(col("containment") >= maxContainment)
      .select(col("doc_id"))
    batch.join(contaminated, Seq("doc_id"), "left_anti")
  }

  /** The k-shingle CTE chain every decontamination oracle shares —
    * `<p>toks` (tokenize the `from` relation's (doc_id, text) rows),
    * `<p>p` (positional unnest), `<p>shs` (k-gram strings), ending in
    * `<p>sh`: DISTINCT (doc_id, FNV-1a shingle hash). ONE definition
    * (the SQL twin of [[shingleHashCol]]) so the d8/d15/c7 oracles can
    * never drift from each other; `prefix` keeps several chains in one
    * query distinct, `materializedSh` pins the final CTE for oracles
    * that read it more than once (DuckDB inlines plain CTEs). */
  private[graft] def shingleCtesSql(k: Int, from: String,
                                    prefix: String = "",
                                    materializedSh: Boolean = false): String = {
    val joins = (1 until k).map(j =>
      s"JOIN ${prefix}p t$j ON t$j.doc_id = t0.doc_id AND t$j.pos = t0.pos + $j")
      .mkString(" ")
    val catted = (0 until k).map(j => s"t$j.tok").mkString(" || ' ' || ")
    val mat = if (materializedSh) "MATERIALIZED " else ""
    // tokenization is wsTokensSql — the exact twin of the Spark side's
    // wsTokens (plain trim() leaves tabs/newlines, shifting every
    // k-gram; the '' -> [] guard matches Spark's empty-doc zero rows)
    s"""${prefix}toks AS (
       |  SELECT doc_id, ${graft.functions.TextFunctions.wsTokensSql("lower(text)")} AS t FROM $from),
       |${prefix}p AS (
       |  SELECT doc_id, unnest(t) AS tok, generate_subscripts(t, 1) AS pos FROM ${prefix}toks),
       |${prefix}shs AS (SELECT t0.doc_id, $catted AS s FROM ${prefix}p t0 $joins),
       |${prefix}sh AS $mat(SELECT DISTINCT doc_id, ${fnvSql("s")} AS h FROM ${prefix}shs)""".stripMargin
  }

  /** DuckDB oracle for [[decontaminateAgainstDeconIndex]] on the
    * `documents` table: benchmark = `doc_id % benchMod = 0`, arriving
    * batch = `doc_id % batchMod = 0` minus the benchmark; the
    * bloom + persisted layout are invisible to the result (exact
    * containment, like d12's oracle). */
  def deconIndexSql(k: Int, benchMod: Int, batchMod: Int): String = {
    s"""WITH ${shingleCtesSql(k, "documents", materializedSh = true)},
       |bench AS (SELECT DISTINCT h FROM sh WHERE doc_id % $benchMod = 0),
       |batch AS (SELECT doc_id, h FROM sh
       |          WHERE doc_id % $batchMod = 0 AND doc_id % $benchMod <> 0)
       |SELECT b.doc_id, COUNT(*) AS n_shingles,
       |       CAST(COUNT(c.h) AS BIGINT) AS n_hit,
       |       CAST(COUNT(c.h) AS DOUBLE) / COUNT(*) AS containment
       |FROM batch b LEFT JOIN bench c ON c.h = b.h
       |GROUP BY b.doc_id ORDER BY b.doc_id""".stripMargin
  }

  /** DuckDB oracle for [[contamination]] with the benchmark cohort
    * `doc_id % benchMod = 0`: same FNV-1a shingles, same distinct-set
    * containment. */
  def contaminationSql(k: Int, benchMod: Int): String = {
    s"""WITH ${shingleCtesSql(k, "documents", materializedSh = true)},
       |corpus AS (SELECT DISTINCT h FROM sh WHERE doc_id % $benchMod <> 0),
       |bench AS (SELECT doc_id, h FROM sh WHERE doc_id % $benchMod = 0)
       |SELECT b.doc_id, COUNT(*) AS n_shingles,
       |       CAST(COUNT(c.h) AS BIGINT) AS n_hit,
       |       CAST(COUNT(c.h) AS DOUBLE) / COUNT(*) AS containment
       |FROM bench b LEFT JOIN corpus c ON c.h = b.h
       |GROUP BY b.doc_id ORDER BY b.doc_id""".stripMargin
  }

  // ---------------------------------------- duplicated-span removal

  /** Exact duplicated-span removal (the RefinedWeb / Lee et al. 2022
    * "exact substring" rule, k-gram-hash formulation): drop every token
    * covered by a k-token span whose content occurs >= 2 times ANYWHERE
    * in the corpus — across documents or repeated within one. This is
    * span-level surgery on surviving documents, a different axis from
    * doc-level dedup (d1/d3) and benchmark decontamination (d8): it
    * excises boilerplate and quoted blocks while keeping the documents.
    *
    * All occurrences are removed, not all-but-one — the symmetric rule
    * (also what the reference ExactSubstr tooling does), and the only
    * one expressible without electing a canonical occurrence, which
    * would need a global total order over occurrences.
    *
    * Scale shape: gram hashes are computed in-row (native
    * [[graft.functions.GramHashes]] over the token array — no k-fold
    * row blowup before the explode, no per-gram string allocation), and
    * the occurrence frame is shuffled ONCE on the 8-byte FNV-1a gram
    * hash (content-derived, so work distributes by data); the duplicate test
    * is a count over `Window.partitionBy(h)` on that same shuffle. The
    * obvious aggregate-then-join formulation generates and hashes every
    * gram TWICE at the no-broadcast (cluster-scale) shape — column
    * pruning makes the two occurrence subtrees unequal and defeats
    * ReuseExchange — and shuffles the occurrence frame twice.
    * Raced at that shape with checksum-identical outputs (SURVEY "d11
    * formulation race"): at a realistic duplicate density (320k docs,
    * ~9% of tokens removed) the windowed form is 1.47x faster (7.0s vs
    * 10.3s); only at a pathological all-duplicate shape (98% removed,
    * where per-group window buffering dominates a streaming merge) does
    * the join form win by the same factor — the regime a curated
    * corpus is never in after doc-level dedup (d1/d3) has run.
    * WindowExec's spillable group buffer also bounds the damage of a
    * pathological boilerplate gram with millions of occurrences, where
    * a collect_list-per-hash aggregate would OOM one task. No stage
    * ever holds doc x doc state;
    * the widest frame is one row per gram occurrence (~n_tokens per
    * doc). The final mask is evaluated inside one projection via
    * higher-order functions (filter-with-index + exists over the
    * sorted, typically tiny, start list).
    *
    * Returns (doc_id, n_tokens, n_removed, clean_text). */
  def duplicatedSpanRemoval(docs: DataFrame, k: Int): DataFrame = {
    require(k >= 2, s"span length k must be >= 2, got $k")
    val toks = docs.select(col("doc_id"), split(col("text"), " ").as("toks"))
      .withColumn("n", size(col("toks")))
    // one native FNV-1a per gram START (GramHashes: token bytes fetched
    // once, no gram string materialized), computed against the in-row
    // array: grams never exist as separate rows until the (idx, hash)
    // explode. n < k yields an empty array inside the expression.
    val withG = toks.withColumn("gh", Registry.gramHashes(col("toks"), k))
    val occ = withG.select(col("doc_id"), posexplode(col("gh")))
      .toDF("doc_id", "idx", "h")
    val dupStarts = occ
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy(col("h"))))
      .where(col("cnt") >= 2)
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("idx") + 1)).as("starts"))
    // token at 1-based pos p is covered iff some duplicated gram starts
    // in [p-k+1, p]; filter's lambda index i is 0-based (p = i + 1)
    toks.join(dupStarts, Seq("doc_id"), "left")
      .withColumn("starts",
        coalesce(col("starts"), array().cast("array<int>")))
      .withColumn("kept", filter(col("toks"),
        (_, i) => !exists(col("starts"),
          s => s <= i + 1 && s >= i + lit(2) - k)))
      .select(col("doc_id"),
        col("n").cast("long").as("n_tokens"),
        (col("n") - size(col("kept"))).cast("long").as("n_removed"),
        concat_ws(" ", col("kept")).as("clean_text"))
  }

  /** DuckDB oracle for [[duplicatedSpanRemoval]]: identical rule, but
    * grouped on the gram STRING itself instead of its FNV-1a hash — the
    * semantics depend only on gram equality, so the two agree up to the
    * usual negligible 64-bit collision caveat, and the oracle stays an
    * independent formulation rather than a hash-arithmetic replay. */
  def duplicatedSpanRemovalSql(k: Int, from: String = "documents"): String =
    s"""WITH t AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks FROM $from),
       |g AS (
       |  SELECT t.doc_id, s.s AS s,
       |         array_to_string(t.toks[s.s:s.s + $k - 1], ' ') AS gram
       |  FROM t, LATERAL (
       |    SELECT unnest(range(1, len(t.toks) - $k + 2)) AS s) s
       |  WHERE len(t.toks) >= $k),
       |dup AS (SELECT gram FROM g GROUP BY gram HAVING COUNT(*) >= 2),
       |ds AS (SELECT g.doc_id, g.s FROM g JOIN dup USING (gram)),
       |tok AS (
       |  SELECT t.doc_id, i.i AS i, t.toks[i.i] AS tok
       |  FROM t, LATERAL (
       |    SELECT unnest(range(1, len(t.toks) + 1)) AS i) i),
       |kept AS (
       |  SELECT doc_id, i, tok FROM tok
       |  WHERE NOT EXISTS (
       |    SELECT 1 FROM ds
       |    WHERE ds.doc_id = tok.doc_id
       |      AND ds.s <= tok.i AND ds.s >= tok.i - $k + 1)),
       |kc AS (
       |  SELECT doc_id, COUNT(*) AS kept_n,
       |         string_agg(tok, ' ' ORDER BY i) AS clean_text
       |  FROM kept GROUP BY doc_id)
       |SELECT t.doc_id,
       |       CAST(len(t.toks) AS BIGINT) AS n_tokens,
       |       CAST(len(t.toks) - COALESCE(kc.kept_n, 0) AS BIGINT) AS n_removed,
       |       COALESCE(kc.clean_text, '') AS clean_text
       |FROM t LEFT JOIN kc USING (doc_id)""".stripMargin

  // ------------------------------------------- line-level corpus dedup

  /** CCNet-style line-level corpus dedup: segment every document into
    * fixed-width word "lines" (the synthetic corpus has no newlines, so
    * the unit is a non-overlapping `segWords`-word segment — same
    * operator shape), drop every segment whose document frequency
    * across DISTINCT docs exceeds `maxDf` (boilerplate: headers,
    * navigation, license blocks), and reassemble each affected document
    * from its kept segments in order.
    *
    * Differs from [[duplicatedSpanRemoval]] (RefinedWeb ExactSubstr) on
    * both axes that matter to a curation pipeline: the unit is a fixed
    * segment rather than every overlapping k-gram, and the trigger is
    * cross-document frequency (within-doc repetition alone never
    * removes — a chorus repeated in one song survives; a cookie banner
    * shared by many pages dies).
    *
    * Scale posture (100 TB): segments shuffle ONCE, by 64-bit content
    * hash (8-byte keys — CCNet itself dedups on line hashes, not line
    * strings), into a bounded `(hash, df)` aggregate; the frequent set
    * (`df > maxDf`) is the minority of that and broadcasts back over
    * the segment stream, so the rebuild join is map-side. For an
    * adversarial corpus where boilerplate dominates (frequent set too
    * big to broadcast), `broadcastFrequent = false` degrades to a
    * hash-partitioned sort-merge join — same result, one extra segment
    * shuffle. Collision caveat as everywhere in this file: two distinct
    * segments sharing an xxhash64 is ~1e-11 at bench scale and merely
    * over-removes one segment when it happens.
    *
    * Returns (doc_id, n_segs, n_removed, cleaned_md5) for docs with at
    * least one removed segment; `cleaned_md5` digests the reassembled
    * text (md5('') when everything was boilerplate) so the oracle can
    * check the rebuild without shipping full texts. */
  def lineDedup(docs: DataFrame, segWords: Int = 8, maxDf: Long = 1,
                broadcastFrequent: Boolean = true): DataFrame =
    flaggedSegments(docs, segWords, maxDf, broadcastFrequent)
      .groupBy(col("doc_id")).agg(
        count(lit(1)).as("n_segs"),
        sum(when(col("rm"), 1L).otherwise(0L)).as("n_removed"),
        // ordered rebuild without an ordered aggregate: collect kept
        // (idx, seg) structs (collect_list skips the nulls the `when`
        // leaves for removed segments), sort by leading field, join
        md5(array_join(transform(
          sort_array(collect_list(
            when(!col("rm"), struct(col("seg_idx"), col("seg"))))),
          s => s.getField("seg")), " ")).as("cleaned_md5"))
      .where(col("n_removed") > 0)

  /** The shared segment-flagging stage of [[lineDedup]] /
    * [[lineDedupClean]]: one row per (doc, segment) with `rm` marking
    * cross-doc-frequent segments. See [[lineDedup]] for the plan
    * shape and the broadcast/sort-merge trade. */
  private def flaggedSegments(docs: DataFrame, segWords: Int, maxDf: Long,
                              broadcastFrequent: Boolean): DataFrame = {
    require(segWords >= 1, s"segWords must be >= 1, got $segWords")
    val words = docs.select(col("doc_id"), split(col("text"), " ").as("w"))
    // one row per (doc, segment): trailing partial segment kept as-is
    // (slice clamps), segment index 1-based for the ordered rebuild
    val segCol = expr(
      s"""transform(sequence(1, cast(ceil(size(w) / ${segWords}D) as int)),
         |  i -> array_join(slice(w, (i - 1) * $segWords + 1, $segWords), ' '))"""
        .stripMargin)
    val segs = words
      .select(col("doc_id"), posexplode(segCol).as(Seq("i0", "seg")))
      .select(col("doc_id"), (col("i0") + 1).as("seg_idx"), col("seg"),
        xxhash64(col("seg")).as("h"))
    val frequent = segs.groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .where(col("df") > maxDf)
      .select(col("h"), lit(true).as("rm"))
    val freqSide = if (broadcastFrequent) broadcast(frequent) else frequent
    segs.join(freqSide, Seq("h"), "left")
      .withColumn("rm", coalesce(col("rm"), lit(false)))
  }

  /** [[lineDedup]]'s corpus-rebuild form: EVERY document comes back
    * with its cleaned text (empty string when everything was
    * boilerplate) plus segment counts — the stage a curation pipeline
    * feeds forward, where the summary form feeds a report. */
  def lineDedupClean(docs: DataFrame, segWords: Int = 8, maxDf: Long = 1,
                     broadcastFrequent: Boolean = true): DataFrame =
    flaggedSegments(docs, segWords, maxDf, broadcastFrequent)
      .groupBy(col("doc_id")).agg(
        count(lit(1)).as("n_segs"),
        sum(when(col("rm"), 1L).otherwise(0L)).as("n_removed"),
        array_join(transform(
          sort_array(collect_list(
            when(!col("rm"), struct(col("seg_idx"), col("seg"))))),
          s => s.getField("seg")), " ").as("clean_text"))

  /** DuckDB oracle for [[lineDedup]]: identical rule grouped on the
    * segment STRING (the hash is a plan-level key choice, invisible to
    * the result — same stance as [[duplicatedSpanRemovalSql]]). */
  def lineDedupSql(segWords: Int, maxDf: Long,
                   from: String = "documents"): String =
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM $from),
       |segs AS (
       |  SELECT w.doc_id, s.i AS seg_idx,
       |         array_to_string(
       |           w.w[(s.i - 1) * $segWords + 1 : s.i * $segWords],
       |           ' ') AS seg
       |  FROM w, LATERAL (
       |    SELECT unnest(range(1,
       |      CAST(ceil(len(w.w) / $segWords.0) AS BIGINT) + 1)) AS i) s),
       |freq AS (
       |  SELECT seg FROM segs GROUP BY seg
       |  HAVING COUNT(DISTINCT doc_id) > $maxDf),
       |fl AS (
       |  SELECT s.doc_id, s.seg_idx, s.seg, f.seg IS NOT NULL AS rm
       |  FROM segs s LEFT JOIN freq f ON s.seg = f.seg)
       |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_segs,
       |       CAST(SUM(CASE WHEN rm THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_removed,
       |       md5(COALESCE(string_agg(CASE WHEN NOT rm THEN seg END,
       |                               ' ' ORDER BY seg_idx), ''))
       |         AS cleaned_md5
       |FROM fl GROUP BY doc_id HAVING n_removed > 0 ORDER BY doc_id"""
      .stripMargin

  // ------------------------------------------------- semantic dedup

  /** SemDeDup-style semantic near-dup pairs: partition the embedding
    * space into IVF cells (deterministic centroid seed — the cheap
    * k-means-lite the index already uses), then compare pairs only
    * WITHIN a cell. The cluster-then-compare shape is what makes
    * embedding dedup tractable at corpus scale: the cross product never
    * materializes, and each cell's pair block shuffles independently.
    * Recall is bounded by the cell assignment (near-dups straddling a
    * cell boundary are missed) — the standard SemDeDup trade. */
  def semanticNearDupPairs(emb: DataFrame, nCentroids: Int,
                           minCos: Double): DataFrame = {
    val (_, assigned) = Similarity.buildIvf(
      emb.select(col("vec_id"), col("embedding")), nCentroids)
    inCellPairs(assigned, minCos)
  }

  /** Production variant of [[semanticNearDupPairs]]: k-means-trained
    * cells ([[Similarity.buildIvfTrained]], optionally sample-trained)
    * instead of the deterministic seed. The seed variant stays for the
    * bit-exact d6 oracle (a k-means fixpoint has no SQL twin), but on
    * dup-heavy corpora its every-(n/k)-th centroids are drawn from few
    * DISTINCT vectors, so cells collapse (TrainedIvfSpec) — and for
    * DEDUP the cost is quadratic, not just slow probes: the in-cell
    * pair join does Σ C(cell,2) work, so one hot cell holding half the
    * corpus is (n/2)² comparisons. Trained centroids keep cell sizes
    * bounded, which bounds every cell's pair block — the property that
    * makes cluster-then-compare tractable at 100 TB. Exact duplicates
    * are never missed by either variant: identical vectors share a
    * nearest centroid by construction (one assignment path). */
  def semanticNearDupPairsTrained(emb: DataFrame, nCentroids: Int,
                                  minCos: Double,
                                  sampleMod: Long = 1L): DataFrame = {
    val (_, assigned) = Similarity.buildIvfTrained(
      emb.select(col("vec_id"), col("embedding")), nCentroids,
      sampleMod = sampleMod)
    inCellPairs(assigned, minCos)
  }

  /** Shared in-cell comparison stage: pairs meet ONLY inside a cell
    * (equi-join on the cell key), cosine filters map-side. */
  private def inCellPairs(assigned: DataFrame, minCos: Double): DataFrame =
    assigned.as("a").join(assigned.as("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
      .withColumn("cos", Registry.cosineSim(col("a.vec"), col("b.vec")))
      .where(col("cos") >= minCos)
      .select(col("a.vec_id").as("id1"), col("b.vec_id").as("id2"), col("cos"))
      .orderBy(col("id1"), col("id2"))

  /** The SemDeDup SELECTION step (Abbas et al. 2023's prune, over
    * [[semanticNearDupPairs]]' candidate structure): per vector, a
    * `dropped` verdict — true iff a near-duplicate (cos ≥ `minCos`)
    * with a SMALLER vec_id exists in the vector's OWN cell, i.e. the
    * deterministic keep-first rule. Returns (vec_id, cell, dropped).
    *
    * Deliberately NOT a connected-components closure (d7/d9's
    * text-side survivor rule): this is one in-cell semi-join with no
    * fixpoint — one shuffle on the cell key after the assignment map —
    * and it never merges vectors linked only through an intermediary
    * (1~3 and 2~3 without 1~2 keeps BOTH 1 and 2; components' min-id
    * rule would keep only 1). Like any keep-first rule it can drop a
    * vector to a neighbor that itself dropped (1~2~3 in id order
    * keeps only 1). Equivalently: dropped = the id2 side of the pair
    * list (pairs are emitted with id1 < id2), the law the spec pins.
    * Cell-boundary misses are the standard SemDeDup trade; at corpus
    * scale use [[semDedupPruneTrained]], whose k-means cells bound
    * every cell's quadratic pair block. */
  def semDedupPrune(emb: DataFrame, nCentroids: Int,
                    minCos: Double): DataFrame = {
    val (_, assigned) = Similarity.buildIvf(
      emb.select(col("vec_id"), col("embedding")), nCentroids)
    pruneInCell(assigned, minCos)
  }

  /** Production variant of [[semDedupPrune]]: k-means-trained cells
    * (optionally sample-trained) — the same seed/trained split as
    * [[semanticNearDupPairsTrained]], for the same reason (the seed
    * variant keeps the bit-exact d16 oracle; trained centroids keep
    * cell sizes — and so each cell's pair block — bounded on real
    * clustered embeddings). */
  def semDedupPruneTrained(emb: DataFrame, nCentroids: Int, minCos: Double,
                           sampleMod: Long = 1L): DataFrame = {
    val (_, assigned) = Similarity.buildIvfTrained(
      emb.select(col("vec_id"), col("embedding")), nCentroids,
      sampleMod = sampleMod)
    pruneInCell(assigned, minCos)
  }

  /** Shared prune stage: the verdict is a LEFT SEMI (dropped) unioned
    * with a LEFT ANTI (kept) against the SAME smaller-id-near-neighbor
    * condition — every vector lands in exactly one branch, the four
    * join inputs share the identical cell-keyed exchanges (one
    * ReuseExchange'd shuffle of the assignment map, no vec_id
    * re-shuffle), and semi/anti join outputs are duplicate-free by
    * construction. The earlier left-join-back-on-vec_id formulation
    * cost a second full-corpus shuffle for the same verdicts. */
  private def pruneInCell(assigned: DataFrame, minCos: Double): DataFrame = {
    def cond = col("a.cell") === col("b.cell") &&
      col("b.vec_id") < col("a.vec_id") &&
      Registry.cosineSim(col("a.vec"), col("b.vec")) >= minCos
    def branch(joinType: String, verdict: Boolean) =
      assigned.as("a").join(assigned.as("b"), cond, joinType)
        .select(col("vec_id"), col("cell"), lit(verdict).as("dropped"))
    branch("left_semi", verdict = true)
      .unionByName(branch("left_anti", verdict = false))
  }

  /** Semantic decontamination: flag corpus vectors within cosine ≥
    * `minCos` of ANY benchmark vector — [[contamination]]'s embedding-
    * space sibling (shingle containment catches verbatim leaks; this
    * catches paraphrases sharing an embedding neighborhood). The
    * SemDeDup cluster-then-compare shape bounds the work: both sides
    * are assigned to the same deterministic IVF cells, and comparisons
    * happen only inside a shared cell. At 100 TB the benchmark side is
    * tiny by construction (eval suites, not corpora) — it broadcasts,
    * the corpus never self-joins, and the cell key prunes each corpus
    * row to the benchmark rows of ONE cell (~1/nCentroids of an
    * already-small broadcast). Recall is cell-bounded, same trade as
    * [[semanticNearDupPairs]] — raise nCentroids-probes or fall back
    * to [[Similarity]] ANN for boundary-straddling paraphrases. */
  def semanticContamination(emb: DataFrame, benchPred: Column,
                            nCentroids: Int, minCos: Double): DataFrame = {
    val vecs = emb.select(col("vec_id"), col("embedding"))
    val (index, assigned) = Similarity.buildIvf(vecs, nCentroids)
    inCellContamination(index, assigned, vecs, benchPred, minCos)
  }

  /** Production variant of [[semanticContamination]]: k-means-trained
    * cells ([[Similarity.buildIvfTrained]], optionally sample-trained)
    * instead of the deterministic seed — the same seed/trained split as
    * [[semanticNearDupPairsTrained]], for the same reason. The seed
    * variant keeps the bit-exact d10 oracle (a k-means fixpoint has no
    * SQL twin), but on clustered real embeddings its every-(n/k)-th
    * centroids collapse dense regions into few hot cells
    * (TrainedIvfSpec) — and for DECONTAMINATION the cost is silent
    * recall loss, the worst failure mode a leakage gate can have: a
    * corpus paraphrase and its benchmark source only meet if they share
    * a cell, so uninformative cells mean contaminated rows pass the
    * gate unflagged into training data. Trained centroids put cell
    * boundaries where the density isn't, so embedding neighborhoods
    * (which is what paraphrase pairs are) stay within a cell. The
    * corpus-side work is unchanged — one assignment map + a broadcast
    * join against the tiny benchmark side — so this scales exactly as
    * the seed variant does; only centroid placement differs. */
  def semanticContaminationTrained(emb: DataFrame, benchPred: Column,
                                   nCentroids: Int, minCos: Double,
                                   sampleMod: Long = 1L): DataFrame = {
    val vecs = emb.select(col("vec_id"), col("embedding"))
    val (index, assigned) = Similarity.buildIvfTrained(
      vecs, nCentroids, sampleMod = sampleMod)
    inCellContamination(index, assigned, vecs, benchPred, minCos)
  }

  /** Shared contamination stage for the seed/trained variants: assign
    * the benchmark side SEPARATELY (same centroids, same assignment
    * path ⇒ same cells) — deriving it by filtering `assigned` would
    * re-run the nearest-centroid map over the WHOLE corpus just to
    * materialize the tiny broadcast side; at 100 TB that doubles the
    * dominant pass for ~1% of the rows. */
  private def inCellContamination(index: Similarity.IvfIndex,
                                  assigned: DataFrame, vecs: DataFrame,
                                  benchPred: Column, minCos: Double): DataFrame = {
    val bench = Similarity.assignToCells(index, vecs.where(benchPred))
      .select(col("cell"), col("vec").as("bench_vec"))
    val corpus = assigned.where(!benchPred)
    corpus.join(broadcast(bench), Seq("cell"))
      .withColumn("cos", Registry.cosineSim(col("vec"), col("bench_vec")))
      .where(col("cos") >= minCos)
      .groupBy(col("vec_id"))
      .agg(count(lit(1)).as("n_hits"), max(col("cos")).as("max_cos"))
      .orderBy(col("vec_id"))
  }

  /** DuckDB oracle for [[semanticContamination]]: the shared IVF
    * assignment CTE, benchmark split by the same vec_id-mod predicate,
    * in-cell join with the unrolled in-order cosine. */
  def semanticContaminationSql(dim: Int, nCentroids: Int, minCos: Double,
                               benchMod: Int): String = {
    val dot = (1 to dim)
      .map(i => s"CAST(c.embedding[$i] AS DOUBLE)*CAST(b.embedding[$i] AS DOUBLE)")
      .mkString(" + ")
    def n2(t: String) = (1 to dim)
      .map(i => s"CAST($t.embedding[$i] AS DOUBLE)*CAST($t.embedding[$i] AS DOUBLE)")
      .mkString(" + ")
    val cos = s"($dot) / (sqrt(${n2("c")}) * sqrt(${n2("b")}))"
    s"""${Similarity.ivfAssignCte(dim, nCentroids)}
       |SELECT c.vec_id, CAST(COUNT(*) AS BIGINT) AS n_hits,
       |       MAX($cos) AS max_cos
       |FROM (SELECT * FROM assign WHERE vec_id % $benchMod <> 0) c
       |JOIN (SELECT * FROM assign WHERE vec_id % $benchMod = 0) b
       |  USING (cell)
       |WHERE $cos >= $minCos
       |GROUP BY c.vec_id ORDER BY c.vec_id""".stripMargin
  }

  /** DuckDB oracle for [[semanticNearDupPairs]]: the IVF assignment CTE
    * plus an in-cell pair join with the unrolled in-order cosine. */
  def semanticNearDupSql(dim: Int, nCentroids: Int, minCos: Double): String = {
    val dot = (1 to dim)
      .map(i => s"CAST(a.embedding[$i] AS DOUBLE)*CAST(b.embedding[$i] AS DOUBLE)")
      .mkString(" + ")
    def n2(t: String) = (1 to dim)
      .map(i => s"CAST($t.embedding[$i] AS DOUBLE)*CAST($t.embedding[$i] AS DOUBLE)")
      .mkString(" + ")
    s"""${Similarity.ivfAssignCte(dim, nCentroids)}
       |SELECT a.vec_id AS id1, b.vec_id AS id2,
       |       ($dot) / (sqrt(${n2("a")}) * sqrt(${n2("b")})) AS cos
       |FROM assign a JOIN assign b ON a.cell = b.cell AND a.vec_id < b.vec_id
       |WHERE ($dot) / (sqrt(${n2("a")}) * sqrt(${n2("b")})) >= $minCos
       |ORDER BY id1, id2""".stripMargin
  }

  /** DuckDB oracle for the d16 per-cell rollup of [[semDedupPrune]]:
    * the IVF assignment CTE, the exists-smaller-neighbor verdict as a
    * correlated EXISTS with the unrolled in-order cosine, grouped per
    * cell. */
  def semDedupPruneSql(dim: Int, nCentroids: Int, minCos: Double): String = {
    val dot = (1 to dim)
      .map(i => s"CAST(a.embedding[$i] AS DOUBLE)*CAST(b.embedding[$i] AS DOUBLE)")
      .mkString(" + ")
    def n2(t: String) = (1 to dim)
      .map(i => s"CAST($t.embedding[$i] AS DOUBLE)*CAST($t.embedding[$i] AS DOUBLE)")
      .mkString(" + ")
    s"""${Similarity.ivfAssignCte(dim, nCentroids)},
       |verdicts AS (
       |  SELECT a.vec_id, a.cell,
       |         EXISTS (SELECT 1 FROM assign b
       |                 WHERE b.cell = a.cell AND b.vec_id < a.vec_id
       |                   AND ($dot) / (sqrt(${n2("a")}) * sqrt(${n2("b")}))
       |                       >= $minCos) AS dropped
       |  FROM assign a)
       |SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_members,
       |       CAST(SUM(CASE WHEN dropped THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_dropped,
       |       CAST(SUM(CASE WHEN NOT dropped THEN vec_id ELSE 0 END) AS BIGINT)
       |         AS survivor_checksum,
       |       CAST(SUM(CASE WHEN NOT dropped THEN vec_id * vec_id ELSE 0 END)
       |            AS BIGINT) AS survivor_checksum2
       |FROM verdicts GROUP BY cell ORDER BY cell""".stripMargin
  }

  // ---------------------------------------------------------- SimHash

  /** 64-bit SimHash per doc via the native [[graft.functions.SimHash64]]
    * expression: per-token FNV-1a 64, each bit votes ±1, sign sets the
    * bit. Pure map-side — the previous explode → 64 conditional sums →
    * groupBy formulation shuffled every token. */
  def simhash(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      Registry.simhash64(Registry.wsLowerTokens(col("text"))).as("simhash"))

  /** SimHash near-dup pairs with Hamming distance ≤ maxDist, using
    * band blocking. Pigeonhole: complete recall requires dist < bands —
    * enforced, because silently missing qualifying pairs is worse than
    * an explicit band-count choice (more bands ⇒ narrower bands ⇒ more
    * candidate collisions; 4×16 bits covers the standard dist ≤ 3). */
  def simhashPairs(docs: DataFrame, maxDist: Int, bands: Int = 4): DataFrame =
    hammingNearDupPairs(simhash(docs), "doc_id", "simhash",
      bits = 64, maxDist = maxDist, bands = bands)

  /** Band-blocked HAMMING near-dup pairs over ANY fingerprint relation
    * (`idCol`, `hashCol`: a ≤64-bit signature in a long) — the SimHash
    * banding machinery factored to its generic form so non-text
    * fingerprints ride the same candidate discipline (m6's perceptual
    * image dHash is the motivating case: LAION-style near-dup over
    * decoded rasters). The signature is cut into `bands` fields of
    * bits/bands bits; candidates are exact-field-equality bucket
    * collisions (the join KEYS the band, so candidates never leave
    * their band bucket — plan-pinned in the spec), verified by exact
    * XOR popcount ≤ maxDist. Pigeonhole: complete recall requires
    * dist < bands — enforced, because silently missing qualifying
    * pairs is worse than an explicit band-count choice (more bands ⇒
    * narrower bands ⇒ more candidate collisions).
    *
    * A pair colliding in k bands would surface k times; instead of a
    * dropDuplicates SHUFFLE over the candidate set (the largest
    * intermediate — near-dup-heavy corpora make it quadratic per
    * cluster), each pair is kept only in its FIRST colliding band:
    * both full fingerprints ride the join row, so "is this the first
    * band where we collide" is a map-side expression and the dedup
    * costs zero exchanges. Output: (id1, id2, dist), id1 < id2.
    *
    * `maxBucket`: the one-shot form of the probe's hot-bucket cap
    * ([[hammingPairsAgainstIndex]]'s scaladoc has the flat-image
    * argument — a B-member bucket contributes B² candidate rows to
    * this SELF-join, so one solid-color family at corpus scale is a
    * job-killing quadratic): over-cap buckets drop before the pair
    * join, and the capped arm keeps a pair if ANY under-cap bucket
    * holds it (pair-key dedup instead of the first-band trick, which
    * would also drop pairs whose first agreeing band is the capped
    * one). Default None preserves exact recall — the oracle-replayed
    * configuration. */
  def hammingNearDupPairs(hashes: DataFrame, idCol: String, hashCol: String,
                          bits: Int, maxDist: Int, bands: Int,
                          maxBucket: Option[Int] = None): DataFrame = {
    require(maxDist < bands,
      s"band blocking with $bands bands only guarantees recall for dist < $bands")
    require(bits >= bands && bits % bands == 0 && bits <= 64,
      s"bits=$bits must be a positive multiple of bands=$bands, <= 64")
    val width = bits / bands
    // width == 64 (bits=64, bands=1): Java's shift wraps (1L << 64 == 1L),
    // which would zero the mask and funnel every row into ONE bucket —
    // output would stay correct (exact popcount verify) but candidates
    // degrade to O(n²); require(maxDist < bands) already forces bands >= 2
    // for any useful maxDist, so this arm only guards maxDist = 0 calls.
    val mask = if (width == 64) -1L else (1L << width) - 1
    def field(sig: Column, b: Int) =
      shiftright(sig, b * width).bitwiseAND(lit(mask))
    val banded0 = hashes.select(col(idCol).as("_id"), col(hashCol).as("_sig"),
      posexplode(array((0 until bands).map(field(col(hashCol), _)): _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
    maxBucket match {
      case Some(cap) =>
        val sizes = banded0.groupBy(col("band"), col("bucket"))
          .agg(count(lit(1)).as("n"))
        val banded = banded0.join(
          sizes.where(col("n") <= cap).drop("n"), Seq("band", "bucket"))
        banded.as("a").join(banded.as("b"),
            col("a.band") === col("b.band") &&
            col("a.bucket") === col("b.bucket") &&
            col("a._id") < col("b._id"))
          .select(col("a._id").as("id1"), col("b._id").as("id2"),
            bit_count(col("a._sig").bitwiseXOR(col("b._sig"))).as("dist"))
          .where(col("dist") <= maxDist)
          .dropDuplicates("id1", "id2")
          .orderBy(col("id1"), col("id2"))
      case None =>
        val banded = banded0
        val firstCollidingBand = least((0 until bands).map(b =>
          when(field(col("a._sig"), b) === field(col("b._sig"), b), lit(b))
            .otherwise(lit(bands))): _*)
        banded.as("a").join(banded.as("b"),
            col("a.band") === col("b.band") &&
            col("a.bucket") === col("b.bucket") &&
            col("a._id") < col("b._id"))
          .where(col("a.band") === firstCollidingBand)
          .select(col("a._id").as("id1"), col("b._id").as("id2"),
            bit_count(col("a._sig").bitwiseXOR(col("b._sig"))).as("dist"))
          .where(col("dist") <= maxDist)
          .orderBy(col("id1"), col("id2"))
    }
  }

  // ----------------------- persisted Hamming-band index (m7 / d19)

  /** [[saveHammingIndex]]'s layout: BIGINT ids and signatures (every
    * entry point requires them), `part` INT the probe's DPP key. */
  private[graft] val HammingArtifact =
    Artifact("Hamming index", "saveHammingIndex", "meta")(
      Table("bands", "_id BIGINT, _sig BIGINT, band INT, bucket BIGINT, part INT",
        "part"),
      Table("meta", "bits INT, bands INT, n_bucket_parts INT"))

  /** The id and hash columns a Hamming index stores must be BIGINT. */
  private def requireHammingKeys(df: DataFrame, idCol: String,
                                 hashCol: String): Unit =
    Seq(idCol, hashCol).foreach { c =>
      val t = df.schema(c).dataType
      require(t == org.apache.spark.sql.types.LongType,
        s"Hamming index column $c must be BIGINT, got ${t.sql}")
    }

  /** Band rows of a Hamming fingerprint relation, partition column
    * included: (_id, _sig, band, bucket, part) — the full signature
    * rides every row, [[hammingNearDupPairs]]'s zero-exchange
    * candidate-dedup layout persisted as-is. */
  private def hammingBandRows(hashes: DataFrame, idCol: String,
                              hashCol: String, bits: Int, bands: Int,
                              nBucketParts: Int): DataFrame = {
    requireHammingKeys(hashes, idCol, hashCol)
    val width = bits / bands
    val mask = if (width == 64) -1L else (1L << width) - 1
    hashes.select(col(idCol).as("_id"), col(hashCol).as("_sig"),
      posexplode(array((0 until bands).map(b =>
        shiftright(col(hashCol), b * width).bitwiseAND(lit(mask))): _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
      // int, not the pmod's natural bigint: the partition directory
      // round-trips as int, and a CAST on the probe's join key would
      // break dynamic partition pruning (the probe would scan every
      // partition)
      .withColumn("part", pmod(col("bucket"), lit(nBucketParts)).cast("int"))
  }

  /** Persist a Hamming fingerprint band index — the [[saveLshIndex]]
    * lifecycle applied to ≤64-bit signatures (m6's perceptual image
    * dHashes are the motivating case: a LAION-scale media corpus is
    * hashed ONCE; each arriving batch probes the index at |batch|
    * cost). Band rows land bucket-partitioned (part = bucket mod
    * `nBucketParts`, the probe-pruning layout); there is NO separate
    * doc store — the full signature rides every band row, so exact
    * verification never leaves the band scan. The one-row meta table
    * (bits, bands, n_bucket_parts) is written LAST as the commit
    * marker; probes read their parameters from it, because a probe
    * banded under mismatched parameters would silently find nothing. */
  def saveHammingIndex(hashes: DataFrame, idCol: String, hashCol: String,
                       bits: Int, bands: Int, path: String,
                       nBucketParts: Int = LshBucketParts): Unit = {
    require(bits >= bands && bits % bands == 0 && bits <= 64,
      s"bits=$bits must be a positive multiple of bands=$bands, <= 64")
    HammingArtifact("bands").writer(
        hammingBandRows(hashes, idCol, hashCol, bits, bands, nBucketParts))
      .mode("overwrite").parquet(HammingArtifact("bands").at(path))
    HammingArtifact("meta").writeRow(hashes.sparkSession,
      HammingArtifact("meta").at(path), bits, bands, nBucketParts)
    hashes.sparkSession.catalog.refreshByPath(path)
  }

  private def hammingMeta(spark: org.apache.spark.sql.SparkSession,
                          path: String): (Int, Int, Int) = {
    val m = HammingArtifact.meta(spark, path)
    (m.getAs[Int]("bits"), m.getAs[Int]("bands"),
      m.getAs[Int]("n_bucket_parts"))
  }

  /** Append a batch of fingerprints to a persisted Hamming index — the
    * post-probe step of the nightly loop (probe → keep survivors →
    * append). Parquet append touches only the partitions the new
    * buckets hash into; probes after the append see the union exactly
    * as a fresh [[saveHammingIndex]] of it would (same banding rule —
    * spec-asserted). Single-table, so there is no torn-append window:
    * the band rows ARE the whole index. */
  def appendToHammingIndex(newHashes: DataFrame, idCol: String,
                           hashCol: String, path: String): Unit = {
    val spark = newHashes.sparkSession
    val (bits, bands, parts) = hammingMeta(spark, path)
    HammingArtifact("bands").writer(
        hammingBandRows(newHashes, idCol, hashCol, bits, bands, parts))
      .mode("append").parquet(HammingArtifact("bands").at(path))
  }

  /** Verified near-dup PAIRS of a batch against a persisted Hamming
    * index: (bid, cid, dist), dist = exact XOR popcount ≤ `maxDist`.
    * The corpus-side touch is ONE DPP-pruned band scan (the join
    * carries the partition column as an equi-key; only partitions the
    * batch's buckets hash into are read — plan-pinned in the spec);
    * candidates are exact-field bucket collisions deduped map-side by
    * the first-colliding-band rule (both full signatures ride the join
    * row — no shuffle, [[hammingNearDupPairs]]'s trick). Batch and
    * corpus ids should be disjoint; self-pairs are guarded regardless,
    * so probing an index the batch was already appended to (the
    * idempotent-resume shape) never matches a row to itself.
    *
    * `maxBucket`: drop corpus buckets with more than this many
    * resident rows before candidate generation — the degenerate-bucket
    * guard the LSH probe carries ([[dedupAgainstLshIndex]]'s scaladoc
    * has the fan-out argument). Perceptual hashes make hot buckets a
    * CERTAINTY at corpus scale, not a tail risk: every near-black
    * frame, blank scan, and solid-color placeholder dHashes to the
    * same few values, so one bucket accretes millions of members and a
    * B-member bucket yields B candidates per probing row. A capped
    * bucket's members are exactly such flat-image families —
    * recall lost there is recall on "every black image matches every
    * other black image", which a cheap exact-hash pass recovers if
    * wanted. Sizes come from a count over the ALREADY-PRUNED hit scan
    * (a bucket lives wholly inside part = bucket mod nParts, so the
    * pruned count IS the full bucket size; no stats table to go
    * stale, no second index scan). */
  def hammingPairsAgainstIndex(batch: DataFrame, idCol: String,
                               hashCol: String, path: String,
                               maxDist: Int,
                               maxBucket: Option[Int] = None): DataFrame = {
    val spark = batch.sparkSession
    val (bits, bands, parts) = hammingMeta(spark, path)
    require(maxDist < bands,
      s"band blocking with $bands bands only guarantees recall for dist < $bands")
    val width = bits / bands
    val mask = if (width == 64) -1L else (1L << width) - 1
    def field(sig: Column, b: Int) =
      shiftright(sig, b * width).bitwiseAND(lit(mask))
    val keys = Seq("part", "band", "bucket")
    val bBands = hammingBandRows(batch, idCol, hashCol, bits, bands, parts)
    val corpusBands = HammingArtifact("bands").read(spark, path)
    // corpus rows cohabiting a batch bucket; the join carries `part`
    // so the partition column is an equi-join key — the DPP handle
    val hit = corpusBands
      .join(bBands.select(keys.map(col): _*).distinct(), keys)
    maxBucket match {
      case Some(cap) =>
        // capped: a pair survives iff ANY under-cap band bucket holds
        // both rows (the LSH cap's exact semantics) — the map-side
        // first-colliding-band dedup would also drop pairs whose FIRST
        // agreeing band happens to be the capped one, losing recall
        // the cap never meant to spend, so the capped arm dedups by
        // pair key instead (it already pays a shuffle for the sizes)
        val sizes = hit.groupBy(keys.map(col): _*).agg(count(lit(1)).as("n"))
        val okHit = hit.join(sizes.where(col("n") <= cap).drop("n"), keys)
        bBands.as("b").join(okHit.as("c"), keys)
          .where(col("b._id") =!= col("c._id"))
          .select(col("b._id").as("bid"), col("c._id").as("cid"),
            bit_count(col("b._sig").bitwiseXOR(col("c._sig"))).as("dist"))
          .where(col("dist") <= maxDist)
          .dropDuplicates("bid", "cid")
      case None =>
        val firstCollidingBand = least((0 until bands).map(b =>
          when(field(col("b._sig"), b) === field(col("c._sig"), b), lit(b))
            .otherwise(lit(bands))): _*)
        bBands.as("b").join(hit.as("c"), keys)
          .where(col("b._id") =!= col("c._id"))
          .where(col("b.band") === firstCollidingBand)
          .select(col("b._id").as("bid"), col("c._id").as("cid"),
            bit_count(col("b._sig").bitwiseXOR(col("c._sig"))).as("dist"))
          .where(col("dist") <= maxDist)
    }
  }

  /** Per-item verdicts of a batch against a persisted Hamming index —
    * [[dedupAgainstLshIndex]]'s output shape over fingerprints: one row
    * per batch item, (idCol, n_matches, match_id = lowest matching
    * resident id, is_dup), ordered by id. Population = EVERY batch row
    * (a fingerprint always exists — there is no empty-shingle drop). */
  def dedupAgainstHammingIndex(batch: DataFrame, idCol: String,
                               hashCol: String, path: String,
                               maxDist: Int,
                               maxBucket: Option[Int] = None): DataFrame =
    verdictsFromPairs(batch.select(col(idCol).as("doc_id")),
      hammingPairsAgainstIndex(batch, idCol, hashCol, path, maxDist,
        maxBucket))
      .withColumnRenamed("doc_id", idCol)

  /** Nightly small-file repair for an append-grown Hamming index —
    * [[compactLshBands]] minus the stats table (this index has none):
    * partitions holding more than `maxFilesPerPart` files are rewritten
    * to `targetFiles`; probe verdicts are bit-identical before and
    * after (spec-pinned). Returns the rewritten partition ids. */
  def compactHammingBands(spark: org.apache.spark.sql.SparkSession,
                          path: String, maxFilesPerPart: Int,
                          targetFiles: Int = 1): Seq[Int] = {
    HammingArtifact.requireSaved(spark, path)
    HammingArtifact("bands").compact(spark, path, maxFilesPerPart, targetFiles)
      .map(_.toInt)
  }

  /** Row hygiene for an append-grown Hamming index — the containment
    * step for the streaming sink's at-least-once append window (a
    * crash between a batch's survivor append and its commit marker
    * replays the append, landing every band row twice; duplicated
    * rows double-count `n_matches` in probe verdicts). The full
    * signature rides every band row, so exact hygiene is a plain
    * `distinct` over the band table, rewritten under the stage-aside
    * swap ([[graft.sources.TableSwap]] — single-maintainer: run from
    * the sink's own serialized cadence, never racing a live append).
    * A clean index round-trips unchanged (spec-pinned). */
  def repairHammingIndex(spark: org.apache.spark.sql.SparkSession,
                         path: String): Unit = {
    HammingArtifact.requireSaved(spark, path)
    val bands = HammingArtifact("bands")
    bands.rewrite(spark, path)(bands.read(spark, path).distinct())
  }

  /** Re-band a persisted Hamming index under a new bucket-partition
    * count — the growth migration ([[rebuildLshIndex]]'s role for this
    * family): pure layout, probe verdicts bit-identical before and
    * after (spec-pinned). Band 0's rows carry every id exactly once
    * with its full signature, so the rebuild re-derives the whole
    * index from ONE pruned-column scan of the live table — no doc
    * store to consult. The new artifact is staged into a tmp ROOT and
    * swapped in one rename window (`meta` changes with the layout, so
    * a per-table swap would leave a torn window where probes band
    * under the OLD part count against NEW partitions and silently
    * find nothing); every crash point heals at the next
    * [[Maintenance.nightly]] entry via its root-swap recovery. */
  def rebuildHammingIndex(spark: org.apache.spark.sql.SparkSession,
                          path: String,
                          nBucketParts: Option[Int] = None): Unit = {
    val (bits, bands, parts) = hammingMeta(spark, path)
    val target = nBucketParts.getOrElse(parts)
    Maintenance.retrainAndSwap(spark, path) { tmp =>
      saveHammingIndex(
        HammingArtifact("bands").read(spark, path).where(col("band") === 0)
          .select(col("_id"), col("_sig")),
        "_id", "_sig", bits, bands, tmp, target)
    }
  }

  /** DuckDB oracle for [[simhashPairs]]: same per-token FNV-1a 64, bit
    * votes via (h // 2^bit) % 2, fingerprint reassembled in HUGEINT and
    * reinterpreted as signed BIGINT; bands are exact 16-bit field
    * extractions, so candidate sets match Spark's bit-for-bit. */
  def simhashPairsSql(maxDist: Int, bands: Int = 4): String = {
    require(maxDist < bands)
    val width = 64 / bands
    val pw64 = (0 until 64).map(b =>
      s"($b, CAST('${BigInt(1) << b}' AS HUGEINT))").mkString(", ")
    val pb = (0 until bands).map(b =>
      s"($b, CAST('${BigInt(1) << (width * b)}' AS HUGEINT))").mkString(", ")
    val mask = (BigInt(1) << width).toString
    s"""WITH toks AS (
       |  SELECT doc_id, ${TextFunctions.wsTokensSql("lower(text)")} AS t FROM documents),
       |tok AS (SELECT doc_id, unnest(t) AS tok FROM toks),
       |th AS (SELECT doc_id, ${fnvSql("tok")} AS h FROM tok),
       |pw(bit, p) AS (VALUES $pw64),
       |votes AS (
       |  SELECT doc_id, bit, p,
       |         SUM(CASE WHEN (h // p) % 2 = 1 THEN 1 ELSE -1 END) AS v
       |  FROM th CROSS JOIN pw GROUP BY doc_id, bit, p),
       |fp AS (
       |  SELECT doc_id, SUM(CASE WHEN v > 0 THEN p ELSE CAST(0 AS HUGEINT) END) AS fpu
       |  FROM votes GROUP BY doc_id),
       |fps AS (
       |  SELECT doc_id, fpu,
       |         CAST(CASE WHEN fpu >= $S63 THEN fpu - $U64 ELSE fpu END AS BIGINT) AS f
       |  FROM fp),
       |pb(band, q) AS (VALUES $pb),
       |banded AS (
       |  SELECT doc_id, f, band, CAST((fpu // q) % $mask AS BIGINT) AS bucket
       |  FROM fps CROSS JOIN pb)
       |SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2,
       |       CAST(bit_count(xor(a.f, b.f)) AS INTEGER) AS dist
       |FROM banded a JOIN banded b
       |  ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.f, b.f)) <= $maxDist
       |ORDER BY id1, id2""".stripMargin
  }
}
