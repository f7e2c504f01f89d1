package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed BPE-style vocabulary induction: the iterative merge loop
  * on top of the pair counting `t8_bpe_pair_counts` exercises once.
  * Each round counts adjacent symbol pairs across the whole corpus,
  * picks the globally most frequent (count desc, then lexicographic
  * (a, b) — a total order, so the winner is deterministic), and merges
  * its adjacent occurrences left-to-right non-overlapping in every
  * document.
  *
  * Shapes like the standard big-data BPE trainer: the per-round
  * argmax is one explode + groupBy + limit(1) (shuffle bounded by the
  * distinct-pair count, with map-side partial aggregation), the merge
  * itself is a pure map-side array fold, and the driver only ever
  * holds the single winning pair per round — never token data.
  * Symbols here are whitespace tokens (phrase induction); running the
  * same loop over character arrays gives classic subword BPE.
  */
object Bpe {

  /** One learned merge: the pair and its count at merge time. */
  final case class Merge(a: String, b: String, n: Long)

  private def adjacentPairs(syms: DataFrame): DataFrame =
    syms.where(size(col("syms")) >= 2)
      .select(explode(zip_with(
        slice(col("syms"), lit(1), size(col("syms")) - 1),
        slice(col("syms"), lit(2), size(col("syms")) - 1),
        (a, b) => struct(a.as("a"), b.as("b")))).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(count(lit(1)).as("n"))

  /** Greedy left-to-right merge of adjacent (a, b) into one symbol
    * `"a b"` — the fold keeps runs non-overlapping exactly like the
    * sequential reference: [a, a, b] merges the SECOND a, [a, a, a]
    * with pair (a, a) merges once and leaves the tail a. */
  private def mergeColumn(a: String, b: String) =
    aggregate(col("syms"), array().cast("array<string>"),
      (acc, x) =>
        when(size(acc) > 0 &&
            element_at(acc, -1) === lit(a) && x === lit(b),
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + " " + b))))
        .otherwise(concat(acc, array(x))))

  /** Run `nMerges` rounds over `docs` (columns `doc_id`, `text`).
    * Returns the learned merges in order plus the final per-document
    * symbol arrays (`doc_id`, `syms`) — CACHED; callers that keep the
    * frame long-term should unpersist it when done. Stops early if the
    * corpus runs out of repeated pairs. */
  def train(docs: DataFrame, nMerges: Int): (Seq[Merge], DataFrame) = {
    var syms = docs.select(col("doc_id"),
      TextAnalysis.toks(col("text")).as("syms")).cache()
    val merges = Seq.newBuilder[Merge]
    var round = 0
    var exhausted = false
    while (round < nMerges && !exhausted) {
      val top = adjacentPairs(syms)
        .orderBy(desc("n"), col("a"), col("b")).limit(1).collect()
      // a pair seen once still merges (standard BPE has no min count);
      // only a corpus with NO adjacent pairs at all ends the loop early
      if (top.isEmpty) exhausted = true
      else {
        val (a, b, n) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += Merge(a, b, n)
        val next = syms.select(col("doc_id"), mergeColumn(a, b).as("syms")).cache()
        next.count() // materialize before releasing the parent's blocks
        syms.unpersist()
        syms = next
      }
      round += 1
    }
    (merges.result(), syms)
  }

  /** Greedy left-to-right application of `ms` in order — the same
    * non-overlapping fold as [[mergeColumn]], in plain JVM code (shared
    * by [[encode]], [[trainBatched]] and [[trainSampled]]). */
  private def applyMergesSeq(toks0: Seq[String],
                             ms: Array[(String, String)]): Seq[String] = {
    var toks = toks0
    ms.foreach { case (a, b) =>
      val merged = a + " " + b
      val out = scala.collection.mutable.ArrayBuffer[String]()
      toks.foreach { x =>
        if (out.nonEmpty && out.last == a && x == b)
          out(out.length - 1) = merged
        else out += x
      }
      toks = out.toSeq
    }
    toks
  }

  /** Scale-shaped trainer: per round, take the GLOBAL top pairs once
    * and accept a maximal prefix whose symbols are pairwise disjoint
    * (merging (a,b) only perturbs counts of pairs touching a or b, so
    * disjoint pairs' counts stay exact), bounded by the halving rule
    * (stop the batch when a count drops below half the round's top —
    * the window where a merge-created pair could outrank a stale
    * count). One batch = one count job + one merge pass instead of one
    * PER MERGE: a 32k-merge vocabulary stops being 32k sequential
    * driver round-trips ([[train]]'s shape) and becomes
    * ~32k/batch rounds — the standard batched-BPE trick. Batching may
    * LOCALLY reorder equal-count merges relative to [[train]] (a
    * skipped overlapping pair waits for the next recount), but the
    * sequence stays a valid greedy BPE run: each round's first pick is
    * the global argmax, and every recorded count is the TRUE corpus
    * count at the moment its merge applies — BpeSpec replays the
    * sequence with exact recounting to prove it, alongside the ≥10×
    * job-count reduction. For bit-identical-to-sequential merges use
    * [[trainSampled]]. Returned symbol frame is CACHED (same contract
    * as [[train]]) — unpersist it when done. */
  def trainBatched(docs: DataFrame, nMerges: Int,
                   batchCap: Int = 64): (Seq[Merge], DataFrame) = {
    require(nMerges >= 0 && batchCap >= 1)
    val spark = docs.sparkSession
    import spark.implicits._
    var syms = docs.select(col("doc_id"),
      TextAnalysis.toks(col("text")).as("syms")).cache()
    val merges = scala.collection.mutable.ArrayBuffer[Merge]()
    var exhausted = false
    while (merges.size < nMerges && !exhausted) {
      // fetch extra rows beyond the cap: overlap-skipped pairs make the
      // accepted set a subsequence of the fetched prefix
      val top = adjacentPairs(syms)
        .orderBy(desc("n"), col("a"), col("b"))
        .limit(math.max(4 * batchCap, 64)).collect()
      if (top.isEmpty) exhausted = true
      else {
        val used = scala.collection.mutable.HashSet[String]()
        val accepted = scala.collection.mutable.ArrayBuffer[Merge]()
        val roundTop = top(0).getLong(2)
        val roundCap = math.min(batchCap, nMerges - merges.size)
        var i = 0
        var stop = false
        while (i < top.length && accepted.size < roundCap && !stop) {
          val (a, b, n) = (top(i).getString(0), top(i).getString(1),
            top(i).getLong(2))
          // halving rule: below roundTop/2 a pair CREATED by an earlier
          // accepted merge could legitimately outrank these stale
          // counts — end the batch and recount
          if (accepted.nonEmpty && n * 2 <= roundTop) stop = true
          else if (!used(a) && !used(b)) {
            accepted += Merge(a, b, n); used += a; used += b
            // the merged PRODUCT joins the used set too: space-joined
            // symbols are ambiguous ('a'+' '+'b c' and 'a b'+' '+'c'
            // both read "a b c"), so a later pair in this batch could
            // be string-equal to a token this merge just created — its
            // recorded count would then not be the true corpus count at
            // application time. Defer any such pair to the recount.
            used += a + " " + b
          }
          i += 1
        }
        val ms = accepted.map(m => (m.a, m.b)).toArray
        val next = syms.as[(Long, Seq[String])]
          .mapPartitions(_.map { case (id, t) => (id, applyMergesSeq(t, ms)) })
          .toDF("doc_id", "syms").cache()
        next.count() // materialize before releasing the parent's blocks
        syms.unpersist()
        syms = next
        merges ++= accepted
      }
    }
    (merges.toSeq, syms)
  }

  /** Driver-local sampled trainer — what production tokenizer trainers
    * actually do (a vocabulary converges on a few hundred MB of
    * representative text; the corpus-scale machinery is for ENCODE,
    * which stays fully distributed). Deterministic content-independent
    * sample: doc_id-hash one-in-`sampleMod`. Runs the exact [[train]]
    * semantics in memory: total Spark jobs = 1 collect, regardless of
    * vocabulary size. */
  def trainSampled(docs: DataFrame, nMerges: Int, sampleMod: Int): Seq[Merge] = {
    val spark = docs.sparkSession
    import spark.implicits._
    greedyLocal(docs
      .where(pmod(xxhash64(col("doc_id")), lit(sampleMod)) === 0)
      .select(TextAnalysis.toks(col("text")))
      .as[Seq[String]].collect(), nMerges)
  }

  /** The exact in-memory greedy loop shared by [[trainSampled]] and
    * [[trainBytesLocal]]: per round, count adjacent pairs across every
    * sequence, take the (count desc, utf8-lex (a,b)) argmax, merge. */
  private def greedyLocal(corpus0: Array[Seq[String]],
                          nMerges: Int): Seq[Merge] = {
    var corpus = corpus0
    val merges = Seq.newBuilder[Merge]
    var round = 0
    var exhausted = false
    while (round < nMerges && !exhausted) {
      val counts = scala.collection.mutable.HashMap[(String, String), Long]()
      corpus.foreach { toks =>
        var i = 0
        while (i < toks.length - 1) {
          val p = (toks(i), toks(i + 1))
          counts(p) = counts.getOrElse(p, 0L) + 1
          i += 1
        }
      }
      if (counts.isEmpty) exhausted = true
      else {
        val ((a, b), n) = counts.reduce { (p, q) =>
          val better =
            if (p._2 != q._2) p._2 > q._2
            else if (p._1._1 != q._1._1) utf8Lt(p._1._1, q._1._1)
            else utf8Lt(p._1._2, q._1._2)
          if (better) p else q
        }
        merges += Merge(a, b, n)
        val ms = Array((a, b))
        corpus = corpus.map(applyMergesSeq(_, ms))
      }
      round += 1
    }
    merges.result()
  }

  // ------------------------------------------------- byte-level mode

  /** UTF-8 byte symbols of one pre-token, as two-uppercase-hex-digit
    * strings (DuckDB's `hex(encode(w))` sliced pairwise gives the
    * identical stream, so the twins share an alphabet literal by
    * literal). */
  def byteSyms(word: String): Seq[String] = {
    val bytes = word.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val out = new Array[String](bytes.length)
    var i = 0
    while (i < bytes.length) {
      out(i) = "%02X".format(bytes(i) & 0xff)
      i += 1
    }
    scala.collection.immutable.ArraySeq.unsafeWrapArray(out)
  }

  /** BYTE-LEVEL trainer — the GPT-2/LLaMA-family tokenizer shape the
    * whitespace-symbol [[train]] family approximates at the phrase
    * level: the alphabet is UTF-8 BYTES (so no text is ever OOV and
    * non-Latin scripts pay their true multi-byte fertility — exactly
    * what s25/s26 measure), and merges apply WITHIN pre-token
    * boundaries only (each lowercased whitespace token is its own
    * sequence — the pre-tokenization rule; a merge can never span two
    * words). Driver-local (the [[trainSampled]] stance: vocabularies
    * converge on sample-sized text; corpus-scale machinery is for
    * ENCODE) with the exact [[train]] greedy semantics per round.
    *
    * The driver collect is BOUNDED: `sampleMod` = 0 (the default) is
    * AUTO — a xxhash64(doc_id)-keyed one-in-mod sample whose modulus
    * [[autoByteSampleMod]] derives from the corpus's total text bytes
    * (one column-pruned aggregate pass, run only on the auto path) so
    * the expected collect stays ≤ `budgetBytes` no matter the corpus —
    * the PQ trainer's `trainSampleMod = 0` discipline. Corpora at or
    * under the budget derive mod 1 (identity: every gate slice), so
    * small-SF hashes are unchanged by the guard. */
  def trainBytesLocal(docs: DataFrame, nMerges: Int, sampleMod: Int = 0,
                      budgetBytes: Long = TrainBudgetBytes): Seq[Merge] = {
    require(sampleMod >= 0, "sampleMod must be >= 0 (0 = auto)")
    val spark = docs.sparkSession
    import spark.implicits._
    val mod =
      if (sampleMod != 0) sampleMod.toLong
      else autoByteSampleMod(
        docs.agg(coalesce(sum(octet_length(col("text"))), lit(0L))
          .cast("long")).as[Long].head(), budgetBytes)
    val sampled =
      if (mod > 1L) docs.where(pmod(xxhash64(col("doc_id")), lit(mod)) === 0)
      else docs
    greedyLocal(sampled
      .select(TextAnalysis.toks(col("text")))
      .as[Seq[String]].collect()
      .flatMap(ws => ws.map(byteSyms)), nMerges)
  }

  /** Driver-collect budget for [[trainBytesLocal]]'s AUTO sample:
    * 512 MiB of UTF-8 text — far past byte-vocabulary convergence
    * (production byte-BPE trainers converge on a few hundred MB) and
    * comfortably inside any driver heap. */
  val TrainBudgetBytes: Long = 512L << 20

  /** The effective sampling modulus for a byte-BPE training collect:
    * one-in-mod of `totalBytes` keeps the expected collect ≤ `budget`;
    * corpora within budget pass through whole. */
  private[graft] def autoByteSampleMod(totalBytes: Long, budget: Long): Long =
    math.max(1L, (totalBytes + budget - 1L) / budget)

  /** Byte-level ENCODE under frozen merges — fully distributed,
    * map-side like [[encode]]: each word's byte symbols get the
    * learned merges in order (the per-word application IS the
    * pre-token boundary rule), then the word streams concatenate back
    * into one per-document symbol array. Returns (doc_id, syms). */
  def encodeBytes(docs: DataFrame, merges: Seq[Merge]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val ms = merges.map(m => (m.a, m.b)).toArray
    docs.select(col("doc_id"), TextAnalysis.toks(col("text")).as("words"))
      .as[(Long, Seq[String])]
      .mapPartitions(_.map { case (id, words) =>
        (id, words.flatMap(w => applyMergesSeq(byteSyms(w), ms)))
      })
      .toDF("doc_id", "syms")
  }

  /** Byte-level twin of [[trainEncodeSplitSql]]: merges learned from
    * `trainFrom` only, applied to both sides as learned, over BYTE
    * symbol streams with per-word sequences. Every (doc, word, side)
    * triple rides its own window key
    * `gid = doc_id·2²¹ + (word_index−1)·2 + is_train` (bounds: ≤ 2²⁰
    * words per document — far beyond any gate corpus — and
    * doc_id ≤ 2⁴¹), so [[mergeRoundsSql]]'s per-gid windows enforce
    * the pre-token boundary rule for free; `enc` re-aggregates the
    * encode-side words per document (count and hash-sum are
    * associative). Ends in `enc` (doc_id, n_tokens_bpe, sym_fp). */
  def trainEncodeBytesSplitSql(trainFrom: String, encodeFrom: String,
                               nMerges: Int,
                               textExpr: String = "text"): String = {
    val toks = graft.functions.TextFunctions.wsTokensSql(s"lower($textExpr)")
    def side(from: String, flag: Int) =
      s"""  SELECT doc_id * 2097152 + (wi - 1) * 2 + $flag AS gid,
         |         bi AS pos, substr(h, 2 * bi - 1, 2) AS sym
         |  FROM (SELECT doc_id, $toks AS t FROM $from) d,
         |       LATERAL (SELECT unnest(range(1, len(t) + 1)) AS wi) g,
         |       LATERAL (SELECT hex(encode(t[wi])) AS h) hh,
         |       LATERAL (SELECT unnest(range(1, length(h) // 2 + 1)) AS bi) bb""".stripMargin
    val st0 =
      s"""st0 AS (
         |${side(trainFrom, 1)}
         |  UNION ALL
         |${side(encodeFrom, 0)})""".stripMargin
    val enc =
      s""",
         |enc AS (
         |  SELECT gid // 2097152 AS doc_id,
         |         CAST(count(*) AS BIGINT) AS n_tokens_bpe,
         |         CAST(SUM(${graft.functions.PolyHash64.sql("sym")}) AS BIGINT) AS sym_fp
         |  FROM st$nMerges WHERE gid % 2 = 0 GROUP BY 1)""".stripMargin
    (st0 + mergeRoundsSql(nMerges, trainPred = "gid % 2 = 1") + enc)
      .replace("\n", " ")
  }

  /** Spark's StringType sort order is unsigned UTF-8 BYTE lexicographic
    * (UTF8String.compareTo); the JVM's String ordering compares UTF-16
    * code units and disagrees for supplementary-plane characters. The
    * driver-local tie-break must match [[train]]'s `orderBy` exactly,
    * so compare bytes. */
  private def utf8Lt(a: String, b: String): Boolean = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c < 0
      i += 1
    }
    x.length < y.length
  }

  /** Final vocabulary: symbol frequencies after training. */
  def vocab(syms: DataFrame): DataFrame =
    syms.select(explode(col("syms")).as("sym"))
      .groupBy(col("sym")).agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), col("sym"))

  /** Persist a trained tokenizer at `path` as a build-once serving
    * artifact: `merges/` = (rank, a, b, n) in learned order. Plain
    * overwrite semantics like [[LmScore.save]] — a tokenizer is
    * retrained, never patched (every merge after an edited one would
    * shift), so there is no merge log and no incremental form; atomic
    * replacement for a LIVE tokenizer rides
    * [[Maintenance.retrainAndSwap]]'s root-swap protocol. The artifact
    * is what turns the one-corpus [[train]]+[[encode]] demonstration
    * into the production shape: freeze merges once, encode everywhere
    * — every shard materializer, budget query and batch loader reads
    * the same frozen vocabulary instead of retraining in-query. */
  def saveTokenizer(spark: org.apache.spark.sql.SparkSession,
                    merges: Seq[Merge], path: String): Unit = {
    import spark.implicits._
    val table = TokenizerArtifact("merges")
    table.writer(merges.zipWithIndex
        .map { case (m, i) => (i, m.a, m.b, m.n) }
        .toDF("rank", "a", "b", "n").coalesce(1))
      .mode("overwrite").parquet(table.at(path))
  }

  /** The persisted tokenizer: `merges/` in learned order. */
  private[graft] val TokenizerArtifact =
    graft.sources.Artifact("BPE tokenizer", "saveTokenizer", "merges")(
      graft.sources.Table("merges", "rank INT, a STRING, b STRING, n BIGINT"))

  /** Load a persisted tokenizer back in learned order. The collect is
    * vocabulary-sized (one row per merge — tens of thousands at most),
    * the same driver-side footprint [[encode]]'s closure carries. */
  def loadTokenizer(spark: org.apache.spark.sql.SparkSession,
                    path: String): Seq[Merge] =
    TokenizerArtifact("merges").read(spark, path).orderBy(col("rank")).collect()
      .map(r => Merge(r.getAs[String]("a"), r.getAs[String]("b"),
        r.getAs[Long]("n"))).toSeq

  /** DuckDB twin of [[train]] + [[encode]]: replays `nMerges` rounds of
    * the exact sequential greedy trainer in SQL over `fromSql`
    * (a relation or parenthesized+aliased subquery with doc_id, text)
    * and ends in CTE `enc` = (doc_id, n_tokens_bpe, sym_fp).
    *
    * Each round is fully data-driven — pair counts over the current
    * state, a one-row argmax CTE (count desc, then (a, b) — DuckDB's
    * binary VARCHAR order = Spark's UTF8 byte order), and the merge
    * application — so no learned constants are embedded; the SQL
    * learns the SAME merges the Spark side does.
    *
    * The greedy left-to-right non-overlapping fold becomes a
    * gaps-and-islands parity rule: a candidate position (sym=a,
    * next=b) chains with an adjacent candidate only when a = b (for
    * a ≠ b, two adjacent candidates would force b = a), and within a
    * maximal candidate chain the fold merges exactly the odd-indexed
    * candidates. Merging never creates a new (a, b) adjacency within
    * the same round (the product "a b" can equal neither a nor b), so
    * candidates computed on the round's INPUT state equal the fold's
    * evolving-accumulator decisions — BpeBudgetSpec replays
    * [[train]]'s fold against this rule position by position.
    *
    * Exhaustion parity with [[train]]'s early stop: the argmax row is
    * LEFT-joined (ON TRUE), so a round whose pair counts are empty
    * leaves every candidate flag FALSE and the state passes through
    * unchanged — the SQL's remaining rounds are no-ops exactly where
    * the Spark trainer stops, instead of a cross join with an empty
    * one-row CTE annihilating the whole state into a silent empty
    * result. BpeTokenizerSpec replays the rule on an exhausting
    * corpus. */
  def trainEncodeSql(fromSql: String, nMerges: Int,
                     textExpr: String = "text"): String = {
    val toks = graft.functions.TextFunctions.wsTokensSql(s"lower($textExpr)")
    val st0 =
      s"""st0 AS (
         |  SELECT doc_id AS gid, i AS pos, t[i] AS sym
         |  FROM (SELECT doc_id, $toks AS t FROM $fromSql) d,
         |       LATERAL (SELECT unnest(range(1, len(t) + 1)) AS i) g)""".stripMargin
    val enc =
      s""",
         |enc AS (
         |  SELECT gid AS doc_id, CAST(count(*) AS BIGINT) AS n_tokens_bpe,
         |         CAST(SUM(${graft.functions.PolyHash64.sql("sym")}) AS BIGINT) AS sym_fp
         |  FROM st$nMerges GROUP BY gid)""".stripMargin
    (st0 + mergeRoundsSql(nMerges, trainPred = "TRUE") + enc)
      .replace("\n", " ")
  }

  /** The train/encode SPLIT twin — the persisted-tokenizer form (c11):
    * merges are learned from `trainFrom` ONLY (pair counts restricted
    * to train-tagged rows) but each learned merge applies to BOTH
    * relations as it is learned, so the encode rows end up under the
    * exact frozen-merge sequence `Bpe.encode` applies — applying merge
    * k to a document the moment it is learned is the same left-to-right
    * fold as applying the full ordered sequence at the end (merges
    * apply in order either way). Rows ride a synthetic
    * `gid = doc_id*2 + is_train` key so overlapping doc_ids across the
    * two slices never share a window partition; `enc` emits the
    * encode-tagged rows only, with doc_id recovered as gid // 2.
    * DuckDB cannot read the runtime scratch path the Spark side
    * persists the tokenizer to, so the twin RE-LEARNS the same
    * deterministic merges from the same train slice (save→load→encode
    * ≡ in-memory encode is BpeTokenizerSpec-pinned — the c9 pattern).
    * Same exhaustion-parity LEFT JOIN as [[trainEncodeSql]]. */
  def trainEncodeSplitSql(trainFrom: String, encodeFrom: String,
                          nMerges: Int, textExpr: String = "text"): String = {
    val toks = graft.functions.TextFunctions.wsTokensSql(s"lower($textExpr)")
    val st0 =
      s"""st0 AS (
         |  SELECT gid, i AS pos, t[i] AS sym
         |  FROM (SELECT doc_id * 2 + 1 AS gid, $toks AS t FROM $trainFrom
         |        UNION ALL
         |        SELECT doc_id * 2 AS gid, $toks AS t FROM $encodeFrom) d,
         |       LATERAL (SELECT unnest(range(1, len(t) + 1)) AS i) g)""".stripMargin
    val enc =
      s""",
         |enc AS (
         |  SELECT gid // 2 AS doc_id, CAST(count(*) AS BIGINT) AS n_tokens_bpe,
         |         CAST(SUM(${graft.functions.PolyHash64.sql("sym")}) AS BIGINT) AS sym_fp
         |  FROM st$nMerges WHERE gid % 2 = 0 GROUP BY gid)""".stripMargin
    (st0 + mergeRoundsSql(nMerges, trainPred = "gid % 2 = 1") + enc)
      .replace("\n", " ")
  }

  /** Shared per-round CTE body of the two SQL twins: pair counts over
    * the `trainPred` rows of st(k-1), one-row argmax, parity-rule
    * merge over ALL rows. */
  private def mergeRoundsSql(nMerges: Int, trainPred: String): String = {
    val sb = new StringBuilder
    for (k <- 1 to nMerges) {
      val p = s"st${k - 1}"
      sb.append(
        s""",
           |pc$k AS (
           |  SELECT sym AS a, nxt AS b, count(*) AS n
           |  FROM (SELECT sym, lead(sym) OVER (PARTITION BY gid ORDER BY pos) AS nxt
           |        FROM $p WHERE $trainPred) z
           |  WHERE nxt IS NOT NULL GROUP BY 1, 2),
           |top$k AS (SELECT a, b FROM pc$k ORDER BY n DESC, a, b LIMIT 1),
           |cd$k AS (
           |  SELECT s.gid, s.pos, s.sym, t.a, t.b,
           |         COALESCE(s.sym = t.a AND
           |           lead(s.sym) OVER (PARTITION BY s.gid ORDER BY s.pos) = t.b,
           |           FALSE) AS c
           |  FROM $p s LEFT JOIN top$k t ON TRUE),
           |sl$k AS (
           |  SELECT gid, pos, sym, a, b,
           |         CASE WHEN c THEN (ROW_NUMBER() OVER
           |             (PARTITION BY gid, c, grp ORDER BY pos) % 2 = 1)
           |           ELSE FALSE END AS sel
           |  FROM (SELECT *, pos - ROW_NUMBER() OVER
           |          (PARTITION BY gid, c ORDER BY pos) AS grp FROM cd$k) z),
           |st$k AS (
           |  SELECT gid,
           |         ROW_NUMBER() OVER (PARTITION BY gid ORDER BY pos) AS pos,
           |         CASE WHEN sel THEN a || ' ' || b ELSE sym END AS sym
           |  FROM (SELECT *, COALESCE(lag(sel) OVER
           |          (PARTITION BY gid ORDER BY pos), FALSE) AS psel FROM sl$k) z
           |  WHERE NOT psel)""".stripMargin)
    }
    sb.toString
  }

  /** Apply learned merges to a corpus — the tokenizer-inference side of
    * [[train]]. Merges apply in learned order, each with the same
    * greedy left-to-right fold, so
    * `encode(docs, train(docs, n)._1) == train(docs, n)._2` exactly.
    *
    * Pure map-side: a per-partition imperative loop (no shuffle, no
    * state), the shape tokenizer application always has at 100 TB. The
    * in-JVM loop replaces m chained HOF folds — one array pass per
    * merge rank without m plan nodes. */
  def encode(docs: DataFrame, merges: Seq[Merge]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val ms = merges.map(m => (m.a, m.b)).toArray
    docs.select(col("doc_id"),
        TextAnalysis.toks(col("text")).as("syms"))
      .as[(Long, Seq[String])]
      .mapPartitions(_.map { case (id, toks0) => (id, applyMergesSeq(toks0, ms)) })
      .toDF("doc_id", "syms")
  }
}
