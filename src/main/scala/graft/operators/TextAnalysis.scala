package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/** Text-analysis operators for an LLM training-data pipeline: language
  * identification (stopword-hit heuristic), quality scoring, token
  * counting. All pure Column expressions (codegen'd, no UDFs), with the
  * word lists shared between the Spark side and the generated DuckDB
  * oracle SQL so the two can never drift.
  *
  * At 100 TB these are embarrassingly parallel map-side expressions —
  * no shuffle until the final aggregate.
  */
object TextAnalysis {

  /** Stopword marker lists per language. Order = deterministic argmax
    * tiebreak priority (first wins on equal hit counts). */
  val LangWords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "it", "that", "for"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein", "zu", "den"),
    "fr" -> Seq("le", "la", "les", "et", "est", "pas", "pour", "que", "une", "dans"),
    "es" -> Seq("el", "los", "las", "es", "no", "por", "para", "una", "como", "pero"),
    "zh" -> Seq("de", "shi", "bu", "le", "wo", "you", "he", "zai", "ren", "ta"))

  /** Tokenization shared by every analysis: PRECOMPUTE this into its
    * own column when combining analyses — higher-order functions block
    * Spark's subexpression elimination, so inlining the split into each
    * per-language filter multiplies the dominant tokenize cost (measured
    * 5× on langId). Native since r16 ([[graft.functions.WsLowerTokens]]):
    * one byte scan instead of wsTokens(lower(text))'s three regex
    * passes, identical output (spec-pinned). */
  def toks(text: Column): Column = graft.functions.Registry.wsLowerTokens(text)

  /** Hit count of `words` among a pre-tokenized array. */
  def langHitsFromTokens(tokens: Column, words: Seq[String]): Column =
    size(filter(tokens, t => t.isInCollection(words)))

  /** Predicted language from a pre-tokenized array: argmax of stopword
    * hits, priority-ordered tiebreak, "und" when zero hits. Hit counts
    * come from ONE native pass over the tokens
    * ([[graft.functions.StopwordHits]]) instead of a filter lambda per
    * language. */
  def langIdFromTokens(tokens: Column): Column = {
    val hitsArr = graft.functions.Registry.langStopwordHits(tokens)
    langIdFromHits(hitsArr)
  }

  /** Argmax over a precomputed per-language hit-count array. */
  def langIdFromHits(hitsArr: Column): Column = {
    val hits = LangWords.zipWithIndex.map { case ((l, _), i) =>
      l -> element_at(hitsArr, i + 1)
    }
    val maxHits = hits.map(_._2).reduce((a, b) => greatest(a, b))
    hits.foldRight(lit("und")) { case ((l, h), acc) =>
      when(h === maxHits && maxHits > 0, lit(l)).otherwise(acc)
    }
  }

  def langId(text: Column): Column = langIdFromTokens(toks(text))

  /** DuckDB equivalent of [[langId]] over column `col`. */
  def langIdSql(col: String): String = {
    def hits(ws: Seq[String]) =
      s"len(list_filter(${TextFunctions.wsTokensSql(s"lower($col)")}, " +
        s"t -> t IN (${ws.map(w => s"'$w'").mkString(",")})))"
    val hs = LangWords.map { case (l, ws) => l -> hits(ws) }
    val maxExpr = s"greatest(${hs.map(_._2).mkString(", ")})"
    val cases = hs.map { case (l, h) =>
      s"WHEN $h = m AND m > 0 THEN '$l'"
    }.mkString(" ")
    s"(SELECT CASE $cases ELSE 'und' END FROM (SELECT $maxExpr AS m))"
  }

  /** Heuristic quality score in [0,1]:
    *  0.4 · min(words/100, 1)  — enough content
    *  0.3 · stopword ratio ×5 capped — natural-language-ness
    *  0.3 · distinct-token ratio     — not a single repeated token
    * Arithmetic is association-ordered identically in [[qualitySql]]. */
  def qualityScoreFromTokens(t: Column): Column = {
    val n = size(t).cast("double")
    val enHits = langHitsFromTokens(t, LangWords.head._2).cast("double")
    val distinctRatio = size(array_distinct(t)).cast("double") / n
    val lenScore = least(n / 100.0, lit(1.0))
    val stopScore = least(enHits / n * 5.0, lit(1.0))
    when(n === 0.0, 0.0)
      .otherwise(lenScore * 0.4 + stopScore * 0.3 + distinctRatio * 0.3)
  }

  def qualityScore(text: Column): Column = qualityScoreFromTokens(toks(text))

  /** Gopher-style quality rule columns (the published heuristic filter
    * set from the Gopher paper): each is a boolean "passes rule"
    * Column over (text, its token array, its line array). Ratios are
    * single divisions over integer counts, so Spark and the SQL twin
    * agree exactly. */
  def gopherRules(text: Column, t: Column, lines: Column): Map[String, Column] = {
    val n = size(t).cast("double")
    val charSum = aggregate(transform(t, x => length(x).cast("long")),
      lit(0L), (a, v) => a + v).cast("double")
    val hashes = (length(text) - length(regexp_replace(text, "#", ""))).cast("double")
    val ellipses = ((length(text) -
      length(regexp_replace(text, "\\.\\.\\.", ""))) / 3).cast("double")
    val alphaWords = size(filter(t, w => w.rlike("[a-z]"))).cast("double")
    val nLines = size(lines).cast("double")
    val bulletLines = size(filter(lines, l =>
      ltrim(l).startsWith("-") || ltrim(l).startsWith("*") ||
        ltrim(l).startsWith("•"))).cast("double")
    val ellipsisLines = size(filter(lines, l =>
      rtrim(l).endsWith("...") || rtrim(l).endsWith("…"))).cast("double")
    Map(
      "word_count" -> (size(t) >= 50 && size(t) <= 100000),
      "mean_word_len" -> (n > 0 && charSum / n >= 3.0 && charSum / n <= 10.0),
      "symbol_ratio" -> (n > 0 && (hashes + ellipses) / n < 0.1),
      "bullet_lines" -> (nLines > 0 && bulletLines / nLines < 0.9),
      "ellipsis_lines" -> (nLines > 0 && ellipsisLines / nLines < 0.3),
      "alpha_words" -> (n > 0 && alphaWords / n > 0.8),
      "stopword_hits" -> (langHitsFromTokens(t, LangWords.head._2) >= 2))
  }

  val GopherRuleNames: Seq[String] = Seq("word_count", "mean_word_len",
    "symbol_ratio", "bullet_lines", "ellipsis_lines", "alpha_words",
    "stopword_hits")

  /** DuckDB twins of [[gopherRules]], same names, over column `col`. */
  def gopherRulesSql(col: String): Map[String, String] = {
    val t = TextFunctions.wsTokensSql(s"lower($col)")
    val ws = LangWords.head._2.map(w => s"'$w'").mkString(",")
    val lines = s"string_split($col, chr(10))"
    def n = s"CAST(len($t) AS DOUBLE)"
    val charSum = s"CAST(list_sum(list_transform($t, x -> strlen(x))) AS DOUBLE)"
    val hashes = s"CAST(strlen($col) - strlen(replace($col, '#', '')) AS DOUBLE)"
    val ellipses = s"CAST((strlen($col) - strlen(replace($col, '...', ''))) // 3 AS DOUBLE)"
    val alphaWords = s"CAST(len(list_filter($t, x -> regexp_matches(x, '[a-z]'))) AS DOUBLE)"
    val nLines = s"CAST(len($lines) AS DOUBLE)"
    val bulletLines = s"CAST(len(list_filter($lines, l -> starts_with(ltrim(l), '-') " +
      s"OR starts_with(ltrim(l), '*') OR starts_with(ltrim(l), '•'))) AS DOUBLE)"
    val ellipsisLines = s"CAST(len(list_filter($lines, l -> ends_with(rtrim(l), '...') " +
      s"OR ends_with(rtrim(l), '…'))) AS DOUBLE)"
    Map(
      "word_count" -> s"(len($t) >= 50 AND len($t) <= 100000)",
      "mean_word_len" -> s"($n > 0 AND $charSum / $n >= 3.0 AND $charSum / $n <= 10.0)",
      "symbol_ratio" -> s"($n > 0 AND ($hashes + $ellipses) / $n < 0.1)",
      "bullet_lines" -> s"($nLines > 0 AND $bulletLines / $nLines < 0.9)",
      "ellipsis_lines" -> s"($nLines > 0 AND $ellipsisLines / $nLines < 0.3)",
      "alpha_words" -> s"($n > 0 AND $alphaWords / $n > 0.8)",
      "stopword_hits" -> s"(len(list_filter($t, x -> x IN ($ws))) >= 2)")
  }

  /** Fixed-size token chunking with overlap: long documents split into
    * training-window chunks of `chunk` tokens, consecutive chunks
    * sharing `overlap` tokens (stride = chunk − overlap); the tail
    * chunk may run short. Pure map-side explode — ≤ n/stride + 1 rows
    * per doc, no shuffle — the standard context-window preprocessing
    * for an embedding or LM training pipeline.
    * Output: (`doc_id`, `chunk_idx`, `chunk` array). */
  def chunkTokens(docs: org.apache.spark.sql.DataFrame, chunk: Int,
                  overlap: Int): org.apache.spark.sql.DataFrame = {
    require(overlap >= 0 && overlap < chunk,
      "overlap must be in [0, chunk) or the stride is not positive")
    val stride = chunk - overlap
    docs.select(col("doc_id"), toks(col("text")).as("t"))
      .withColumn("n", size(col("t")))
      .where(col("n") > 0)
      // integer ceil of (n - overlap) / stride, min 1 — counted so the
      // last stride-aligned start still covers the final token
      .withColumn("n_chunks",
        expr(s"(greatest(n - $overlap, 1) + ${stride - 1}) div $stride"))
      .select(col("doc_id"), col("t"),
        explode(sequence(lit(0L), col("n_chunks") - 1)).as("chunk_idx"))
      .select(col("doc_id"), col("chunk_idx"),
        expr(s"slice(t, CAST(chunk_idx * $stride + 1 AS INT), $chunk)").as("chunk"))
  }

  /** DuckDB twin of [[chunkTokens]] as a CTE block ending in relation
    * `chunks(doc_id, chunk_idx, chunk)`; `filter` narrows the doc
    * cohort. */
  def chunkTokensCte(chunk: Int, overlap: Int, filter: String): String = {
    val stride = chunk - overlap
    s"""WITH toks AS (
       |  SELECT doc_id, ${TextFunctions.wsTokensSql("lower(text)")} AS t
       |  FROM documents $filter),
       |x AS (SELECT doc_id, t, len(t) AS n FROM toks WHERE len(t) > 0),
       |k AS (
       |  SELECT doc_id, t, n,
       |         unnest(range(0, (greatest(n - $overlap, 1) + ${stride - 1}) // $stride)) AS chunk_idx
       |  FROM x),
       |chunks AS (
       |  SELECT doc_id, chunk_idx,
       |         list_slice(t, chunk_idx * $stride + 1, chunk_idx * $stride + $chunk) AS chunk
       |  FROM k)""".stripMargin
  }

  /** TF-IDF relevance: top-N documents by Σ_t tf(t,d) · idf(t) over a
    * fixed query-term set. idf is quantized to fixed point —
    * `(N_docs · 10^6) div df(t)` in integer arithmetic — so the score
    * is an exact BIGINT on both engines: floating idf (ln-based) would
    * hang cross-engine parity on libm rounding and summation order,
    * and ranking is insensitive to the quantization.
    *
    * Scale shape: the term filter prunes the exploded tokens to the
    * query's terms BEFORE the shuffle; df and N are one-row/broadcast
    * side inputs; the per-doc sum shuffles only (doc_id, term) pairs
    * that matched. */
  def tfidfTopK(docs: org.apache.spark.sql.DataFrame, terms: Seq[String],
                topN: Int): org.apache.spark.sql.DataFrame = {
    val tf = docs
      .select(col("doc_id"), explode(toks(col("text"))).as("tok"))
      .where(col("tok").isin(terms: _*))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    tf.join(broadcast(dfreq), Seq("tok"))
      .crossJoin(broadcast(n))
      .groupBy(col("doc_id"))
      .agg(sum(expr("tf * ((n_docs * 1000000) div df)")).as("score"))
      .orderBy(desc("score"), col("doc_id"))
      .limit(topN)
  }

  /** DuckDB twin of [[tfidfTopK]] (same fixed-point idf). */
  def tfidfSql(terms: Seq[String], topN: Int): String = {
    val in = terms.map(t => s"'$t'").mkString(", ")
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(${TextFunctions.wsTokensSql("lower(text)")}) AS tok
       |  FROM documents),
       |ft AS (
       |  SELECT doc_id, tok, COUNT(*) AS tf FROM toks
       |  WHERE tok IN ($in) GROUP BY doc_id, tok),
       |dfreq AS (SELECT tok, COUNT(*) AS df FROM ft GROUP BY tok),
       |n AS (SELECT COUNT(*) AS n_docs FROM documents)
       |SELECT doc_id,
       |       CAST(SUM(tf * ((n_docs * 1000000) // df)) AS BIGINT) AS score
       |FROM ft JOIN dfreq USING (tok), n
       |GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT $topN""".stripMargin
  }

  // ------------------------------------------ repetition signals (Gopher)

  /** Gopher-style per-document repetition signals (Rae et al. 2021,
    * table A1; reference analog: the quality-filter stage its corpus
    * ingest assumes upstream of backend/app/main.py's analytics): for
    * each document, the fraction of duplicate "lines" (the corpus has
    * no newlines, so a line = a fixed `segWords`-word segment — d13's
    * [[Dedup.lineDedup]] convention), the characters those duplicates
    * cover, the character share of the single most frequent word
    * n-gram (for each n in `topNs`), and the character share covered
    * by ANY within-doc duplicated n-gram (for each n in `dupNs`,
    * positional union so overlapping duplicates are not double-counted).
    *
    * All numerators/denominators are exact integers over token chars
    * (spaces excluded); each fraction is ONE final double division, so
    * the DuckDB oracle ([[repetitionSignalsSql]]) matches bit-exactly.
    *
    * Scale posture (100 TB): ONE native per-row expression
    * ([[graft.functions.RepetitionStats]]) — zero shuffles,
    * embarrassingly parallel, whole rows never leave their input
    * partition, and the within-doc counting is a linear hash-map pass.
    * (The first formulation counted with nested per-row lambdas —
    * O(grams²) string comparisons per document per width, which
    * measured 32 s for 1.7k sf0.1-sized docs where the native pass
    * takes under a second; the emitted integers are identical.) */
  def repetitionSignals(docs: org.apache.spark.sql.DataFrame,
                        segWords: Int = 8,
                        topNs: Seq[Int] = Seq(2, 3, 4),
                        dupNs: Seq[Int] = Seq(5, 10)): org.apache.spark.sql.DataFrame = {
    require(segWords >= 1, s"segWords must be >= 1, got $segWords")
    require((topNs ++ dupNs).forall(_ >= 1), "n-gram widths must be >= 1")
    require(topNs.distinct == topNs && dupNs.distinct == dupNs,
      s"duplicate n-gram widths would emit duplicate output columns: $topNs $dupNs")
    // the stats array is aliased once and referenced per signal — the
    // projection split keeps CollapseProject from inlining (re-running)
    // the native pass per output column
    val staged = docs.select(col("doc_id"),
      graft.functions.Registry.repetitionStats(
        split(col("text"), " "), segWords, topNs, dupNs).as("st"))
    def st(i: Int): Column = element_at(col("st"), i + 1)
    def frac(numer: Column): Column =
      when(st(1) === 0, lit(0.0)).otherwise(numer.cast("double") / st(1))
    staged.select(Seq(
      col("doc_id"),
      st(0).as("n_words"),
      st(1).as("total_chars"),
      st(2).as("n_lines"),
      when(st(2) === 0, lit(0.0))
        .otherwise(st(3).cast("double") / st(2)).as("dup_line_frac"),
      frac(st(4)).as("dup_line_char_frac")) ++
      topNs.zipWithIndex.map { case (n, i) =>
        frac(st(5 + i)).as(s"top${n}_char_frac") } ++
      dupNs.zipWithIndex.map { case (n, i) =>
        frac(st(5 + topNs.size + i)).as(s"dup${n}_char_frac") }: _*)
  }

  /** DuckDB oracle for [[repetitionSignals]]: the identical rules in
    * relational form (explode + group-count instead of per-row lambda
    * counting — same integers, one identical final division).
    * `from` must expose (doc_id, text). */
  def repetitionSignalsSql(segWords: Int = 8,
                           topNs: Seq[Int] = Seq(2, 3, 4),
                           dupNs: Seq[Int] = Seq(5, 10),
                           from: String = "documents"): String = {
    require(topNs.distinct == topNs && dupNs.distinct == dupNs,
      s"duplicate n-gram widths would emit duplicate CTE names: $topNs $dupNs")
    val ns = (topNs ++ dupNs).distinct
    val gramCtes = ns.map { n =>
      s"""g$n AS (
         |  SELECT w.doc_id, s.i AS pos,
         |         array_to_string(w.w[s.i : s.i + ${n - 1}], ' ') AS gram
         |  FROM w, LATERAL (
         |    SELECT unnest(range(1, GREATEST(len(w.w) - $n + 1, 0) + 1)) AS i) s)"""
        .stripMargin
    }
    val topCtes = topNs.map { n =>
      s"""top$n AS (
         |  SELECT doc_id, MAX(cnt * LENGTH(REPLACE(gram, ' ', ''))) AS topchars
         |  FROM (SELECT doc_id, gram, COUNT(*) AS cnt
         |        FROM g$n GROUP BY doc_id, gram) t
         |  GROUP BY doc_id)""".stripMargin
    }
    val dupCtes = dupNs.map { n =>
      s"""dup$n AS (
         |  SELECT c.doc_id, CAST(SUM(LENGTH(ww.w[c.p])) AS BIGINT) AS dupchars
         |  FROM (SELECT DISTINCT d.doc_id, r.p
         |        FROM (SELECT doc_id, pos FROM g$n
         |              QUALIFY COUNT(*) OVER (PARTITION BY doc_id, gram) >= 2) d,
         |             LATERAL (SELECT unnest(range(d.pos, d.pos + $n)) AS p) r) c
         |  JOIN w ww ON ww.doc_id = c.doc_id
         |  GROUP BY c.doc_id)""".stripMargin
    }
    val topSel = topNs.map(n =>
      s"""       CASE WHEN w.total_chars = 0 THEN 0.0 ELSE
         |         CAST(COALESCE(top$n.topchars, 0) AS DOUBLE) / w.total_chars END
         |         AS top${n}_char_frac""".stripMargin)
    val dupSel = dupNs.map(n =>
      s"""       CASE WHEN w.total_chars = 0 THEN 0.0 ELSE
         |         CAST(COALESCE(dup$n.dupchars, 0) AS DOUBLE) / w.total_chars END
         |         AS dup${n}_char_frac""".stripMargin)
    val joins = (topNs.map(n => s"top$n") ++ dupNs.map(n => s"dup$n"))
      .map(t => s"LEFT JOIN $t ON $t.doc_id = w.doc_id").mkString("\n")
    s"""WITH w AS (
       |  SELECT doc_id, string_split(text, ' ') AS w,
       |         CAST(LENGTH(REPLACE(text, ' ', '')) AS BIGINT) AS total_chars
       |  FROM $from),
       |segs AS (
       |  SELECT w.doc_id,
       |         array_to_string(
       |           w.w[(s.i - 1) * $segWords + 1 : s.i * $segWords], ' ') AS seg
       |  FROM w, LATERAL (
       |    SELECT unnest(range(1,
       |      CAST(ceil(len(w.w) / $segWords.0) AS BIGINT) + 1)) AS i) s),
       |segagg AS (
       |  SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_lines,
       |         CAST(SUM(cnt - 1) AS BIGINT) AS dup_lines,
       |         CAST(SUM((cnt - 1) * segchars) AS BIGINT) AS dup_line_chars
       |  FROM (SELECT doc_id, seg, COUNT(*) AS cnt,
       |               LENGTH(REPLACE(seg, ' ', '')) AS segchars
       |        FROM segs GROUP BY doc_id, seg) g
       |  GROUP BY doc_id),
       |${(gramCtes ++ topCtes ++ dupCtes).mkString(",\n")}
       |SELECT w.doc_id,
       |       CAST(len(w.w) AS BIGINT) AS n_words,
       |       w.total_chars,
       |       segagg.n_lines,
       |       CASE WHEN segagg.n_lines = 0 THEN 0.0 ELSE
       |         CAST(segagg.dup_lines AS DOUBLE) / segagg.n_lines END
       |         AS dup_line_frac,
       |       CASE WHEN w.total_chars = 0 THEN 0.0 ELSE
       |         CAST(segagg.dup_line_chars AS DOUBLE) / w.total_chars END
       |         AS dup_line_char_frac,
       |${(topSel ++ dupSel).mkString(",\n")}
       |FROM w JOIN segagg ON segagg.doc_id = w.doc_id
       |$joins
       |ORDER BY w.doc_id""".stripMargin
  }

  def qualitySql(col: String): String = {
    val t = TextFunctions.wsTokensSql(s"lower($col)")
    val ws = LangWords.head._2.map(w => s"'$w'").mkString(",")
    s"""(SELECT CASE WHEN n = 0 THEN 0.0 ELSE
       |   least(n / 100.0, 1.0) * 0.4
       | + least(eh / n * 5.0, 1.0) * 0.3
       | + (dn / n) * 0.3 END
       | FROM (SELECT CAST(len($t) AS DOUBLE) AS n,
       |              CAST(len(list_filter($t, x -> x IN ($ws))) AS DOUBLE) AS eh,
       |              CAST(len(list_distinct($t)) AS DOUBLE) AS dn))""".stripMargin
  }

  // -------------------------------- line-level language segmentation

  /** t15, stage 1 — per-LINE language verdicts. [[langId]] is a
    * document-level call; web-crawl documents are routinely
    * mixed-language (boilerplate navigation in one language, body in
    * another), and a curation pipeline filtering on document langID
    * alone either drops the whole doc or keeps the foreign lines. One
    * row per newline-delimited line: (doc_id, line_no 1-based, line,
    * n_chars, line_lang), blank lines included (verdict "und") so
    * `line_no` stays addressable against the original text.
    *
    * Scale shape: posexplode + per-row Column arithmetic — map-side
    * only, no shuffle; the [[graft.functions.StopwordHits]] native
    * expression makes the per-line verdict one pass over the line's
    * tokens. */
  def lineLang(docs: org.apache.spark.sql.DataFrame,
               textCol: String = "text"): org.apache.spark.sql.DataFrame =
    docs.select(col("doc_id"),
        posexplode(split(col(textCol), "\n")).as(Seq("i0", "line")))
      .select(col("doc_id"), (col("i0") + 1).as("line_no"), col("line"),
        length(col("line")).cast("long").as("n_chars"),
        langId(col("line")).as("line_lang"))

  /** t15, stage 2 — per-document language-mix summary over
    * [[lineLang]]'s verdicts, blank lines excluded: line count,
    * distinct verdicts, the DOMINANT language by character mass
    * (tiebreak: larger language code — deterministic on both engines),
    * and the dominant language's character share. `n_langs > 1` (or a
    * low `dominant_frac`) is the mixed-document signal a line-level
    * filter keys on. One shuffle on (doc_id, lang) with map-side
    * partial aggregation, then a doc-keyed rollup — no windows. */
  def langSegmentSummary(docs: org.apache.spark.sql.DataFrame,
                         textCol: String = "text")
      : org.apache.spark.sql.DataFrame = {
    val lines = lineLang(docs, textCol)
      .where(length(trim(col("line"))) > 0)
    val mass = lines.groupBy(col("doc_id"), col("line_lang"))
      .agg(count(lit(1)).as("n_lines"), sum(col("n_chars")).as("chars"))
    mass.groupBy(col("doc_id"))
      .agg(sum(col("n_lines")).cast("long").as("n_lines"),
        countDistinct(col("line_lang")).as("n_langs"),
        max(struct(col("chars"), col("line_lang"))).as("dom"),
        sum(col("chars")).cast("long").as("total_chars"))
      .select(col("doc_id"), col("n_lines"), col("n_langs"),
        col("dom").getField("line_lang").as("dominant_lang"),
        round(col("dom").getField("chars") / col("total_chars"), 4)
          .as("dominant_frac"))
  }

  /** DuckDB twin of [[langSegmentSummary]] over `from`(doc_id, text
    * via `textExpr`): same line split, blank-line rule, per-line
    * verdict and (chars DESC, lang DESC) dominance tiebreak. */
  def langSegmentSummarySql(textExpr: String,
                            from: String = "documents"): String =
    s"""WITH ls AS (
       |  SELECT doc_id, string_split($textExpr, chr(10)) AS ls FROM $from),
       |lines AS (
       |  SELECT ls.doc_id, ls.ls[s.i] AS line
       |  FROM ls, LATERAL (
       |    SELECT unnest(range(1, len(ls.ls) + 1)) AS i) s),
       |nb AS (
       |  SELECT doc_id, CAST(length(line) AS BIGINT) AS n_chars,
       |         ${langIdSql("line")} AS line_lang
       |  FROM lines WHERE trim(line) <> ''),
       |mass AS (
       |  SELECT doc_id, line_lang, COUNT(*) AS n_lines,
       |         CAST(SUM(n_chars) AS BIGINT) AS chars
       |  FROM nb GROUP BY 1, 2),
       |tot AS (
       |  SELECT doc_id, CAST(SUM(n_lines) AS BIGINT) AS n_lines,
       |         COUNT(DISTINCT line_lang) AS n_langs,
       |         CAST(SUM(chars) AS BIGINT) AS total_chars
       |  FROM mass GROUP BY 1),
       |dom AS (
       |  SELECT doc_id, line_lang, chars, row_number() OVER (
       |    PARTITION BY doc_id ORDER BY chars DESC, line_lang DESC) AS rn
       |  FROM mass)
       |SELECT t.doc_id, t.n_lines, t.n_langs,
       |       d.line_lang AS dominant_lang,
       |       round(d.chars / t.total_chars, 4) AS dominant_frac
       |FROM tot t JOIN dom d ON t.doc_id = d.doc_id AND d.rn = 1
       |ORDER BY t.doc_id""".stripMargin
}
