package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Graph operators for corpus curation. The motivating production use
  * is host-level PageRank as a document-quality prior (the Common
  * Crawl curation signal: rank the web-host graph, score each page by
  * its host), computed here as the general weighted-PageRank operator
  * over any (src, dst, w) edge relation.
  *
  * Scale posture (100 TB): each iteration is the Pregel superstep shape
  * — ranks join edges partitioned by src (one shuffle), contributions
  * aggregate by dst (one shuffle, map-side combined). Rank state is
  * |V| rows, edges |E| rows; nothing quadratic, no driver-side graph.
  * The iterated relation is localCheckpointed every `checkpointEvery`
  * rounds so the logical plan cannot double per round (the same
  * lineage-blowup fix as [[Dedup.connectedComponents]]).
  *
  * All arithmetic is FIXED-POINT on BIGINT (ranks scaled by `scale`,
  * damping as the rational dampNum/dampDen, integer division
  * throughout): integer sums are order-independent, so the result is
  * bit-identical across engines, partitionings, and retries — a
  * floating-point PageRank cannot hash-match a SQL oracle, this one
  * can ([[pageRankSql]] unrolls the same recurrence as CTEs).
  *
  * Semantics: r₀(v) = scale;
  * rᵢ₊₁(v) = base + (dampNum · Σ_{(u,v,w)∈E} ⌊rᵢ(u)·w / wout(u)⌋) div dampDen
  * with base = ⌊(dampDen − dampNum)·scale / dampDen⌋. Dangling nodes
  * (no out-edges) contribute nothing — the documented simplification;
  * total mass decays slightly instead of being redistributed.
  */
object Graph {

  /** Weighted fixed-point PageRank over `edges(src, dst, w)`.
    * Returns (id, rank_fp) for every node appearing as src or dst.
    *
    * Overflow bound — the REAL one accounts for mass concentration
    * AND edge weights: total rank mass starts at |V|·scale and only
    * decays, and on a hub-heavy graph almost all of it can land on
    * one node, so `r ≤ |V|·scale`. The hot intermediates are then
    * - `r·w` (the multiply happens BEFORE the `div wout`), bounded by
    *   |V|·scale·w_max where w_max is the largest edge weight —
    *   w_max is NOT absorbed by the division, so aggregate-count
    *   weights (e.g. g1's lineitem counts at larger SFs, w ~ 10^6)
    *   tighten the bound by that factor;
    * - `dampNum·c`, bounded by dampNum·|V|·scale.
    * PROVABLY safe iff `scale ≤ 2^63 / (|V| · max(w_max, dampNum))`
    * ([[Graph.safeScale]] with the graph's max weight) — but that
    * worst case assumes FULL concentration, and real hub graphs
    * spread mass (a 5M-node run at the default 10^12 completed
    * comfortably, well past the worst-case bound; SURVEY "PageRank
    * scaling"), so rejecting on it
    * up front would refuse graphs that are fine. The guard is
    * therefore two-tier:
    * - a HARD precondition `(|V|+1)·scale ≤ 2^63` (total mass plus
    *   the teleport term must fit — without it even the aggregate
    *   sums are unsound) plus positive weights;
    * - per-row overflow TRAPS on the two hot products: `r·w` checks
    *   `r > 2^63/w` (a per-edge limit precomputed once on the
    *   checkpointed operand, so the loop pays one comparison) and
    *   `dampNum·c` checks against a folded constant — either trap
    *   `raise_error`s with the safeScale recommendation instead of
    *   silently wrapping Long and corrupting ranks. The trap branches
    *   are dead when no overflow occurs, so results are bit-identical
    *   to the unguarded recurrence and the SQL oracle. */
  def pageRank(edges: DataFrame, iters: Int,
               scale: Long = 1000000000000L,
               dampNum: Long = 85, dampDen: Long = 100,
               checkpointEvery: Int = 5): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(dampNum > 0 && dampNum < dampDen, s"damping must be in (0,1)")
    val e = edges.select(col("src"), col("dst"), col("w").cast("long").as("w"))
    val deg = e.groupBy(col("src")).agg(sum(col("w")).as("wout"))
    // (src, dst, w, wout) — the static operand every iteration joins.
    // EAGER localCheckpoint, not cache: the loop is lazy (no action
    // until the caller's), so a cache would never materialize before
    // use and the upstream edge derivation (often a multi-table join)
    // would re-execute once per iteration branch. All operands are
    // positive, so Spark's truncating `div` and DuckDB's flooring `//`
    // agree.
    // rlim = the largest rank this edge can multiply without wrapping:
    // precomputed ONCE on the checkpointed operand, so the per-
    // iteration trap is a single comparison per edge, not a division
    val ew = e.join(deg, Seq("src"))
      // greatest(w,1): w <= 0 is rejected by the positivity require
      // below, but that check reads this same checkpoint — computing
      // rlim must not ANSI-throw divide-by-zero before it runs
      .withColumn("rlim", expr(s"${Long.MaxValue}L div greatest(w, 1L)"))
      .localCheckpoint()
    // node set read off the checkpointed leaf — consumed iters+1 times
    val nodes = ew.select(col("src").as("id"))
      .union(ew.select(col("dst").as("id"))).distinct().localCheckpoint()
    // Hard preconditions (cheap scans of the materialized leaves):
    // positive weights, and total mass |V|·scale plus the teleport
    // term must fit a Long — a necessary condition for ANY run; the
    // sufficient worst-case bound is enforced lazily by the traps.
    val wRow = ew.agg(min(col("w")).as("wmin"), max(col("w")).as("wmax")).head
    if (!wRow.isNullAt(0)) {
      val (wMin, wMax) = (wRow.getLong(0), wRow.getLong(1))
      require(wMin >= 1L,
        s"edge weights must be positive (min was $wMin): zero/negative " +
          "weights break the mass-decay bound and the truncating-div parity")
      val nV = nodes.count()
      require(BigInt(nV + 1) * BigInt(scale) <= Long.MaxValue,
        s"(|V|+1)*scale overflows Long at |V|=$nV, scale=$scale — " +
          s"use Graph.safeScale($nV, $wMax) = ${safeScale(nV, wMax)}")
    }
    val overflowMsg = "pageRank fixed-point overflow: rank*w exceeds " +
      "Long — rerun with scale = Graph.safeScale(|V|, max(w))"
    val cLim = Long.MaxValue / dampNum
    val base = (dampDen - dampNum) * scale / dampDen
    var ranks = nodes.withColumn("r", lit(scale))
    for (i <- 1 to iters) {
      val contrib = ew.join(ranks.withColumnRenamed("id", "src"), Seq("src"))
        .select(col("dst"), expr(
          s"(CASE WHEN r > rlim THEN CAST(raise_error('$overflowMsg') AS BIGINT) " +
            "ELSE r * w END) div wout").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("c"))
      ranks = nodes.join(contrib.withColumnRenamed("dst", "id"), Seq("id"), "left")
        .select(col("id"),
          (lit(base) + expr(
            s"(CASE WHEN coalesce(c, 0L) > ${cLim}L THEN " +
              s"CAST(raise_error('$overflowMsg') AS BIGINT) " +
              s"ELSE $dampNum * coalesce(c, 0L) END) div $dampDen")).as("r"))
      if (i % checkpointEvery == 0 && i < iters)
        ranks = ranks.localCheckpoint()
    }
    ranks.select(col("id"), col("r").as("rank_fp"))
  }

  /** Largest scale that cannot overflow Long even if ALL rank mass
    * concentrates on one node of an `nNodes`-node graph whose largest
    * edge weight is `wMax`: the `r·w` intermediate multiplies the
    * concentrated rank by the raw weight BEFORE dividing by wout, so
    * the weight term is a real factor in the bound, not absorbed by
    * the division. The divisor is `nNodes · max(wMax, 128)` — 128
    * covers the damping product (dampNum ≤ 85 by default) with
    * headroom, wMax covers the weight product; whichever binds wins.
    * `wMax` defaults to 1 for unit-weight graphs ONLY — for weighted
    * graphs (aggregate-count weights reach ~10^6 on g1-style inputs)
    * pass the real max weight, or rely on [[pageRank]]'s runtime
    * guard to reject an unsafe combination loudly. May return a scale
    * below 1000 for extreme |V|·wMax — resolution degrades, safety
    * does not. */
  def safeScale(nNodes: Long, wMax: Long = 1L): Long = {
    require(nNodes >= 1 && wMax >= 1, s"need nNodes>=1, wMax>=1")
    val divisor = BigInt(nNodes) * BigInt(math.max(wMax, 128L))
    (BigInt(Long.MaxValue) / divisor).max(BigInt(1)).toLong
  }

  /** DuckDB twin of [[pageRank]]: the identical integer recurrence
    * unrolled as one CTE chain per iteration over an `edges` CTE the
    * caller binds (must produce columns src, dst, w). */
  def pageRankSql(edgesCte: String, iters: Int,
                  scale: Long = 1000000000000L,
                  dampNum: Long = 85, dampDen: Long = 100): String = {
    val base = (dampDen - dampNum) * scale / dampDen
    val sb = new StringBuilder
    sb.append(s"""WITH e AS ($edgesCte),
                 |nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
                 |deg AS (SELECT src, SUM(w) AS wout FROM e GROUP BY src),
                 |r0 AS (SELECT id, CAST($scale AS BIGINT) AS r FROM nodes)""".stripMargin)
    for (i <- 1 to iters) {
      val prev = s"r${i - 1}"
      sb.append(s""",
                   |c$i AS (
                   |  SELECT e.dst AS id, SUM(($prev.r * e.w) // d.wout) AS c
                   |  FROM e JOIN $prev ON e.src = $prev.id
                   |         JOIN deg d ON d.src = e.src
                   |  GROUP BY e.dst),
                   |r$i AS (
                   |  SELECT n.id,
                   |         CAST($base AS BIGINT) +
                   |           ($dampNum * COALESCE(c$i.c, 0)) // $dampDen AS r
                   |  FROM nodes n LEFT JOIN c$i ON n.id = c$i.id)""".stripMargin)
    }
    // SUM over BIGINT is HUGEINT in DuckDB and infects every later
    // expression — cast the final rank back so the column hash-matches
    sb.append(s"\nSELECT id, CAST(r AS BIGINT) AS rank_fp FROM r$iters")
    sb.toString
  }
}
