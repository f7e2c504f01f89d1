package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame
import graft.TestSpark
import graft.operators.LmScore.{LmModel, LmSpec, Smoothing}

/** Fixture pins for the n-gram LM core (q5–q13, the c8–c20 gates) and
  * the DSIR importance weights (s23). Counts and smoothing are checked
  * against hand arithmetic per estimator; the micro-nat quantization,
  * OOV backoff cascade, and bucket-boundary integer rule each get an
  * explicit case; the persisted lifecycle is pinned once over every
  * spec.
  */
class LmScoreSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def micro(p: Double): Long = math.floor(math.log(p) * 1e6 + 0.5).toLong

  private val globalAddHalf = LmSpec(Smoothing.AddHalf, perLang = false)
  private val globalKn = LmSpec(Smoothing.Kn, perLang = false)
  private val globalMkn = LmSpec(Smoothing.Mkn, perLang = false)

  /** `docs` scored under the model `spec` trains on `train`. */
  private def scored(spec: LmSpec, train: DataFrame, docs: DataFrame) =
    LmScore.score(LmScore.train(spec, train), docs)

  private def tmpDir(prefix: String) =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("trainBigram: add-half smoothing over hand-counted bigrams") {
    // corpus: "a b a b" -> (a,b) x2, (b,a) x1 ; "b b" -> (b,b) x1
    // c1: a->2, b->2 ; vocab = distinct w2 {a,b} + 1 = 3
    val docs = Seq((1L, "a b a b"), (2L, "b b")).toDF("doc_id", "text")
    val m = LmScore.train(globalAddHalf, docs)
    val got = m.lm.collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    assert(got(("a", "b")) === micro((2 + 0.5) / (2 + 1.5)))
    assert(got(("b", "a")) === micro((1 + 0.5) / (2 + 1.5)))
    assert(got(("b", "b")) === micro((1 + 0.5) / (2 + 1.5)))
    val u = m.u1.collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(u("a") === micro(0.5 / 3.5) && u("b") === micro(0.5 / 3.5))
  }

  test("surprisal: known, UNK-continuation, and unseen-w1 transitions each take their branch") {
    val train = Seq((1L, "a b a b"), (2L, "b b")).toDF("doc_id", "text")
    // "a b":   known        -> lp(a,b)
    // "a a":   unseen cont. -> unk(a)
    // "z a":   unseen w1    -> uniform ln(1/3)
    val score = Seq((10L, "a b"), (11L, "a a"), (12L, "z a")).toDF("doc_id", "text")
    val got = scored(globalAddHalf, train, score).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got === Seq(
      (10L, 1L, micro(2.5 / 3.5)),
      (11L, 1L, micro(0.5 / 3.5)),
      (12L, 1L, micro(1.0 / 3.0))))
    // surprisal column = -logp/n as an exact double division
    val s = scored(globalAddHalf, train, score).where($"doc_id" === 10L)
      .select($"surprisal").head.getDouble(0)
    assert(s === -micro(2.5 / 3.5).toDouble / 1L)
  }

  test("surprisal: sub-2-token docs contribute no rows; totals are bigint sums") {
    val train = Seq((1L, "a b c a b")).toDF("doc_id", "text")
    val score = Seq((2L, "a"), (3L, ""), (4L, "a b c")).toDF("doc_id", "text")
    val rows = scored(globalAddHalf, train, score).collect()
    assert(rows.map(_.getLong(0)).toSet === Set(4L))
    assert(rows.head.getLong(1) === 2L) // (a,b), (b,c)
  }

  test("ccnetBuckets: integer thirds rule matches row_number arithmetic incl. remainder") {
    // n=10 in one lang: head ranks 1..3 (r*3<=10), middle 4..6, tail 7..10
    val scored = (1 to 10).map(i => (i.toLong, "en", i.toDouble))
      .toDF("doc_id", "lang", "surprisal")
    val m = LmScore.ccnetBuckets(scored).select("doc_id", "bucket").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert((1 to 3).forall(i => m(i.toLong) == "head"))
    assert((4 to 6).forall(i => m(i.toLong) == "middle"))
    assert((7 to 10).forall(i => m(i.toLong) == "tail"))
  }

  test("ccnetBuckets: per-lang offsets from one global rank, ties broken by doc_id") {
    val scored = Seq(
      (1L, "en", 5.0), (2L, "en", 5.0), (3L, "en", 1.0),
      (4L, "de", 2.0), (5L, "de", 1.0), (6L, "de", 3.0))
      .toDF("doc_id", "lang", "surprisal")
    val m = LmScore.ccnetBuckets(scored).select("doc_id", "bucket").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    // en order: 3,1,2 (tie 5.0 broken by doc_id) ; de order: 5,4,6
    assert(m(3L) === "head" && m(1L) === "middle" && m(2L) === "tail")
    assert(m(5L) === "head" && m(4L) === "middle" && m(6L) === "tail")
  }

  test("lmSurvivorClusters (c8): survivor is the (min surprisal, min id) member of every cluster") {
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val out = Dedup.lmSurvivorClusters(docs, k = 3, bands = 8,
        rowsPerBand = 4, threshold = 0.05)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out.nonEmpty)
    // recompute the expectation from the composed parts' own outputs:
    // cluster members x per-doc surprisal -> min (surprisal, id) pick
    val comps = Dedup.connectedComponents(
        Dedup.minhashLshPairs(docs, 3, 8, 4, 0.05)
          .select($"id1", $"id2"), assumeDistinctPairs = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val surp = scored(globalAddHalf, docs, docs)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    val expect = comps.groupBy(_._2).map { case (comp, members) =>
      val best = members.map(_._1).minBy(id => (surp(id), id))
      comp -> ((members.size.toLong, best, surp(best)))
    }
    assert(out === expect)
    // and the LM rule is not the length rule: at least one cluster's
    // survivor differs from the longest-text pick somewhere across the
    // corpus, OR every cluster's lengths tie (guards silent fallback)
    val lens = docs.select($"doc_id", length($"text").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val lengthPick = comps.groupBy(_._2).map { case (comp, members) =>
      comp -> members.map(_._1).minBy(id => (-lens(id), id))
    }
    val differs = expect.exists { case (comp, (_, surv, _)) =>
      lengthPick(comp) != surv }
    val allTied = comps.groupBy(_._2).forall { case (_, ms) =>
      ms.map(m => lens(m._1)).distinct.size == 1 }
    assert(differs || allTied)
  }

  test("surprisalPerLang (q7): languages' models are isolated; totals match hand counts; cross-language model disagrees") {
    // en: "a b a b" -> (a,b)x2, (b,a)x1; c1: a=2, b=1; V = {a,b}+1 = 3
    // de: "a a b"   -> (a,a)x1, (a,b)x1; c1: a=2;      V = {a,b}+1 = 3
    val docs = Seq((1L, "en", "a b a b"), (2L, "de", "a a b"))
      .toDF("doc_id", "lang", "text")
    val got = scored(LmSpec(Smoothing.AddHalf, perLang = true), docs, docs)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(got === Seq(
      (1L, "en", 3L, 2 * micro(2.5 / 3.5) + micro(1.5 / 2.5)),
      (2L, "de", 2L, 2 * micro(1.5 / 3.5))))
    // the single cross-language model pools counts ((a,b)=3, c1(a)=4,
    // V=3), so doc 2 totals differently — per-lang isolation is real
    val cross = scored(globalAddHalf, docs, docs)
      .where(col("doc_id") === 2).head.getLong(2)
    assert(cross === micro(1.5 / 5.5) + micro(3.5 / 5.5))
    assert(cross !== 2 * micro(1.5 / 3.5))
  }

  test("lmSurvivorClustersAgainstLm (c9): the self-trained LM keeps the dup-inflated copy, the target LM keeps the fluent one") {
    // one near-dup cluster {1, 2}: 30 shared prefix tokens, tails
    // differ. Doc 1 ends in boilerplate ("zz zz") that 20 junk docs in
    // the SAME corpus repeat endlessly — the self-trained LM therefore
    // assigns that phrasing high probability (the duplicate-bias
    // defect). The target LM is trained on a clean slice where
    // "good day" is fluent and "zz" never occurs, so it keeps doc 2.
    val prefix = (1 to 30).map(i => s"w$i").mkString(" ")
    val corpus = (Seq(
      (1L, s"$prefix zz zz"),
      (2L, s"$prefix good day")) ++
      (100L to 119L).map(i => (i, "zz zz zz zz zz"))).toDF("doc_id", "text")
    val target = (200L to 204L).map(i => (i, s"$prefix good day"))
      .toDF("doc_id", "text")
    val lmDir = java.nio.file.Files.createTempDirectory("c9lm").toString
    LmScore.save(globalAddHalf, target, lmDir)
    def surv(df: org.apache.spark.sql.DataFrame): Map[Long, (Long, Long)] =
      df.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val self = surv(Dedup.lmSurvivorClusters(corpus, k = 3, bands = 8,
      rowsPerBand = 4, threshold = 0.05))
    val tgt = surv(Dedup.lmSurvivorClustersAgainstLm(corpus, spark, lmDir,
      k = 3, bands = 8, rowsPerBand = 4, threshold = 0.05))
    // comp label = min member id (HashMin); both see the same 2-member
    // cluster — only the keep rule differs
    assert(self(1L) === ((2L, 1L)),
      s"self-trained LM should keep the boilerplate copy (got $self)")
    assert(tgt(1L) === ((2L, 2L)),
      s"target LM should keep the fluent copy (got $tgt)")
  }

  test("surprisalTrigram: all four backoff tiers take their branch, hand-counted; backed-off tiers pay alpha") {
    // train "a b c a b c": trigrams (a,b,c)x2, (b,c,a), (c,a,b);
    // ctx(a,b)=2; V3 = |{a,b,c}|+1 = 4. bigram side: (a,b)x2, (b,c)x2,
    // (c,a); c1: a=2,b=2,c=1; V2 = 4. Every tier below the trigram one
    // pays the fixed stupid-backoff penalty ln(0.4)*1e6 = -916291
    // (one backoff level: bigram/UNK/uniform are all the bigram
    // model's opinion).
    val A = LmScore.BackoffPenaltyMicro
    assert(A === math.floor(math.log(0.4) * 1e6 + 0.5).toLong)
    val train = Seq((1L, "a b c a b c")).toDF("doc_id", "text")
    val score = Seq(
      (10L, "a b c"), // trigram tier: seen (a,b,c) — NO penalty
      (11L, "x b c"), // bigram tier: ctx (x,b) unseen, (b,c) seen
      (12L, "x a d"), // UNK tier: (a,d) unseen, w2=a seen
      (13L, "x y b")  // uniform tier: w2=y never seen
    ).toDF("doc_id", "text")
    val got = LmScore.surprisalTrigram(train, score).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got === Seq(
      (10L, 1L, micro(2.5 / 4.0)),       // (2+.5)/(2+.5*4)
      (11L, 1L, micro(2.5 / 4.0) + A),   // bigram (b,c) + alpha
      (12L, 1L, micro(0.5 / 4.0) + A),   // unk(a) + alpha
      (13L, 1L, micro(1.0 / 4.0) + A)))  // uniform 1/V2 + alpha
  }

  test("trainKnBigram: continuation counts, discount and normalization over hand-counted bigrams") {
    // corpus "a b a b" + "b b": (a,b)x2, (b,a)x1, (b,b)x1.
    // u1: a -> (c1=2, n1p=1), b -> (c1=2, n1p=2)
    // cont: nc(a)=1, nc(b)=2; T=3 types, Du=2, V=3
    // pcden = 4*3*3 = 36; pcnum(a) = (4-3)*3 + 6 = 9;
    // pcnum(b) = (8-3)*3 + 6 = 21; pcnum_unk = 6
    val docs = Seq((1L, "a b a b"), (2L, "b b")).toDF("doc_id", "text")
    val got = LmScore.train(globalKn, docs).lm.collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    assert(got(("a", "b")) === micro(((8 - 3) * 36.0 + 3 * 1 * 21) / (8 * 36)))
    assert(got(("b", "a")) === micro((1 * 36.0 + 3 * 2 * 9) / (8 * 36)))
    assert(got(("b", "b")) === micro((1 * 36.0 + 3 * 2 * 21) / (8 * 36)))
    // exact normalization of the scaled numerators: P(.|a) covers
    // seen b (243) + backoff a (27) + backoff UNK (18) = den 288;
    // P(.|b): 90 + 162 + 36 = 288; continuation: 9 + 21 + 6 = 36
    assert((8 - 3) * 36 + 3 * 21 === 243)
    assert(243 + 3 * 1 * 9 + 3 * 1 * 6 === 8 * 36)
    assert((36 + 3 * 2 * 9) + (36 + 3 * 2 * 21) + 3 * 2 * 6 === 8 * 36)
  }

  test("surprisalKn: every interpolation branch takes its arm, hand-counted") {
    val train = Seq((1L, "a b a b"), (2L, "b b")).toDF("doc_id", "text")
    val score = Seq(
      (10L, "a b"), // seen bigram -> precomputed lp
      (11L, "a a"), // seen w1, unseen (a,a), a is a known continuation
      (12L, "a z"), // seen w1, z OOV -> pcnum_unk
      (13L, "z a"), // unseen w1 -> continuation distribution
      (14L, "z q")  // unseen w1, OOV w2 -> UNK continuation share
    ).toDF("doc_id", "text")
    val got = scored(globalKn, train, score).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got === Seq(
      (10L, 1L, micro(243.0 / 288)),
      (11L, 1L, micro((3 * 1 * 9).toDouble / 288)),
      (12L, 1L, micro((3 * 1 * 6).toDouble / 288)),
      (13L, 1L, micro(9.0 / 36)),
      (14L, 1L, micro(6.0 / 36))))
  }

  test("surprisalKnTrigram: every interpolation arm, hand-counted; per-level numerators telescope to the denominator") {
    // train "a b c a b c": kt3 = {abc:2, bca:1, cab:1};
    // ktc: (a,b)->(2,1), (b,c)->(1,1), (c,a)->(1,1)
    // mid (continuation counts): (b,c):1, (c,a):1, (a,b):1
    // mc: each w2 -> (cm2=1, n1pm=1); TB=3, DuB=3, V=4, PBden=48
    // pb: every seen w3: (4-3)*4 + 9 = 13 ; pbnum_unk = 9
    // pm: every seen (w2,w3): (4-3)*48 + 3*1*13 = 87 ; pmden = 192
    // lm3(a,b,c): ((8-3)*192 + 3*1*87) / (4*2*192) = 1221/1536
    val train = Seq((1L, "a b c a b c")).toDF("doc_id", "text")
    val score = Seq(
      (10L, "a b c"), // seen trigram
      (11L, "a b d"), // seen context (a,b), unseen w3 everywhere
      (12L, "x b c"), // unseen context, w2 seen, (b,c) mid-seen
      (13L, "x b a"), // unseen context, w2 seen, (b,a) mid-unseen
      (14L, "x y c")  // w2 never seen -> continuation unigram
    ).toDF("doc_id", "text")
    val got = LmScore.surprisalKnTrigram(train, score).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got === Seq(
      (10L, 1L, micro(1221.0 / 1536)),
      (11L, 1L, micro((3 * 1 * (3 * 1 * 9)).toDouble / 1536)), // 81/1536
      (12L, 1L, micro(87.0 / 192)),
      (13L, 1L, micro((3 * 1 * 13).toDouble / 192)),           // 39/192
      (14L, 1L, micro(13.0 / 48))))
    // telescoping identities: mid level for w2=b (seen c, unseen a/b,
    // UNK) sums to pmden; top level for (a,b) sums to its denominator
    assert(87 + 39 + 39 + 27 === 192)
    assert(1221 + 117 + 117 + 81 === 4 * 2 * 192)
  }

  test("KN vs add-half: a bursty word and a spread word rank DIFFERENTLY (the case KN exists for)") {
    // "zzz" occurs 5x, always after the SAME context (one bursty doc);
    // "qqq" occurs 5x after 5 DISTINCT contexts. Equal total counts.
    // Score "fresh zzz" vs "fresh qqq" ("fresh" is a seen w1, both
    // bigrams unseen): add-half's backoff is the per-w1 UNK mass —
    // blind to w2, so the two docs score IDENTICALLY. KN's backoff is
    // the continuation distribution: nc(qqq)=5 >> nc(zzz)=1, so the
    // spread word scores strictly better. This ranking flip is the
    // estimator fix q11/c15 ship.
    val train = Seq(
      (1L, "aaa zzz aaa zzz aaa zzz aaa zzz aaa zzz"),
      (2L, "p1 qqq p2 qqq p3 qqq p4 qqq p5 qqq"),
      (3L, "fresh other")).toDF("doc_id", "text")
    val score = Seq((10L, "fresh zzz"), (11L, "fresh qqq"))
      .toDF("doc_id", "text")
    def surp(df: org.apache.spark.sql.DataFrame): Map[Long, Double] =
      df.collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    val ah = surp(scored(globalAddHalf, train, score))
    val kn = surp(scored(globalKn, train, score))
    assert(ah(10L) === ah(11L),
      s"add-half backoff is w2-blind, must tie: $ah")
    assert(kn(10L) > kn(11L),
      s"KN must score the spread word strictly better: $kn")
  }

  test("trainMknBigram: Chen–Goodman discounts from count-of-counts, hand-computed; fallback arm on a degenerate spectrum") {
    // bigram counts: (a,b)=1, (d,c)=1 → n1=2; (c,d)=2, (f,e)=2 → n2=2;
    // (e,f)=3, (h,g)=3 → n3=2; (g,h)=4 → n4=1. All four tiers occupied:
    // Y = 2/6, D1 = 1−2Y·2/2 = 1/3, D2 = 2−3Y·2/2 = 1, D3 = 3−4Y·1/2 = 7/3
    val train = Seq(
      (1L, "a b"), (2L, "c d c d"), (3L, "e f e f e f"),
      (4L, "g h g h g h g h")).toDF("doc_id", "text")
    val m = LmScore.train(globalMkn, train).meta.collect().head
    val y = 2.0 / (2.0 + 2.0 * 2)
    assert(m.getAs[Double]("d1") === 1.0 - 2.0 * y * 2 / 2)
    assert(m.getAs[Double]("d2") === 2.0 - 3.0 * y * 2 / 2)
    assert(m.getAs[Double]("d3") === 3.0 - 4.0 * y * 1 / 2)
    assert(m.getAs[Boolean]("estimated"))
    // drop the count-4 doc: n4 = 0 → the spectrum cannot estimate D3 →
    // KenLM's --discount_fallback defaults, flagged as unestimated
    val f = LmScore.train(globalMkn, train.where(col("doc_id") =!= 4)).meta
      .collect().head
    assert((f.getAs[Double]("d1"), f.getAs[Double]("d2"),
      f.getAs[Double]("d3")) === ((0.5, 1.0, 1.5)))
    assert(!f.getAs[Boolean]("estimated"))
  }

  test("modified vs interpolated KN rank a document pair DIFFERENTLY (tiered discounts are not fine print)") {
    // Same train corpus as above. Doc 10 is one SINGLETON bigram
    // (modified discounts it only D1 = 1/3 — keeps mass); doc 11 is the
    // count-4 bigram (pays D3 = 7/3 — loses mass). Interpolated KN
    // discounts both by the same 3/4, so the high-count doc wins by a
    // mile; modified KN flips the order.
    val train = Seq(
      (1L, "a b"), (2L, "c d c d"), (3L, "e f e f e f"),
      (4L, "g h g h g h g h")).toDF("doc_id", "text")
    val score = Seq((10L, "a b"), (11L, "g h")).toDF("doc_id", "text")
    def surp(df: org.apache.spark.sql.DataFrame): Map[Long, Double] =
      df.collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    val kn = surp(scored(globalKn, train, score))
    val mkn = surp(scored(globalMkn, train, score))
    assert(kn(10L) > kn(11L),
      s"interpolated KN favors the high-count bigram: $kn")
    assert(mkn(10L) < mkn(11L),
      s"modified KN must favor the lightly-discounted singleton: $mkn")
  }

  test("surprisalMkn: every interpolation arm takes its branch, hand-counted") {
    // train as above: T=7 types, Du=7, V=8, pcden=224, pcnum_unk=21;
    // nc(b)=1 → pcnum(b) = (4−3)·8 + 21 = 29. γ(a) = D1·1 = 1/3;
    // γ(g) = D3·1 = 7/3; c1(a)=1, c1(g)=4
    val train = Seq(
      (1L, "a b"), (2L, "c d c d"), (3L, "e f e f e f"),
      (4L, "g h g h g h g h")).toDF("doc_id", "text")
    val score = Seq(
      (10L, "a b"), // seen singleton: (1−D1) + γ(a)·pcont(b)
      (11L, "g h"), // seen count-4: (4−D3)/4 + γ(g)/4·pcont(h)
      (12L, "a z"), // seen w1, OOV w2: γ(a)/c1 · UNK continuation
      (13L, "z b")  // unseen w1: the continuation distribution itself
    ).toDF("doc_id", "text")
    val got = scored(globalMkn, train, score).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val y = 2.0 / (2.0 + 2.0 * 2)
    val d1 = 1.0 - 2.0 * y * 2 / 2
    val d3 = 3.0 - 4.0 * y * 1 / 2
    assert(got === Seq(
      (10L, 1L, micro(((1 - d1) * 224.0 + d1 * 29) / (1 * 224.0))),
      (11L, 1L, micro(((4 - d3) * 224.0 + d3 * 29) / (4 * 224.0))),
      (12L, 1L, micro(d1 * 21 / (1 * 224.0))),
      (13L, 1L, micro(29.0 / 224))))
  }

  test("c15 gate fixture: the KN-scored gate keeps different docs than the add-half gate on the gate corpus") {
    import graft.queries.CurationStages
    // the real gate-SF corpus: both estimators produce full
    // head/middle/tail orderings; the estimators disagree on enough
    // mid-ranked docs that the kept sets differ in both directions —
    // the c15-vs-c10 divergence, pinned on data rather than asserted
    val all = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val gated = CurationStages.gated(CurationStages.synthesized(all))
    val langs = all.select(col("doc_id"), col("lang"))
    def kept(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    val ah = kept(CurationStages.lmGated(gated, langs))
    val kn = kept(CurationStages.lmGated(gated, langs, Smoothing.Kn))
    assert(ah.nonEmpty && kn.nonEmpty)
    assert(ah !== kn, s"KN and add-half gates kept identical sets (${ah.size} docs)")
  }

  // save → load → score ≡ train → score, one registered case per spec
  // (the per-language names predate the core and are kept as they were)
  private val persistedCases = Seq(
    LmSpec(Smoothing.AddHalf, perLang = true) ->
      "saveLmPerLang → surprisalAgainstLmPerLang equals surprisalPerLang row for row",
    LmSpec(Smoothing.Kn, perLang = true) ->
      "saveKnLmPerLang → surprisalKnAgainstLmPerLang equals surprisalKnPerLang row for row",
    LmSpec(Smoothing.Mkn, perLang = true) ->
      "saveMknLmPerLang → surprisalMknAgainstLmPerLang equals surprisalMknPerLang row for row",
    globalAddHalf -> "global add-half: save → load → score equals train → score row for row",
    globalKn -> "global KN: save → load → score equals train → score row for row",
    globalMkn -> "global MKN: save → load → score equals train → score row for row")

  for ((spec, name) <- persistedCases) test(name) {
    // score more than the train slice: seen bigrams, the seen-w1
    // backoff arm (a z, b q) and the unseen-w1 arm (z a, q b) all fire
    val train = Seq((1L, "en", "a b a b"), (2L, "de", "a a b"),
      (3L, "en", "b a"), (4L, "de", "b b a a"))
      .toDF("doc_id", "lang", "text")
    val docs = train.union(Seq((5L, "en", "a z a b"), (6L, "de", "b q b"),
      (7L, "en", "z a b"), (8L, "de", "q b a")).toDF("doc_id", "lang", "text"))
    def rows(m: LmModel) = LmScore.score(m, docs)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    val dir = tmpDir("lmsave")
    LmScore.save(spec, train, dir)
    val served = rows(LmScore.load(spark, spec, dir))
    assert(served === rows(LmScore.train(spec, train)))
    assert(served.nonEmpty)
  }

  // keyed specs: the 0L no-model arm, on the trained and the loaded model
  private val noModelCases = Seq(
    Smoothing.AddHalf -> "per-lang split form: a scoring language with no model gets the 0L no-opinion arm",
    Smoothing.Kn -> "per-lang KN split form: a scoring language with no model gets the 0L no-opinion arm",
    Smoothing.Mkn -> "per-lang MKN split form: a scoring language with no model gets the 0L no-opinion arm")

  for ((sm, name) <- noModelCases) test(name) {
    val train = Seq((1L, "en", "a b a b")).toDF("doc_id", "lang", "text")
    val score = Seq((10L, "fr", "x y z")).toDF("doc_id", "lang", "text")
    val spec = LmSpec(sm, perLang = true)
    val dir = tmpDir("lm0")
    LmScore.save(spec, train, dir)
    for (m <- Seq(LmScore.train(spec, train), LmScore.load(spark, spec, dir))) {
      val got = LmScore.score(m, score).collect()
      assert(got.length === 1)
      // 2 transitions, each lp 0: "no opinion", never a NULL-poisoned sum
      assert(got.head.getLong(2) === 2L && got.head.getLong(3) === 0L)
    }
  }

  test("per-lang MKN discounts are per-LANGUAGE: a rich spectrum estimates its own D1/D2/D3+, a thin one falls back independently") {
    // en's bigram count-of-counts by construction: n1=4 (dc,fe,gh,ij),
    // n2=2 (cd,ef), n3=1 (ba), n4=1 (ab) — all positive with
    //   Y  = 4/(4+2·2)          = 0.5   (exact in binary)
    //   D1 = 1 − 2·0.5·2/4      = 0.5
    //   D2 = 2 − 3·0.5·1/2      = 1.25
    //   D3 = 3 − 4·0.5·1/1      = 1.0
    // every operation exact in IEEE doubles, so equality is ===, not ~=.
    // de's single seen bigram (n2..n4 = 0) cannot estimate — it must
    // take KenLM's 0.5/1/1.5 fallback WITHOUT poisoning en's estimate.
    val docs = Seq(
      (1L, "en", "a b a b a b a b"), (2L, "en", "c d c d"),
      (3L, "en", "e f e f"), (4L, "en", "g h"), (5L, "en", "i j"),
      (6L, "de", "x y")).toDF("doc_id", "lang", "text")
    val dir = tmpDir("mknmeta")
    val spec = LmSpec(Smoothing.Mkn, perLang = true)
    LmScore.save(spec, docs, dir)
    val meta = LmScore.load(spark, spec, dir).meta
      .select("lang", "d1", "d2", "d3", "estimated")
      .collect().map(r => r.getString(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getBoolean(4)))
      .toMap
    assert(meta("en") === ((0.5, 1.25, 1.0, true)))
    assert(meta("de") === ((0.5, 1.0, 1.5, false)))
  }

  test("c12 gate fixture: self-trained and target-trained per-language gates keep DIFFERENT docs") {
    import graft.queries.CurationStages
    // one language, 6 scoreable docs: 4 boilerplate + 2 fluent. The
    // SELF-trained model learns the boilerplate as the language's most
    // probable phrasing (it dominates the training mass), so the
    // boilerplate ranks head+middle and the fluent docs fall in the
    // tail; the TARGET model (trained on a clean slice where the
    // fluent phrasing is canonical and "zz" never occurs) ranks the
    // fluent docs head. The kept sets must differ in BOTH directions.
    val boiler = (1L to 4L).map(i => (i, "zz zz zz zz zz zz"))
    val fluent = Seq((5L, "good day dear friend of mine"),
      (6L, "good day dear friend of yours"))
    val gated = (boiler ++ fluent).toDF("doc_id", "text")
    val langs = (1L to 6L).map(i => (i, "en")).toDF("doc_id", "lang")
    val target = Seq((200L, "en", "good day dear friend of mine"),
      (201L, "en", "good day dear friend of ours"))
      .toDF("doc_id", "lang", "text")
    val dir = java.nio.file.Files.createTempDirectory("c12lm").toString
    LmScore.save(LmSpec(Smoothing.AddHalf, perLang = true), target, dir)
    def kept(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    val self = kept(CurationStages.lmGated(gated, langs))
    val tgt = kept(CurationStages.lmGated(gated, langs, lmPath = Some(dir)))
    // fluent docs: dropped by the self-trained gate, kept by the target
    assert(!self.contains(5L) && tgt.contains(5L),
      s"self=$self target=$tgt")
    // and some boilerplate doc the self gate keeps, the target drops
    assert((self -- tgt).nonEmpty && (tgt -- self).nonEmpty,
      s"self=$self target=$tgt")
  }

  test("dsirWeights: target-like docs weigh above background-only docs") {
    graft.functions.PolyHash64.register(spark)
    val targetish = (1 to 8).map(i => (i.toLong, "x y x y x y"))
    val rawOnly = (9 to 16).map(i => (i.toLong, "p q p q p q"))
    val raw = (targetish ++ rawOnly).toDF("doc_id", "text")
    val target = targetish.toDF("doc_id", "text")
    val w = LmScore.dsirWeights(raw, target).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(w(1L) > w(9L))
    // identical docs get identical weights (pure function of features)
    assert(w(1L) === w(2L) && w(9L) === w(10L))
  }

  test("word_grams ≡ the wsTokens+arrays_zip slice chain (r16 n-gram rewrite)") {
    // nasty fixtures: tabs/newlines/CR as separators, runs of mixed
    // whitespace, leading/trailing whitespace, NBSP (NOT a Java-\s
    // separator — must stay inside its token in both forms), uppercase
    // (the lower() fuse), exactly-n and sub-n token counts, empty text
    val docs = Seq(
      (1L, "The quick\tbrown\nfox  jumps\r\nover   the lazy dog"),
      (2L, "  leading and trailing   \t"),
      (3L, "nbsp stays one token and this splits"),
      (4L, "two words"),
      (5L, "one"),
      (6L, ""),
      (7L, "a  b \f c")).toDF("doc_id", "text")
    for (n <- Seq(2, 3)) {
      def oldChain = {
        val t = col("t")
        val zipped = arrays_zip(
          (1 to n).map(i => slice(t, lit(i), size(t) - (n - 1)).as(s"w$i")): _*)
        docs.select(col("doc_id"),
            graft.functions.TextFunctions.wsTokens(lower(col("text"))).as("t"))
          .where(size(col("t")) >= n)
          .select(col("doc_id"), explode(zipped).as("g"))
          .select(col("doc_id") +:
            (1 to n).map(i => col(s"g.w$i").as(s"w$i")): _*)
      }
      def newChain = docs
        .select(col("doc_id"),
          explode(graft.functions.Registry.wordGrams(col("text"), n)).as("g"))
        .select(col("doc_id") +:
          (1 to n).map(i => col(s"g.w$i").as(s"w$i")): _*)
      val a = oldChain.collect().map(_.toSeq).toSeq
      val b = newChain.collect().map(_.toSeq).toSeq
      assert(a === b, s"n=$n")
      assert(a.nonEmpty)
    }
    // ws_lower_tokens ≡ wsTokens(lower(text)) on the same fixtures
    // (TextAnalysis.toks swapped to the native form in the same rewrite)
    val ta = docs.select(col("doc_id"),
        graft.functions.TextFunctions.wsTokens(lower(col("text"))).as("t"))
      .collect().map(r => (r.getLong(0), r.getSeq[String](1))).toSeq
    val tb = docs.select(col("doc_id"),
        graft.functions.Registry.wsLowerTokens(col("text")).as("t"))
      .collect().map(r => (r.getLong(0), r.getSeq[String](1))).toSeq
    assert(ta === tb)
    // NBSP really glued its token (doc 3's first gram starts with it)
    val g3 = LmScore.bigrams(docs.where(col("doc_id") === 3L)).collect()
    assert(g3.head.getString(1) === "nbsp stays")
  }
}
