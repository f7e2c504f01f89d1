package graft
import org.apache.spark.sql.SparkSession
object Bench {
  /** The detail file's JSON. `cpus` is written as a number when the env
    * value parses as one and omitted otherwise, and `sf` and the note go
    * through a JSON string encoder, so no env value (`4x`, a path with a
    * quote or a backslash) can make the file malformed. */
  private[graft] def detailJson(total: String, coldTotal: String, iso: String,
      sfDir: String, cpus: String, scalingNote: String, queries: String): String = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def str(s: String) = mapper.writeValueAsString(s)
    val cpusField = cpus.trim.toIntOption.fold("")(n => s""""cpus":$n,""")
    s"""{"total":$total,"cold_total":$coldTotal,"iso":$iso,"sf":${str(sfDir)},$cpusField""" +
      s""""scaling_note":${str(scalingNote)},"queries":$queries}"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = LocalSession(cpus.toInt)
    Isolation.begin(spark) // epoch now = everything later is residue
    // Cross-query isolation (graft.Isolation.scrub): without it, residue
    // from one query taxes every later one — the BENCH_r05 86s-vs-52.7s
    // forensic, where d*/w*/x* regressed 2-6x directly after the heavy
    // c2/v4-v6 in alphabetical order.
    def scrub(): Unit = Isolation.scrub(spark)
    // absorb JVM/codegen warmup so the first measured queries aren't
    // taxed: one relational shape and one document-explode shape cover
    // the two codegen families the suite alternates between
    spark.range(1000000).selectExpr("sum(id)").collect()
    SparkEntry.queries("a9_pricing_summary")(spark, sfDir).count()
    SparkEntry.queries("t3_token_count_by_lang")(spark, sfDir).count()
    // optional subset for local iteration: `runMain graft.Bench d7 v1`
    // times only the named id prefixes (the driver passes no args)
    val wanted = args.map(_.takeWhile(_ != '_')).toSet
    val selected =
      if (wanted.isEmpty) SparkEntry.queries
      else SparkEntry.queries.filter { case (n, _) => wanted(n.takeWhile(_ != '_')) }
    // validate BEFORE the multi-minute timing loop: a prefix collision
    // discovered afterwards would discard the whole run's numbers
    require(selected.keys.map(_.takeWhile(_ != '_')).toSeq.distinct.size == selected.size,
      "query id prefixes must stay unique — a collision would merge two timings")
    scrub() // warmup queries above leave the same class of residue
    def time(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      val ok = try { fn(spark, sfDir).count(); true }
               catch { case _: Throwable => false }
      // a failed query must not read as a (fast) success — report -1
      val elapsed = if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
      // AFTER the clock stops, so the teardown isn't billed to the
      // query being measured
      scrub()
      elapsed
    }
    // Median-of-3 per query, sampled as three ROUND-ROBIN passes over
    // the whole suite (every query once per pass, scrub-isolated), not
    // three back-to-back runs per query. One cold run's per-query
    // number carries ambient-state noise the round-6 evidence chain
    // burned five full runs adjudicating (sibling same-code runs spread
    // 64.5-83.1 s with DISJOINT per-query flag sets); the median kills
    // that only if a query's samples are decorrelated in TIME — three
    // back-to-back samples all sit inside the same busy window, and a
    // measured sibling pair showed exactly that failure (run-start load
    // taxed a10-a14 2-2.7x in ALL THREE samples while totals agreed
    // within 5%). Round-robin spreads a query's samples minutes apart,
    // so a transient window taxes at most one sample and the median
    // discards it. Pass 1 is the cold number (later passes are
    // JIT-warm) — reported as cold_total in the JSON line and
    // per-query in the detail file, because the cold/median distinction
    // is a provenance fact the baseline chain needs. A query that fails
    // ANY sample reports -1: a crash must stay loud, never averaged
    // away by two surviving samples.
    val order = selected.toSeq.sortBy(_._1)
    val passes = (1 to 3).map { _ =>
      order.map { case (name, fn) => time(name, fn) }
    }
    val samples = order.zipWithIndex.map { case ((name, _), i) =>
      (name, passes.map(_(i)))
    }
    def median3(s: Seq[Double]): Double =
      if (s.exists(_ < 0)) -1.0 else s.sorted.apply(1)
    // (name, cold first sample, reported median)
    val results = samples.map { case (name, s) => (name, s.head, median3(s)) }
    // Isolation self-tripwire: re-run the first few substantial queries
    // (>=0.3s first time — sub-300ms timings are scheduling jitter at
    // local[32]) and compare to their own first measurement. If residue
    // from the full suite survives the per-query scrub, these re-runs
    // come back slower — making the r05 "later queries taxed by earlier
    // ones" failure mode a red number in the bench output itself rather
    // than a judge-forensics exercise. Re-runs are JIT-warm (clean runs
    // measure ~0.6x), so bench_regression.py's iso threshold is 1.2 —
    // roughly 2x the warm-true time — not the cold 1.5x bar. A re-run
    // that CRASHES reports ratio 99.0: -1.0/first would go negative and
    // silently pass the max(), hiding the worst residue outcome (OOM).
    val isoRatio: Double = {
      val candidates = results.filter(_._2 >= 0.3).take(3)
      val ratios = candidates.map { case (name, cold, _) =>
        val rerun = time(name, selected(name))
        if (rerun < 0) 99.0 else rerun / cold
      }
      if (ratios.isEmpty) 1.0 else ratios.max
    }
    // the driver parses the JSON line out of a ~2.2 KB stdout tail —
    // full query names at full double precision overflow it (r2/r3 both
    // came back "parsed": null). Short ids (the unique family prefix,
    // "d7_neardup_components" -> "d7") at millisecond precision keep the
    // whole line under 1 KB with headroom for more queries.
    // Locale.ROOT: a comma-decimal default locale (de_DE, fr_FR) would
    // render 12,345 and break the driver's JSON parse
    def ms(v: Double) = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    val qs = results.map { case (k, _, med) =>
      "\"" + k.takeWhile(_ != '_') + "\":" + ms(med)
    }.mkString("{", ",", "}")
    // totals EXCLUDE failed (-1) queries: the per-query -1 already
    // flags the crash; folding it into the sum would make a crashing
    // suite read ~1 s FASTER than a healthy one
    // both totals filter on the MEDIAN: a query that succeeded cold but
    // crashed later is excluded from both sums, so total and cold_total
    // always cover the same query set and their delta is purely warmup
    val total = ms(results.collect { case (_, _, m) if m >= 0 => m }.sum)
    val coldTotal = ms(results.collect { case (_, c, m) if m >= 0 => c }.sum)
    // full per-query provenance (all 3 samples) is too big for the
    // driver's ~2.2 KB stdout tail — it goes to a detail file for the
    // baseline evidence chain; the stdout line carries the medians plus
    // the cold total scalar
    val detail = results.zip(samples).map { case ((k, c, m), (_, s)) =>
      "\"" + k + "\":{\"cold\":" + ms(c) + ",\"median\":" + ms(m) +
        ",\"samples\":[" + s.map(ms).mkString(",") + "]}"
    }.mkString("{", ",", "}")
    val detailPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_DETAIL",
      "/tmp/graft_bench_detail.json")
    // best-effort: an unwritable detail path must not discard a
    // multi-minute run's medians (the stdout line below is the result)
    // NonFatal, not just IOException: a malformed env value makes
    // Paths.get throw the unchecked InvalidPathException, and that too
    // must degrade to the warning, never discard the run's medians
    // scaling_note: context for core-count comparisons of this file —
    // sf0.1 inputs are sub-MB (documents.parquet ~0.6 MB), so wall time
    // is job-count × scheduling/codegen latency, not compute; 8-core
    // runs routinely match or beat 32-core ones here (the r16 c8
    // artifact's flat ratios). Per-query parallelism is measured by the
    // data-VOLUME ramps (scripts/psb_evidence_*.json), not by this file.
    val scalingNote = "sub-MB inputs at this SF make queries fixed-" +
      "overhead-bound; cpu-count ratios near 1 are expected - see " +
      "scripts/psb_evidence_*.json for data-volume scaling"
    try java.nio.file.Files.write(java.nio.file.Paths.get(detailPath),
      detailJson(total, coldTotal, ms(isoRatio), sfDir, cpus, scalingNote, detail)
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench] detail write failed ($detailPath): $e") }
    // stop BEFORE printing so the JSON is the last stdout line the
    // driver sees (shutdown chatter goes to the log4j stderr appender)
    spark.stop()
    println(s"""{"metric":"total","value":$total,"unit":"sec","iso":${ms(isoRatio)},"cold_total":$coldTotal,"queries":$qs,"sf":"$sfDir"}""")
    // a crashed query already reports -1 per-query and is excluded from
    // the totals; ALSO exit nonzero (after the JSON line — the partial
    // numbers are still provenance) so no gate can read a crashing
    // suite as a healthy, slightly-faster one
    val failed = results.collect { case (k, _, m) if m < 0 => k }
    if (failed.nonEmpty) {
      System.err.println(s"[bench] FAILED queries: ${failed.mkString(", ")}")
      sys.exit(3)
    }
  }
}
