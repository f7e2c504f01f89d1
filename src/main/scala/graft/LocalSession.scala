package graft
import org.apache.spark.sql.SparkSession

/** The one way the library builds a session: every main (Bench, Verify,
  * Explain, the demos, PipelineScaleBench) and the test suite go
  * through here, so what is explained, tested and verified is the
  * session Bench measures — graft's optimizer and physical rules
  * installed, the range-join rewrite on, the native SQL functions
  * registered. `cores` sizes both the local master and the shuffle
  * partition count. */
object LocalSession {
  def apply(cores: Int): SparkSession = {
    val spark = graft.plans.GraftExtensions.install(SparkSession.builder())
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // ContextCleaner frees broadcast/RDD blocks only after their weak
      // refs are GC'd; the default 30 min periodic GC means a 90 s bench
      // never gets one. 30 s keeps residue bounded even between scrubs.
      .config("spark.cleaner.periodicGC.interval", "30s")
      .config(graft.plans.RangeJoinRule.ConfKey, "600")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // idempotent: callers that run operators directly (no Tables read
    // first) still need the native expressions resolvable
    graft.functions.Registry.registerAll(spark)
    spark
  }
}
