package perfbench

import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession

/** Everything one run needs. */
final case class Ctx(spark: SparkSession, tracer: Tracer, res: Result, seed: Long,
                     seconds: Double, work: String, cores: Int, smoke: Boolean) {
  def nQuestions: Int = if (smoke) 300 else 5000
}

/** One benchmark run in one JVM:
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1 --work DIR [--smoke]
  *
  * Writes DIR/result.json (metrics, op counts, digests and what the
  * oracle check needs) and, when traced, DIR/spans.jsonl. run.py drives
  * it; see there for the full contract. */
object Main {
  val Setups = 3
  val Workloads = Seq("lexam_session", "curation_bulk")

  private val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  /** Progress line on stderr, stamped with seconds since JVM start. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.currentTimeMillis() - jvmStart) / 1e3}%6.1fs] $msg")

  def session(cores: Int, work: String): SparkSession = {
    val spark = graft.plans.GraftExtensions.install(SparkSession.builder())
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.cleaner.periodicGC.interval", "30s")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("graft.scratch.dir", s"$work/scratch")
      .config(graft.plans.RangeJoinRule.ConfKey, "600")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.Registry.registerAll(spark)
    spark
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = args.getOrElse("workload", "")
    require(Workloads.contains(workload), s"unknown workload '$workload'")
    val work = args("work")
    val cores = Runtime.getRuntime.availableProcessors()
    Files.createDirectories(Paths.get(work))
    val spark = session(cores, work)
    log(s"session up: $workload seed ${args("seed")}")
    graft.Isolation.begin(spark)
    val res = new Result
    val tracer = new Tracer(spark, args.get("trace").contains("1"))
    val ctx = Ctx(spark, tracer, res, args("seed").toLong, args("seconds").toDouble,
      work, cores, argv.contains("--smoke"))
    res.extra("cores") = cores
    try {
      workload match {
        case "lexam_session" => LexamWorkloads.session(ctx)
        case "curation_bulk" => Curation.run(ctx)
      }
      log("measured")
      tracer.stop()
      if (tracer.enabled) {
        // scheduler figures over the calls into the library (leaf spans);
        // the kernel table's probe projections are not workload calls
        val calls = tracer.spans.toSeq.filter(s =>
          tracer.children(s).isEmpty && !s.name.startsWith("kernel."))
        val all = new Counts
        calls.foreach(s => all.add(tracer.selfCounts(s)))
        res.metric("spark.jobs_per_op", all.jobs.toDouble / calls.size, "count")
        res.metric("spark.busy_share", all.runMs / (calls.map(_.ms).sum * cores), "ratio")
        res.metric("spark.sched_delay_ms", all.schedDelayMs.toDouble / math.max(1L, all.tasks), "ms")
        res.metric("spark.task_failures", all.taskFailures.toDouble, "count")
        res.metric("spark.gc_ms", all.gcMs.toDouble, "ms")
        res.metric("spark.peak_storage_mb", tracer.peakStorageBytes / 1e6, "MB")
        tracer.write(Paths.get(work, "spans.jsonl"))
      }
      res.metric("peak_rss_mb", Proc.peakRssMb(), "MB")
    } catch {
      case NonFatal(e) =>
        res.fail("run", e)
        e.printStackTrace()
    } finally spark.stop()
    Files.write(Paths.get(work, "result.json"), res.toJson.getBytes("UTF-8"))
  }
}
