package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Spark work attributed to one span. Written only on the listener-bus
  * thread; read after [[Tracer.drain]]. */
final class Counts {
  var jobs = 0L; var stages = 0L; var tasks = 0L; var taskFailures = 0L
  var runMs = 0L; var schedDelayMs = 0L; var gcMs = 0L
  var shuffleReadBytes = 0L; var shuffleWriteBytes = 0L
  var spillBytes = 0L; var inputBytes = 0L
  def add(o: Counts): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; taskFailures += o.taskFailures
    runMs += o.runMs; schedDelayMs += o.schedDelayMs; gcMs += o.gcMs
    shuffleReadBytes += o.shuffleReadBytes; shuffleWriteBytes += o.shuffleWriteBytes
    spillBytes += o.spillBytes; inputBytes += o.inputBytes
  }
}

final case class Span(id: Int, name: String, parent: Int, op: Int,
                      startNs: Long, var endNs: Long = -1L) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Benchmark-side tracing: a span around every call into a library
  * layer, and a SparkListener that charges jobs, stages and tasks to the
  * span whose id rode along as a Spark local property when the job was
  * submitted. Spans live in memory and are written out at the end.
  *
  * When disabled, [[span]] is a plain call: no listener is installed and
  * no local property is set, so the untraced run measures the program
  * alone. One client thread drives all calls, so the span stack is not
  * shared.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  private val Key = "perfbench.span"
  val spans = ArrayBuffer[Span]()
  private var stack = List.empty[Span]
  private var nextOp = 0
  private var currentOp = 0

  private val counts = new ConcurrentHashMap[Int, Counts]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val stageSubmitMs = new ConcurrentHashMap[Int, Long]()
  private def countsOf(span: Int): Counts = counts.computeIfAbsent(span, _ => new Counts)
  @volatile private var events = 0L
  @volatile private var peakStorage = 0L

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      events += 1
      val sid = Option(e.properties).flatMap(p => Option(p.getProperty(Key)))
        .map(_.toInt).getOrElse(0)
      countsOf(sid).jobs += 1
      e.stageIds.foreach(stageSpan.put(_, sid))
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      events += 1
      stageSubmitMs.put(e.stageInfo.stageId,
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      events += 1
      countsOf(stageSpan.getOrDefault(e.stageInfo.stageId, 0)).stages += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      events += 1
      val c = countsOf(stageSpan.getOrDefault(e.stageId, 0))
      c.tasks += 1
      if (!e.taskInfo.successful) c.taskFailures += 1
      val submit = stageSubmitMs.get(e.stageId)
      if (submit != 0L) c.schedDelayMs += math.max(0L, e.taskInfo.launchTime - submit)
      val m = e.taskMetrics
      if (m != null) {
        c.runMs += m.executorRunTime
        c.gcMs += m.jvmGCTime
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.inputBytes += m.inputMetrics.bytesRead
      }
    }
  }

  // storage memory is sampled, not evented: the library caches and
  // unpersists inside one call, so a sample after the call would miss it
  private val sampler = new Thread(() => {
    try while (true) {
      val used = sc.getExecutorMemoryStatus.values.map { case (max, free) => max - free }.sum
      if (used > peakStorage) peakStorage = used
      Thread.sleep(50)
    } catch { case _: InterruptedException => () }
  }, "perfbench-storage-sampler")

  if (enabled) {
    sc.addSparkListener(listener)
    sampler.setDaemon(true)
    sampler.start()
  }

  /** Start a new op (request, cycle or chain pass) and run `body` as its
    * root span. */
  def op[T](name: String)(body: => T): T = {
    nextOp += 1
    currentOp = nextOp
    span(name)(body)
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size + 1, name, stack.headOption.map(_.id).getOrElse(0),
        currentOp, System.nanoTime())
      spans += s
      stack = s :: stack
      sc.setLocalProperty(Key, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(Key, stack.headOption.map(_.id.toString).orNull)
      }
    }

  /** Listener delivery is asynchronous and its bus is private to Spark,
    * so wait until the event count stops moving (the settle-wait
    * PipelineScaleBench uses). */
  def drain(): Unit = if (enabled) {
    var prev = -1L
    var spins = 0
    while (events != prev && spins < 50) {
      prev = events; Thread.sleep(100); spins += 1
    }
  }

  def stop(): Unit = if (enabled) {
    sampler.interrupt(); sampler.join()
    drain()
    sc.removeSparkListener(listener)
  }

  def peakStorageBytes: Long = peakStorage

  /** Counts charged to the span itself (not its children). */
  def selfCounts(s: Span): Counts = Option(counts.get(s.id)).getOrElse(new Counts)

  /** Counts of the span and all its descendants. */
  def totalCounts(s: Span): Counts = {
    val c = new Counts
    c.add(selfCounts(s))
    children(s).foreach(ch => c.add(totalCounts(ch)))
    c
  }

  def children(s: Span): Seq[Span] = spans.toSeq.filter(_.parent == s.id)

  /** Duration minus the part of it that child spans cover. */
  def selfMs(s: Span): Double = {
    val kids = children(s).map(k => (k.startNs, k.endNs)).sortBy(_._1)
    var covered = 0L; var cursor = s.startNs
    kids.foreach { case (a, b) =>
      val from = math.max(a, cursor)
      if (b > from) { covered += b - from; cursor = b }
    }
    s.ms - covered / 1e6
  }

  def named(name: String): Seq[Span] = spans.toSeq.filter(_.name == name)

  /** One JSON line per span with its self counts. */
  def write(path: java.nio.file.Path): Unit = if (enabled) {
    val lines = spans.map { s =>
      val c = selfCounts(s)
      Json.obj(
        "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs, "self_ms" -> selfMs(s),
        "jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
        "task_failures" -> c.taskFailures, "run_ms" -> c.runMs,
        "sched_delay_ms" -> c.schedDelayMs, "gc_ms" -> c.gcMs,
        "shuffle_read_bytes" -> c.shuffleReadBytes,
        "shuffle_write_bytes" -> c.shuffleWriteBytes,
        "spill_bytes" -> c.spillBytes, "input_bytes" -> c.inputBytes)
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}
