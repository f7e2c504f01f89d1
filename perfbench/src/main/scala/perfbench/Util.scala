package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}

/** Minimal JSON writer for the result and trace files. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""; case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"; case '\r' => b ++= "\\r"; case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => render(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ": " + render(x) }.mkString("{", ", ", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ", ", "]")
    case other => str(other.toString)
  }
  def obj(kv: (String, Any)*): String = render(mutable.LinkedHashMap(kv: _*))

  private val mapper = new ObjectMapper()
  def parse(s: String): JsonNode = mapper.readTree(s)

  /** Stable digest of a response: volatile fields (timestamps, progress
    * timing) dropped, doubles rounded to 9 significant digits so a
    * summation-order change in the last bits does not read as a wrong
    * answer. Key order is kept: it is part of the response contract. */
  def digest(response: String, volatile: Set[String]): String = {
    def canon(n: JsonNode): JsonNode = n match {
      case o: ObjectNode =>
        val out = mapper.createObjectNode()
        o.properties().forEach { e =>
          if (!volatile(e.getKey)) out.set[JsonNode](e.getKey, canon(e.getValue))
        }
        out
      case a: ArrayNode =>
        val out = mapper.createArrayNode()
        a.forEach(x => out.add(canon(x)))
        out
      case d if d.isFloatingPointNumber =>
        mapper.getNodeFactory.textNode(f"${d.doubleValue}%.9g")
      case other => other
    }
    sha256(mapper.writeValueAsString(canon(parse(response))))
  }

  def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def medianLong(xs: Seq[Long]): Double = median(xs.map(_.toDouble))

  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.size)
}

/** Wall and process-CPU seconds of one op; CPU counts every JVM thread
  * (driver, Spark task threads, GC, JIT), so it is the op's cost to the
  * machine and, unlike wall time, does not grow while a shared host lends
  * the cores elsewhere. */
final case class Timing(wall: Double, cpu: Double) {
  def +(o: Timing): Timing = Timing(wall + o.wall, cpu + o.cpu)
}

/** What one run measured and checked. Every op is attempted once; an op
  * that throws or fails its output check is counted failed and gives no
  * latency sample, so a crash never reads as a fast success. */
final class Result {
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer[String]()
  val metrics = mutable.LinkedHashMap[String, (Double, String)]()
  val extra = mutable.LinkedHashMap[String, Any]()

  def metric(name: String, value: Double, unit: String): Unit =
    metrics(name) = (value, unit)

  def fail(what: String, e: Throwable): Unit = {
    failed += 1
    if (failures.size < 20) failures += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}"
  }

  /** Run one timed op; `check` runs after the clocks stop. */
  def op[T](what: String)(call: => T)(check: T => Unit): Option[(T, Timing)] = {
    attempted += 1
    val c0 = Proc.cpuSeconds()
    val t0 = System.nanoTime()
    val out = try Right(call) catch { case NonFatal(e) => Left(e) }
    val timing = Timing((System.nanoTime() - t0) / 1e9, Proc.cpuSeconds() - c0)
    out match {
      case Left(e) => fail(what, e); None
      case Right(v) =>
        try { check(v); Some((v, timing)) }
        catch { case NonFatal(e) => fail(what, e); None }
    }
  }

  def toJson: String = Json.obj(
    "attempted" -> attempted, "failed" -> failed, "failures" -> failures,
    "metrics" -> metrics.map { case (k, (v, u)) =>
      k -> mutable.LinkedHashMap("value" -> v, "unit" -> u) },
    "extra" -> extra)
}

object Check {
  def apply(cond: Boolean, msg: => String): Unit =
    if (!cond) throw new AssertionError(msg)
  def eq[A](what: String, got: A, want: A): Unit =
    if (got != want) throw new AssertionError(s"$what: got $got, want $want")
}

object Proc {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of the whole JVM process so far. */
  def cpuSeconds(): Double = os.getProcessCpuTime / 1e9

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(Double.NaN)
    finally src.close()
  }
}
