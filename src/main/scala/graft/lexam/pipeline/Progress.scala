package graft.lexam.pipeline

import org.apache.spark.util.LongAccumulator

/** Progress tracking for long-running jobs (reference
  * `backend/app/progress.py`). Counters are Spark `LongAccumulator`s so
  * executor tasks report progress live to the driver; the snapshot
  * shape (total/completed/failed/status/elapsed/rate/eta, rounded the
  * same way) matches `progress.py:45-65`. Keys are
  * `Jobs.generationKey`/`Jobs.judgingKey`, in the reference convention
  * `generate:<id>` / `judge:<id>:<model>` (generation.py:69, judging.py:23).
  *
  * Note: Spark re-runs failed tasks, so accumulator counts can
  * transiently over-report during retries — same monotone-progress
  * contract the reference's per-item increments provide.
  */
class ProgressStore(clock: () => Long = System.currentTimeMillis) {

  final case class Entry(total: Long, completed: LongAccumulator,
                         failed: LongAccumulator, startedAt: Long,
                         var status: String = "running",
                         var errorMessage: Option[String] = None,
                         var finishedAt: Option[Long] = None)

  private val data = new java.util.concurrent.ConcurrentHashMap[String, Entry]()

  def create(key: String, total: Long, completed: LongAccumulator,
             failed: LongAccumulator): Unit =
    data.put(key, Entry(total, completed, failed, clock()))

  def finish(key: String, error: Option[String] = None): Unit =
    Option(data.get(key)).foreach { e =>
      e.status = if (error.isDefined) "error" else "done"
      e.errorMessage = error
      e.finishedAt = Some(clock())
    }

  def remove(key: String): Unit = data.remove(key)

  /** Snapshot in the reference's JSON shape (progress.py:46-64). */
  def get(key: String): Map[String, Any] = Option(data.get(key)) match {
    case None => Map("total" -> 0L, "completed" -> 0L, "failed" -> 0L, "status" -> "idle")
    case Some(e) =>
      val now = clock()
      val elapsedMs = e.finishedAt.getOrElse(now) - e.startedAt
      val elapsed = elapsedMs / 1000.0
      val done = e.completed.value + e.failed.value
      val rate = if (elapsed > 0 && done > 0) done / elapsed else 0.0
      val remaining = e.total - done
      val eta = if (rate > 0) remaining / rate else 0.0
      Map(
        "total" -> e.total, "completed" -> e.completed.value,
        "failed" -> e.failed.value, "status" -> e.status,
        "error_message" -> e.errorMessage.orNull,
        "elapsed" -> (math.rint(elapsed * 10) / 10),
        "eta" -> (math.rint(eta * 10) / 10),
        "rate" -> (math.rint(rate * 100) / 100))
  }
}
