package graft.lexam.pipeline

import java.util.concurrent.ConcurrentHashMap
import scala.concurrent.{ExecutionContext, Future}

/** Background job execution (P1; reference daemon threads at
  * `services/generation.py:144-147`, `judging.py:122-127`) with the
  * in-flight registry that backs the concurrency guard
  * (`routers/generation.py:18-19`): one generation job per experiment,
  * one judging job per (experiment, judge).
  *
  * Spark note: each job runs in its own thread against the shared
  * SparkSession — Spark schedules concurrent jobs fairly; the poll
  * surface is [[ProgressStore]] exactly like the reference's 2s poller.
  */
class JobRunner(store: LexamStore, progress: ProgressStore,
                client: LlmClient, parallelism: Int = 32)(
    implicit ec: ExecutionContext = ExecutionContext.global) {

  private val inFlight = new ConcurrentHashMap[String, Future[Long]]()

  /** Atomic start-or-reject: computeIfAbsent decides the winner; the
    * loser gets the rejection the reference router returns as 409. A
    * separate require(!isRunning) pre-check would be a check-then-act
    * race where a duplicate caller silently shares the winner's Future. */
  private def launch(key: String)(body: => Long): Future[Long] = {
    var created = false
    val f = inFlight.computeIfAbsent(key, _ => {
      created = true
      Future(body).andThen { case _ => inFlight.remove(key) }
    })
    require(created, s"job already running: $key")
    f
  }

  def isRunning(key: String): Boolean = inFlight.containsKey(key)

  /** POST /api/experiments/{id}/generate — rejects when already busy
    * (the router's 409 guard). */
  def startGeneration(experimentId: Long): Future[Long] =
    launch(Jobs.generationKey(experimentId))(
      Jobs.runGeneration(store, progress, client, experimentId, parallelism))

  /** POST /api/experiments/{id}/judge */
  def startJudging(experimentId: Long, judgeModel: String): Future[Long] =
    launch(Jobs.judgingKey(experimentId, judgeModel))(
      Jobs.runJudging(store, progress, client, experimentId, judgeModel, parallelism))

  /** GET progress — the poll endpoint shape. */
  def pollGeneration(experimentId: Long): Map[String, Any] =
    progress.get(Jobs.generationKey(experimentId))
  def pollJudging(experimentId: Long, judgeModel: String): Map[String, Any] =
    progress.get(Jobs.judgingKey(experimentId, judgeModel))
}
