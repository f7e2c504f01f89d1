package graft.lexam

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import graft.TestSpark
import graft.lexam.pipeline.LexamStore

/** `LexamStore` runs its queries in a session of its own that generates
  * no code at runtime, derived from the caller's session without
  * modifying it. A Spark upgrade that ignores the factory mode fails
  * here instead of silently compiling every store query again. */
class StoreSessionSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = TestSpark.spark

  private def freshStore(): LexamStore = {
    val store = new LexamStore(spark,
      java.nio.file.Files.createTempDirectory("store_session").toString)
    Fixtures.writeTo(store)
    store
  }

  /** Janino compiles in this JVM while `body` runs. */
  private def compiles(body: => Any): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  /** A query over `questions` carrying an int literal no earlier query
    * carried, so no cached class can serve it. */
  private def freshQuery(questions: DataFrame): DataFrame =
    questions.where(col("year") > lit(1000 + scala.util.Random.nextInt(1 << 30)))
      .select((col("year") * 2 + lit(scala.util.Random.nextInt(1 << 30))).as("y"))

  test("a store query compiles no class and plans no whole-stage codegen; the caller's compiles") {
    val store = freshStore()
    val inStore = freshQuery(store.questions)
    assert(compiles(inStore.collect()) === 0L)
    assert(find(inStore.queryExecution.executedPlan)(_.isInstanceOf[WholeStageCodegenExec]).isEmpty,
      inStore.queryExecution.executedPlan)
    val inCaller = freshQuery(LexamStore.Questions.read(spark, store.baseDir))
    assert(compiles(inCaller.collect()) >= 1L)
    assert(inCaller.collect().toSeq === inStore.collect().toSeq)
  }

  test("building a store leaves the caller's factory mode as it was") {
    val key = SQLConf.CODEGEN_FACTORY_MODE.key
    val before = spark.conf.get(key)
    val store = freshStore()
    assert(spark.conf.get(key) === before)
    assert(store.spark.conf.get(key) === "NO_CODEGEN")
    assert(!(store.spark eq spark))
  }

  test("a modifiable conf the caller set at runtime is seen by the store's session") {
    val key = SQLConf.SESSION_LOCAL_TIMEZONE.key
    val before = spark.conf.get(key)
    spark.conf.set(key, "America/New_York")
    try {
      val store = new LexamStore(spark,
        java.nio.file.Files.createTempDirectory("store_session").toString)
      assert(store.spark.conf.get(key) === "America/New_York")
    } finally spark.conf.set(key, before)
  }
}
