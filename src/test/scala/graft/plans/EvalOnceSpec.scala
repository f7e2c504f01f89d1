package graft.plans

import java.util.concurrent.atomic.AtomicLong

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType}
import graft.TestSpark

/** Counts its own evaluations; a deterministic, codegen-capable identity,
  * so a projection defers it to its first use like any native kernel. */
object EvalCounter {
  val n = new AtomicLong()
  def bump(v: Long): Long = { n.incrementAndGet(); v }
}

case class CountedId(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override protected def nullSafeEval(v: Any): Any = EvalCounter.bump(v.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.EvalCounter.bump($c)")
  override protected def withNewChildInternal(c: Expression): CountedId = copy(child = c)
}

/** The streamed side of a broadcast nested-loop join is evaluated once
  * per streamed row under whole-stage codegen, with the join's rows
  * unchanged for every join type. */
class EvalOnceSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = {
    val s = TestSpark.spark
    org.apache.spark.sql.classic.ClassicConversions.castToImpl(s).sessionState
      .functionRegistry.createOrReplaceTempFunction("counted_id",
        exprs => CountedId(exprs.head), "scala_udf")
    s
  }

  private def joins(df: DataFrame): Seq[BroadcastNestedLoopJoinExec] =
    collect(df.queryExecution.executedPlan) { case j: BroadcastNestedLoopJoinExec => j }

  private def streamed(j: BroadcastNestedLoopJoinExec): SparkPlan =
    if (j.buildSide == org.apache.spark.sql.catalyst.optimizer.BuildRight) j.left else j.right

  test("a deferred streamed-side column is evaluated once per streamed row, not per pair") {
    assert(spark.conf.get("spark.sql.codegen.wholeStage") == "true")
    val nStream = 300L
    val nBuild = 20L
    val df = spark.range(0, nStream, 1, 3)
      .select(col("id"), call_function("counted_id", col("id")).as("c"))
      .join(broadcast(spark.range(0, nBuild).select(col("id").as("b"))),
        col("id") =!= col("b"))
      .agg(sum(col("c") + col("b")).as("s"), count(lit(1)).as("n"))
    EvalCounter.n.set(0)
    val r = df.collect().head
    val expected = (0L until nStream).flatMap(i => (0L until nBuild).filter(_ != i).map(i + _))
    assert(r.getLong(0) === expected.sum)
    assert(r.getLong(1) === expected.size)
    assert(EvalCounter.n.get === nStream, s"evaluations for $nStream rows x $nBuild build rows")
    val j = joins(df)
    assert(j.size === 1, df.queryExecution.executedPlan)
    assert(streamed(j.head).isInstanceOf[EvalOnceExec], df.queryExecution.executedPlan)
  }

  // (k, v) rows; v is a deferred projection of the streamed side
  private val leftRows = Seq((1L, 10L), (2L, 20L), (3L, 30L), (5L, 50L), (8L, 80L))
  private val rightRows = Seq((2L, 200L), (4L, 400L), (6L, 600L))

  private def sides = {
    import spark.implicits._
    val l = leftRows.toDF("lk", "lv0").repartition(2)
      .select(col("lk"), call_function("counted_id", col("lv0") + 1).as("lv"))
    val r = rightRows.toDF("rk", "rv0").repartition(2)
      .select(col("rk"), call_function("counted_id", col("rv0") + 1).as("rv"))
    (l, r)
  }

  // condition lk < rk: every streamed row meets several build rows
  private def model(joinType: String): Set[Seq[Any]] = {
    val l = leftRows.map { case (k, v) => (k, v + 1) }
    val r = rightRows.map { case (k, v) => (k, v + 1) }
    def m(a: (Long, Long), b: (Long, Long)) = a._1 < b._1
    joinType match {
      case "inner" => (for (a <- l; b <- r if m(a, b)) yield Seq(a._1, a._2, b._1, b._2)).toSet
      case "left_outer" => l.flatMap { a =>
        val hits = r.filter(m(a, _))
        if (hits.isEmpty) Seq(Seq[Any](a._1, a._2, null, null))
        else hits.map(b => Seq[Any](a._1, a._2, b._1, b._2))
      }.toSet
      case "right_outer" => r.flatMap { b =>
        val hits = l.filter(m(_, b))
        if (hits.isEmpty) Seq(Seq[Any](null, null, b._1, b._2))
        else hits.map(a => Seq[Any](a._1, a._2, b._1, b._2))
      }.toSet
      case "left_semi" => l.filter(a => r.exists(m(a, _))).map(a => Seq[Any](a._1, a._2)).toSet
      case "left_anti" => l.filterNot(a => r.exists(m(a, _))).map(a => Seq[Any](a._1, a._2)).toSet
    }
  }

  for (joinType <- Seq("inner", "left_outer", "right_outer", "left_semi", "left_anti"))
    test(s"$joinType nested-loop join returns the plain-Scala model's rows") {
      val (l, r) = sides
      // broadcast the side a nested-loop join of this type can build
      val df =
        if (joinType == "right_outer") broadcast(l).join(r, col("lk") < col("rk"), joinType)
        else l.join(broadcast(r), col("lk") < col("rk"), joinType)
      val got = df.collect().map(_.toSeq).toSeq
      assert(got.size === got.toSet.size)
      assert(got.toSet === model(joinType))
      val j = joins(df)
      assert(j.size === 1, df.queryExecution.executedPlan)
      // semi/anti joins emit streamed columns after the loop: left alone
      val perPair = Set("inner", "left_outer", "right_outer")(joinType)
      assert(streamed(j.head).isInstanceOf[EvalOnceExec] === perPair,
        df.queryExecution.executedPlan)
    }

  test("an outer join built on its outer side runs unfused and is left alone") {
    val (l, r) = sides
    val df = broadcast(l).join(r, col("lk") < col("rk"), "left_outer")
    assert(df.collect().map(_.toSeq).toSet === model("left_outer"))
    val j = joins(df)
    assert(j.size === 1 && !j.head.supportCodegen, df.queryExecution.executedPlan)
    assert(collect(df.queryExecution.executedPlan) { case e: EvalOnceExec => e }.isEmpty,
      df.queryExecution.executedPlan)
  }

  test("re-applying the rule leaves exactly one EvalOnceExec under each join") {
    val (l, r) = sides
    val df = l.join(broadcast(r), col("lk") < col("rk"), "left_outer")
      .join(broadcast(r.select(col("rk").as("rk2"))), col("lk") =!= col("rk2"))
    df.collect()
    val once = stripAQEPlan(df.queryExecution.executedPlan)
    val twice = EvalOnce(EvalOnce(once))
    assert(twice === once)
    val js = joins(df)
    assert(js.size === 2)
    js.foreach { j =>
      assert(streamed(j).isInstanceOf[EvalOnceExec])
      assert(!streamed(j).children.head.isInstanceOf[EvalOnceExec])
    }
    // the unplanned physical plan converges after one application too
    val raw = df.queryExecution.sparkPlan
    assert(EvalOnce(EvalOnce(raw)) === EvalOnce(raw))
    assert(collect(EvalOnce(raw)) { case e: EvalOnceExec => e }.size === 2)
  }
}
