package graft.plans

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

/** The automatic range-join rewrite: a naive ts-range inner join (which
  * Spark plans as BroadcastNestedLoopJoin) becomes a bin equi-join with
  * identical rows.
  */
class RangeJoinRuleSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val sf = "/root/testdata/sf0.001"
  private def naiveJoin() = {
    val ev = graft.sources.Tables.events(spark, sf)
    val windows = ev.where(col("event_type") === "error")
      .select(col("event_id").as("window_id"), col("ts").as("ws"),
        (col("ts") + expr("INTERVAL 10 MINUTES")).as("we"))
    val points = ev.where(col("event_type") === "click")
      .select(col("ts"), col("value"))
    windows.join(points, points("ts") >= windows("ws") && points("ts") < windows("we"))
      .groupBy(col("window_id")).agg(count(lit(1)).as("n"))
      .orderBy(col("window_id"))
  }

  /** Runs `f` at the given bin width (0 = rule off) and restores the
    * session's previous setting: the shared session turns the rule on,
    * and an `unset` would turn it off for every suite that runs later. */
  private def withRule[A](binSeconds: Int)(f: => A): A = {
    val prev = spark.conf.getOption(RangeJoinRule.ConfKey)
    spark.conf.set(RangeJoinRule.ConfKey, binSeconds.toString)
    try f
    finally prev.fold(spark.conf.unset(RangeJoinRule.ConfKey))(
      spark.conf.set(RangeJoinRule.ConfKey, _))
  }

  test("naive range join: rule replaces the nested-loop plan with a bin equi-join") {
    withRule(0) {
      val off = naiveJoin()
      assert(off.queryExecution.executedPlan.toString.contains("BroadcastNestedLoopJoin"))
    }
    withRule(600) {
      val on = naiveJoin()
      val p = on.queryExecution.executedPlan.toString
      assert(!p.contains("BroadcastNestedLoopJoin"), p)
      assert(!p.contains("CartesianProduct"), p)
    }
  }

  test("rewrite preserves results exactly, for bin widths above and below the window") {
    val expected = withRule(0) {
      naiveJoin().collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    }
    for (bin <- Seq(60, 600, 3600)) withRule(bin) {
      val got = naiveJoin().collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(got === expected, s"binSeconds=$bin")
    }
  }

  test("degenerate windows (end <= start) match nothing instead of crashing") {
    import spark.implicits._
    withRule(600) {
      val t0 = 1700000000000L
      val windows = Seq(
        (1L, new java.sql.Timestamp(t0 + 60000), new java.sql.Timestamp(t0)), // inverted
        (2L, new java.sql.Timestamp(t0), new java.sql.Timestamp(t0))          // empty
      ).toDF("window_id", "ws", "we")
      val points = Seq((new java.sql.Timestamp(t0), 1.0)).toDF("ts", "value")
      val out = windows.join(points,
        points("ts") >= windows("ws") && points("ts") < windows("we")).collect()
      assert(out.isEmpty)
    }
  }

  test("rule leaves equi-joins and non-range conditions alone") {
    withRule(600) {
      val ev = graft.sources.Tables.events(spark, sf)
      val a = ev.select(col("event_id"), col("user_id"))
      val b = ev.select(col("event_id").as("eid2"), col("user_id").as("u2"))
      val p = a.join(b, a("user_id") === b("u2"))
        .queryExecution.optimizedPlan.toString
      assert(!p.contains("graft_p_bin"), p)
      // j1's broadcast-equi plan is untouched by the rule
      val j1 = graft.SparkEntry.queries("j1_top_orders_by_revenue")(spark, sf)
      assert(!j1.queryExecution.optimizedPlan.toString.contains("graft_p_bin"))
    }
  }
}
