package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (guide: one per suite via
  * lazy val; sharing across suites is safe and faster). Built by
  * [[LocalSession]], so the suites plan and run under the same rules
  * and settings as Bench and Verify. */
object TestSpark {
  lazy val spark: SparkSession = LocalSession(4)
}
