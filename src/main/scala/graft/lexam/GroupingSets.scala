package graft.lexam

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions.{col, grouping_id}
import org.apache.spark.unsafe.types.UTF8String

/** One aggregate over several grouping sets, collected once and split
  * back apart per set — how every analytics endpoint answers all of its
  * facets with one Spark query and one collect instead of one collect
  * per facet.
  *
  * A set's rows are found by `grouping_id()` only, so a genuine NULL
  * group is never confused with a rolled-up column. The `()` set emits
  * no row over an empty input: callers default its totals to 0, as a
  * `count()` would read.
  */
object GroupingSets {

  /** `df` grouped by each of `sets` (column names) in one aggregate;
    * the output carries the set keys, `gid` and `aggs`. */
  def aggregate(df: DataFrame, sets: Seq[Seq[String]], aggs: Column*): DataFrame =
    df.groupingSets(sets.map(_.map(col)), keys(sets).map(col): _*)
      .agg(grouping_id().as("gid"), aggs: _*)

  /** The collected rows of an [[aggregate]] over `sets`, one group of
    * rows per set, in `sets` order. */
  def split(rows: Seq[Row], sets: Seq[Seq[String]]): Seq[Seq[Row]] = {
    val bySet = rows.groupBy(_.getAs[Number]("gid").longValue)
    // grouping_id: one bit per key, first key most significant, 1 = rolled up
    def gid(set: Seq[String]) =
      keys(sets).foldLeft(0L)((g, k) => 2 * g + (if (set.contains(k)) 0 else 1))
    sets.map(s => bySet.getOrElse(gid(s), Nil))
  }

  private def keys(sets: Seq[Seq[String]]): Seq[String] = sets.flatten.distinct

  /** Spark's ascending string order for collected rows: NULLS FIRST,
    * then by UTF-8 bytes — a collected set sorted as `orderBy` would. */
  val Asc: Ordering[String] = (a: String, b: String) =>
    if (a == null || b == null) java.lang.Boolean.compare(a != null, b != null)
    else UTF8String.fromString(a).compareTo(UTF8String.fromString(b))
}
