package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarRule, SparkPlan}
import org.apache.spark.sql.types.{LongType, TimestampType}

/** Optimizer rule: rewrite a pure timestamp-range inner join
  * (`p.ts >= lo AND p.ts < hi`, no equi keys — which Spark can only
  * plan as a nested-loop cross product) into the time-bin blocked form:
  * both sides gain a `bin = unix_micros/W` column (the window side
  * explodes over its covered bins), the join becomes a bin EQUI-join,
  * and the original range predicate is re-applied inside the bucket.
  * Same rows, shuffle-bounded plan — the rewrite
  * [[graft.operators.TemporalJoin.intervalJoin]] does by hand, applied
  * automatically to any naive range join in the session.
  *
  * Guard rails: fires only when `spark.graft.rangeJoin.binSeconds` > 0
  * (every [[graft.LocalSession]] sets 600), only on INNER joins whose whole
  * condition is the two-conjunct range pattern (plus optional extra
  * conjuncts, which are preserved), and only when the probe expression
  * is a timestamp. Correctness does not depend on the bin width; W only
  * tunes duplication (a window spans ceil(len/W)+1 bins).
  *
  * Bin arithmetic uses integer division of `unix_micros` — monotonic in
  * ts, so every point bin of a [lo, hi) window lies in
  * [bin(lo), bin(hi-1µs)] and each point lands in exactly one bin: no
  * pair is matched twice and none is missed.
  */
object RangeJoinRule extends Rule[LogicalPlan] {

  val ConfKey = "spark.graft.rangeJoin.binSeconds"

  private def binMicros: Option[Long] =
    scala.util.Try(conf.getConfString(ConfKey, "0").toLong).toOption.filter(_ > 0)
      .map(_ * 1000000L)

  /** (probe ts expr, lower bound, upper bound, remaining conjuncts) —
    * when the condition contains ts >= lo (or lo <= ts) and ts < hi
    * (or hi > ts) for the same probe expression. */
  private def extractRange(cond: Expression)
      : Option[(Expression, Expression, Expression, Seq[Expression])] = {
    val conjuncts = splitConjuncts(cond)
    val lowers = conjuncts.collect {
      case e @ GreaterThanOrEqual(ts, lo) if ts.dataType == TimestampType => (e, ts, lo)
      case e @ LessThanOrEqual(lo, ts) if ts.dataType == TimestampType => (e, ts, lo)
    }
    val uppers = conjuncts.collect {
      case e @ LessThan(ts, hi) if ts.dataType == TimestampType => (e, ts, hi)
      case e @ GreaterThan(hi, ts) if ts.dataType == TimestampType => (e, ts, hi)
    }
    (for {
      (le, lts, lo) <- lowers
      (ue, uts, hi) <- uppers
      if lts.semanticEquals(uts)
    } yield {
      val rest = conjuncts.filterNot(c => c.fastEquals(le) || c.fastEquals(ue))
      (lts, lo, hi, rest)
    }).headOption
  }

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConjuncts(l) ++ splitConjuncts(r)
    case other => Seq(other)
  }

  private def refsOnly(e: Expression, plan: LogicalPlan): Boolean =
    e.references.subsetOf(plan.outputSet)

  override def apply(plan: LogicalPlan): LogicalPlan = binMicros match {
    case None => plan
    case Some(w) =>
      val wLit = Literal(w, LongType)
      plan.transformUp {
        case j @ Join(left, right, Inner, Some(cond), hint)
            if extractRange(cond).isDefined =>
          val (ts, lo, hi, rest) = extractRange(cond).get
          // probe side owns ts; window side owns both bounds
          val sides = Seq((left, right), (right, left)).find { case (p, wd) =>
            refsOnly(ts, p) && refsOnly(lo, wd) && refsOnly(hi, wd)
          }
          // fire only when the join has NO cross-side equi conjunct:
          // with one, Spark already hash-joins (no rewrite needed) —
          // and the rewritten join's own bin equality makes the rule
          // idempotent instead of re-firing every optimizer iteration
          def hasEquiConjunct(probe: LogicalPlan, window: LogicalPlan) =
            rest.exists {
              case EqualTo(a, b) =>
                (refsOnly(a, probe) && refsOnly(b, window)) ||
                  (refsOnly(a, window) && refsOnly(b, probe))
              case _ => false
            }
          sides match {
            case None => j
            case Some((probe, window)) if hasEquiConjunct(probe, window) => j
            case Some((probe, window)) =>
              def div(e: Expression): Expression =
                new IntegralDivide(UnixMicros(e), wLit)
              val pBinAlias = Alias(div(ts), "graft_p_bin")()
              val probeProj = Project(probe.output :+ pBinAlias, probe)
              val b0 = Alias(div(lo), "graft_b0")()
              val b1 = Alias(new IntegralDivide(
                Subtract(UnixMicros(hi), Literal(1L, LongType)), wLit), "graft_b1")()
              val boundsProj = Project(window.output ++ Seq(b0, b1), window)
              val binAttr = AttributeReference("graft_w_bin", LongType)()
              val gen = Generate(
                // TimeZoneAwareExpression: tz must be pinned for the
                // plan to stay resolved, even for a pure LongType range.
                // The stop is clamped to >= start: a degenerate window
                // (hi <= lo) must match nothing like the naive join
                // does, not crash sequence() with inverted bounds.
                Explode(Sequence(b0.toAttribute,
                  Greatest(Seq(b0.toAttribute, b1.toAttribute)),
                  Some(Literal(1L, LongType)), Some(conf.sessionLocalTimeZone))),
                unrequiredChildIndex = Nil, outer = false, qualifier = None,
                generatorOutput = Seq(binAttr), child = boundsProj)
              val newCond = (Seq[Expression](
                EqualTo(binAttr, pBinAlias.toAttribute),
                GreaterThanOrEqual(ts, lo), LessThan(ts, hi)) ++ rest)
                .reduce(And)
              // preserve the original child order in the output
              val (newL, newR) =
                if (probe eq left) (probeProj, gen) else (gen, probeProj)
              Project(j.output, Join(newL, newR, Inner, Some(newCond), hint))
          }
      }
  }
}

/** Session wiring for the graft Catalyst extensions. [[EvalOnce]] is a
  * pre-transition columnar rule so it runs before CollapseCodegenStages
  * in both the adaptive and the non-adaptive planner. */
object GraftExtensions {
  def install(builder: SparkSession.Builder): SparkSession.Builder =
    builder.withExtensions { ext =>
      ext.injectOptimizerRule(_ => RangeJoinRule)
      ext.injectColumnar(_ => new ColumnarRule {
        override def preColumnarTransitions: Rule[SparkPlan] = EvalOnce
      })
    }
}
