package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSet, SortOrder}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
import org.apache.spark.sql.catalyst.plans.{InnerLike, LeftOuter, RightOuter}
import org.apache.spark.sql.catalyst.plans.physical.Partitioning
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{CodegenSupport, SparkPlan, UnaryExecNode}
import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec

/** Pass-through node that makes whole-stage codegen evaluate every
  * column of its child once per row, here, instead of wherever the
  * parent first reads it. It stays inside the child's codegen stage:
  * no row copy, no extra stage, and `doExecute` is the child's. */
case class EvalOnceExec(child: SparkPlan) extends UnaryExecNode with CodegenSupport {
  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering
  override def usedInputs: AttributeSet = outputSet
  override def inputRDDs(): Seq[RDD[InternalRow]] =
    child.asInstanceOf[CodegenSupport].inputRDDs()
  override protected def doProduce(ctx: CodegenContext): String =
    child.asInstanceOf[CodegenSupport].produce(ctx, this)
  override def doConsume(ctx: CodegenContext, input: Seq[ExprCode], row: ExprCode): String =
    consume(ctx, input)
  override protected def doExecute(): RDD[InternalRow] = child.execute()
  override protected def withNewChildInternal(newChild: SparkPlan): EvalOnceExec =
    copy(child = newChild)
}

/** Physical rule: put the streamed side of every inner/outer broadcast
  * nested-loop join under [[EvalOnceExec]]. The fused join forces only
  * the streamed columns its condition reads; a deferred projection (a
  * native kernel, a HOF column) would otherwise be emitted inside the
  * per-build-row loop and run once per (row, build row) pair. The
  * interpreted join already evaluates the streamed projection once per
  * row, so this only aligns the codegen path with it. Semi/anti joins
  * emit streamed columns after the loop and are left alone. Idempotent,
  * because adaptive execution applies it again on every re-plan. */
object EvalOnce extends Rule[SparkPlan] {
  // fused joins that emit the streamed columns once per matching pair
  private def emitsPerPair(j: BroadcastNestedLoopJoinExec): Boolean =
    j.supportCodegen && (j.joinType match {
      case _: InnerLike | LeftOuter | RightOuter => true
      case _ => false
    })

  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case j: BroadcastNestedLoopJoinExec if emitsPerPair(j) =>
      j.buildSide match {
        case BuildRight if !j.left.isInstanceOf[EvalOnceExec] =>
          j.copy(left = EvalOnceExec(j.left))
        case BuildLeft if !j.right.isInstanceOf[EvalOnceExec] =>
          j.copy(right = EvalOnceExec(j.right))
        case _ => j
      }
  }
}
