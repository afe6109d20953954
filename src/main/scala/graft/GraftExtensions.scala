package graft

import graft.algo.LocalKernels
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Expression,
  ExpressionInfo, InterpretedOrdering, Unevaluable}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, Sort}
import org.apache.spark.sql.catalyst.rules.Rule

/** Session extensions for the engine's native Catalyst expressions and
  * rules — enable with `spark.sql.extensions=graft.GraftExtensions` (every
  * session this repo creates does). Currently injects:
  *
  *   graft_dot(arrayA, arrayB) -> double   (graft.functions.DotProduct)
  *   graft_polyhash(str)       -> bigint   (graft.functions.PolyHash)
  *   optimizer rule [[SortLocalRelation]]
  *
  * Injection (vs a UDF) keeps the function inside whole-stage codegen and
  * visible to SQL, `call_function`, and EXPLAIN like any built-in.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(GraftExtensions.dotFunction)
    ext.injectFunction(GraftExtensions.polyHashFunction)
    ext.injectOptimizerRule(SortLocalRelation)
  }
}

/** Sorts driver-held rows on the driver: when the WHOLE plan is a global
  * Sort directly over a LocalRelation (a resident kernel hit's rows, with
  * any projection `ConvertToLocalRelation` already folded in), the rule
  * replaces both with the relation's rows in sorted order, so `collect()`
  * is a bare `LocalTableScan` — no range-sampling job, no shuffle, no task.
  * It matches the root only: a Sort under a Limit stays
  * `TakeOrderedAndProject`, and one under a join or any other operator is
  * not touched. Only global sorts over deterministic, evaluable keys fold.
  * Off when `spark.graft.algo.localSizeBytes <= 0`, and for relations
  * estimated above it, like every other small-input route. */
case class SortLocalRelation(spark: SparkSession) extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    case Sort(order, true, l: LocalRelation, _) if !l.isStreaming &&
        order.forall(o => o.deterministic && !o.child.exists(unevaluable)) && {
          val cap = LocalKernels.localSizeBytes(spark)
          cap > 0 && l.stats.sizeInBytes <= cap
        } =>
      l.copy(data = l.data.sorted(new InterpretedOrdering(order, l.output)))
    case _ => plan
  }

  private def unevaluable(e: Expression): Boolean =
    e.isInstanceOf[Unevaluable] && !e.isInstanceOf[AttributeReference]
}

object GraftExtensions {
  val dotFunction
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[graft.functions.DotProduct].getName, "graft_dot"),
      (args: Seq[Expression]) => {
        require(args.length == 2, s"graft_dot takes 2 arguments, got ${args.length}")
        graft.functions.DotProduct(args.head, args(1))
      })

  val polyHashFunction
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("graft_polyhash"),
      new ExpressionInfo(classOf[graft.functions.PolyHash].getName, "graft_polyhash"),
      (args: Seq[Expression]) => {
        require(args.length == 1,
          s"graft_polyhash takes 1 argument, got ${args.length}")
        graft.functions.PolyHash(args.head)
      })
}
