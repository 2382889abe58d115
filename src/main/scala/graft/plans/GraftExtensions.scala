package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{ExpressionInfo, JsonToStructs}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.JSON_TO_STRUCT

import graft.functions.{DotProduct, FlatJsonToStructs, PqAssign, ZOrderKey}

/** Session extensions registering graft's native Catalyst functions and
  * its two optimizer rules, [[StrengthReduction]] and [[FlatJsonRule]].
  *
  * [[graft.Sessions.local]] installs them; any other session takes
  * `--conf spark.sql.extensions=graft.plans.GraftExtensions`. Queries
  * fall back to built-in compositions when the extension is absent
  * (see VectorFunctions.dotFast and pqAssignFast), so a vanilla session
  * still works. That session is the one case the fallbacks exist for:
  * [[graft.SparkEntry.queries]] runs on whatever session its caller
  * built, and nothing in this repository builds one without the
  * extensions.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        DotProduct(exprs(0), exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_pq_assign"),
      new ExpressionInfo(classOf[PqAssign].getName, "graft_pq_assign"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        PqAssign(exprs(0), exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_zorder"),
      new ExpressionInfo(classOf[ZOrderKey].getName, "graft_zorder"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        ZOrderKey(exprs(0), exprs(1))))
    ext.injectOptimizerRule(_ => StrengthReduction)
    ext.injectPreCBORule(_ => FlatJsonRule)
  }
}

/** `from_json` → [[FlatJsonToStructs]] wherever the fast path can stand
  * in ([[FlatJsonToStructs.accepts]]): no call site changes, and a
  * session without the extensions runs stock `from_json`.
  *
  * Injected as a pre-CBO rule, so it runs once, after the operator
  * optimization batches: `OptimizeCsvJsonExprs` has already pruned each
  * `from_json(...).field` down to the fields read, and the rewrite sees
  * the pruned schema. The new expression keeps the stock one inside, so
  * the rewrite is idempotent (the stock node is no longer a child).
  */
object FlatJsonRule extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressionsWithPruning(_.containsPattern(JSON_TO_STRUCT)) {
      case j: JsonToStructs if FlatJsonToStructs.accepts(j) => FlatJsonToStructs(j)
    }
}
