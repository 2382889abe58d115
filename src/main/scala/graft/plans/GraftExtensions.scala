package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

import graft.functions.{DotProduct, PqAssign, ZOrderKey}

/** Session extensions registering graft's native Catalyst functions.
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
  }
}
