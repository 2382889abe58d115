package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

import graft.functions.{DotProduct, ZOrderKey}

/** Session extensions registering graft's native Catalyst functions.
  *
  * [[graft.Sessions.local]] installs them; any other session takes
  * `--conf spark.sql.extensions=graft.plans.GraftExtensions`. Queries
  * fall back to built-in compositions when the extension is absent
  * (see VectorFunctions.dot), so a vanilla session still works.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        DotProduct(exprs(0), exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_zorder"),
      new ExpressionInfo(classOf[ZOrderKey].getName, "graft_zorder"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        ZOrderKey(exprs(0), exprs(1))))
    ext.injectOptimizerRule(_ => StrengthReduction)
  }
}
