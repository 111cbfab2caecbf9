package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.plans.{ExtractExpression, PolyHashExpression}

/** Session extensions (the public injection seam): names the native
  * `graft_extract` and `graft_polyhash` Catalyst expressions for SQL.
  * Enable with `.config("spark.sql.extensions", "graft.GraftExtensions")`.
  * The DataFrame API does not need it: `ExtractJob.extractedDf` and
  * `Dedup.polyHash` build the same expressions straight into the plan on
  * every session. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("graft_extract"),
      new ExpressionInfo(classOf[ExtractExpression].getName, "graft_extract"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "graft_extract(url, payload) takes 2 arguments")
        ExtractExpression(children.head, children(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_polyhash"),
      new ExpressionInfo(classOf[PolyHashExpression].getName, "graft_polyhash"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "graft_polyhash(s) takes 1 argument")
        PolyHashExpression(children.head)
      }))
  }
}
