package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

import graft.expressions.Functions

/** Session-extensions entry point: makes the engine's native expressions
  * first-class SQL functions in any session, via
  *
  * {{{
  * spark.sql.extensions=graft.GraftExtensions
  * }}}
  *
  * (or `.withExtensions(new GraftExtensions)` on a builder). This is the
  * idiomatic library integration path: every function of
  * [[graft.expressions.Functions]] is injected once. The per-session
  * `register(spark)` helpers on the expression companions add a function
  * only to a session that lacks it.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String) =
    new ExpressionInfo("graft", null, name, usage, "", "", "", "", "", "", "built-in")

  override def apply(ext: SparkSessionExtensions): Unit = {
    // declarative window top-k -> bounded TopKAgg aggregate (see
    // graft.plans.TopKRewrite for the exact guard conditions)
    ext.injectOptimizerRule(_ => graft.plans.TopKRewrite())
    Functions.All.foreach(f =>
      ext.injectFunction((FunctionIdentifier(f.name), info(f.name, f.usage), f.build)))
  }
}
