package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Build-time registration of the graft native functions for cluster
  * deployments: `--conf spark.sql.extensions=graft.functions.GraftExtensions`
  * injects them into every session created by the application. (Inside the
  * driver-owned local harness, where sessions pre-exist, the runtime
  * equivalent [[GraftFunctions.register]] is used instead — both install
  * [[GraftFunctions.natives]].)
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[GraftExtensions].getName, name, usage, "", "")

  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.natives.foreach { case (name, usage, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info(name, usage), builder))
    }
    // selective predicate pushdown through fenced projections — injected
    // into the operator-optimization batch, where the stock rules cascade
    // anything it frees down to the scan (see FencePushdown).
    ext.injectOptimizerRule(_ => FencePushdown)
  }
}
