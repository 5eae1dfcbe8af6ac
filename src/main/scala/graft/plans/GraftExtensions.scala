package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions injector — the deployment-grade way to make
  * graft's native expressions available to every session (including pure-SQL
  * clients that never touch the Scala API):
  *
  *   spark-submit --conf spark.sql.extensions=graft.plans.GraftExtensions …
  *
  * or `SparkSession.builder().withExtensions(new GraftExtensions)`.
  * It installs the same functions and optimizer rules `graft.Graft.session`
  * installs into the sessions graft builds itself.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("scaled_dot"),
      new ExpressionInfo(classOf[ScaledDotProduct].getName, "scaled_dot"),
      (exprs: Seq[Expression]) => ScaledDotProduct(exprs.head, exprs(1))))
    ext.injectFunction((
      new FunctionIdentifier("jaro_winkler"),
      new ExpressionInfo(classOf[JaroWinkler].getName, "jaro_winkler"),
      (exprs: Seq[Expression]) => JaroWinkler(exprs.head, exprs(1))))
    // metadata-only count/min/max over manifest-backed scans
    ext.injectOptimizerRule(ManifestAggregates)
    // rollup-mode serving: aggregates over registered raw tables rewritten
    // onto their pre-aggregated rollup segments (reference rollup parity)
    ext.injectOptimizerRule(RollupServingRule)
  }
}
