package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier

import graft.plans.{JaroWinkler, ScaledDotProduct}

/** SQL function registry — the UDF/extension surface the reference lacks
  * entirely (SURVEY.md §2.A.3: "no UDF/UDAF/UDTF registration surface").
  * Registers graft's native expressions so they are reachable from
  * `spark.sql` text as well as the Column API.
  */
object Registry {
  // once per session: re-registering an existing temp function logs a
  // "replaced a previously registered function" WARN, which pollutes the
  // bench tail the log-hygiene work keeps as a signal channel; the
  // session's own registry says whether it already holds them
  def install(spark: SparkSession): Unit = synchronized {
    val reg = spark.sessionState.functionRegistry
    if (!reg.functionExists(FunctionIdentifier("scaled_dot"))) {
      reg.createOrReplaceTempFunction(
        "scaled_dot", exprs => ScaledDotProduct(exprs.head, exprs(1)), "built-in")
      reg.createOrReplaceTempFunction(
        "jaro_winkler", exprs => JaroWinkler(exprs.head, exprs(1)), "built-in")
    }
  }
}
