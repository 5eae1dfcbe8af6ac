package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Generic backward as-of join (point-in-time enrichment): for every left
  * row, attach the most recent right row with the same keys whose time is ≤
  * the left time (optionally within `tolerance`).
  *
  * Tier (a) of the custom-operator ladder (SURVEY.md §7.3): composed from
  * union + carry-forward window, no custom plan node needed — the union
  * shuffles ONCE on the keys and sorts within partitions, which is exactly
  * the minimal work any as-of implementation must do. Right columns are
  * carried through a single struct so N value columns still cost one
  * window pass.
  *
  * At 100 TB: one shuffle of left+right on the key columns; skewed keys are
  * the caller's salting decision since as-of semantics need per-key time
  * order. q48 is this operator instantiated on events.
  */
object AsOf {

  /** @param valueCols right columns to attach (null when no prior right row)
    * @param tolerance max allowed (leftTime - rightTime) in the time
    *        column's own units; None = unbounded lookback */
  def joinBackward(left: DataFrame, right: DataFrame, keys: Seq[String],
      leftTime: String, rightTime: String, valueCols: Seq[String],
      tolerance: Option[Long] = None): DataFrame = {
    val s = left.sparkSession
    import s.implicits._
    val lCols = left.columns.toSeq
    // one struct carries the right row's time + values through the window
    val rTagged = right.select(
      (keys.map(col) :+ col(rightTime).cast("long").as("__t") :+
        struct(col(rightTime).cast("long").as("__rt") +: valueCols.map(col): _*).as("__rv")): _*)
      .withColumn("__isLeft", lit(0))
    val lTagged = left
      .withColumn("__t", col(leftTime).cast("long"))
      .withColumn("__rv", lit(null).cast(rTagged.schema("__rv").dataType))
      .withColumn("__isLeft", lit(1))
      .select((keys.map(col) :+ col("__t") :+ col("__rv") :+ col("__isLeft")) ++
        lCols.filterNot(keys.contains).map(col): _*)
    // right rows sort BEFORE left rows at equal times → a right row at
    // exactly leftTime is visible (≤ semantics). Right rows tied on
    // (keys, time) take a final value-struct hash tiebreak so which one is
    // carried is a pure function of the data, not of partitioning order
    // (bit-reproducibility contract; only an exact 64-bit hash collision
    // between distinct tied values is left unspecified).
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("__t").asc, col("__isLeft").asc, xxhash64(col("__rv")).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = lTagged.unionByName(
        rTagged.select((keys.map(col) :+ col("__t") :+ col("__rv") :+ col("__isLeft")): _*),
        allowMissingColumns = true)
      .withColumn("__last", last(col("__rv"), ignoreNulls = true).over(w))
      .filter(col("__isLeft") === 1)
    val fresh = tolerance match {
      case Some(tol) => carried.withColumn("__last",
        when(col("__t") - col("__last.__rt") <= tol, col("__last")))
      case None => carried
    }
    fresh.select(lCols.map(col) ++
      valueCols.map(c => col(s"__last.$c").as(c)): _*)
  }
}
