package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.{RollupServing, RollupServingRule}
import graft.streaming.Realtime

/** The rollup-serving optimizer rule: aggregates over a registered raw
  * table are rewritten onto its pre-aggregated rollup segments when (and
  * only when) derivable — answers must be identical, the plan must scan
  * the rollup, and every non-derivable shape must be left untouched. */
class RollupServingSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private val dir = Files.createTempDirectory("rollup_serv").toString
  private val rawPath = s"$dir/raw"
  private val rollupPath = s"$dir/rollup"

  private lazy val setup: Unit = {
    val raw = Seq(
      ("click", 1L, 10.5, 100L), ("click", 1L, 2.5, 101L),
      ("click", 2L, 4.0, 102L), ("view", 1L, 1.0, 103L),
      ("view", 2L, 7.25, 104L), ("view", 2L, 0.75, 105L)
    ).toDF("event_type", "day", "value", "arr")
    raw.write.mode("overwrite").parquet(rawPath)
    val spec = Realtime.RollupSpec(Seq("event_type", "day"),
      Seq(("value", Realtime.Sum), ("arr", Realtime.Cnt)), arrival = "arr")
    Realtime.rollupBatch(spark.read.parquet(rawPath), spec)
      .write.mode("overwrite").parquet(rollupPath)
    // the rule itself is installed by Graft.session
    RollupServing.registerFromSpec(spark, rawPath, rollupPath, spec)
  }

  private val D = DecimalType(30, 6)

  /** Root paths of every relation scanned by the OPTIMIZED plan (the plan
    * string doesn't print paths, so inspect the relations directly). */
  private def scanned(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.queryExecution.optimizedPlan.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location.rootPaths.map(_.toString)
          case _ => Nil
        }
    }.flatten
  private def servedFromRollup(df: org.apache.spark.sql.DataFrame): Boolean =
    scanned(df).exists(_.stripPrefix("file:").stripSuffix("/") == rollupPath)

  test("derivable aggregate is served from the rollup with identical values") {
    setup
    val q = spark.read.parquet(rawPath)
      .groupBy($"event_type")
      .agg(sum($"value".cast(D)).cast(DoubleType).as("sv"),
        count(lit(1)).as("n"))
      .orderBy($"event_type")
    assert(servedFromRollup(q),
      s"expected rollup scan, scanned ${scanned(q)}:\n${q.queryExecution.optimizedPlan}")
    val got = q.collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
    assert(got.toSeq == Seq(("click", 17.0, 3L), ("view", 9.0, 3L)))
  }

  test("dim filter rides the rewrite; result matches raw") {
    setup
    val q = spark.read.parquet(rawPath)
      .filter($"day" === 2L)
      .groupBy($"event_type")
      .agg(sum($"value".cast(D)).cast(DoubleType).as("sv"))
      .orderBy($"event_type")
    assert(servedFromRollup(q))
    assert(q.collect().map(r => (r.getString(0), r.getDouble(1))).toSeq ==
      Seq(("click", 4.0), ("view", 8.0)))
  }

  test("global (ungrouped) count and sum also rewrite; empty-filter count is 0") {
    setup
    val q = spark.read.parquet(rawPath)
      .agg(count(lit(1)).as("n"), sum($"value".cast(D)).cast(DoubleType).as("sv"))
    assert(servedFromRollup(q))
    assert(q.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      Seq((6L, 26.0)))
    val empty = spark.read.parquet(rawPath)
      .filter($"day" === 99L).agg(count(lit(1)).as("n"))
    assert(servedFromRollup(empty))
    assert(empty.head().getLong(0) == 0L) // coalesce(sum(cnt), 0)
  }

  test("non-derivable shapes are left on the raw scan") {
    setup
    // measure filter (not dim-only) must NOT rewrite
    val mf = spark.read.parquet(rawPath).filter($"value" > 1.0)
      .groupBy($"event_type").agg(count(lit(1)))
    assert(!servedFromRollup(mf))
    // distinct count not derivable
    val cd = spark.read.parquet(rawPath)
      .groupBy($"event_type").agg(countDistinct($"day"))
    assert(!servedFromRollup(cd))
    // plain double sum would change the result type → untouched
    val ds = spark.read.parquet(rawPath)
      .groupBy($"event_type").agg(sum($"value"))
    assert(!servedFromRollup(ds))
    // grouping by a non-dim column → untouched
    val ng = spark.read.parquet(rawPath)
      .groupBy($"arr").agg(count(lit(1)))
    assert(!servedFromRollup(ng))
    // min not declared in the rollup spec → untouched
    val nm = spark.read.parquet(rawPath)
      .groupBy($"event_type").agg(min($"value"))
    assert(!servedFromRollup(nm))
  }

  test("unregistered tables never rewrite") {
    setup
    val other = s"$dir/other"
    Seq((1L, 2L)).toDF("a", "b").write.mode("overwrite").parquet(other)
    val q = spark.read.parquet(other).groupBy($"a").agg(count(lit(1)))
    assert(!servedFromRollup(q))
  }

  test("a registration serves only the session that made it") {
    setup
    def agg(s: org.apache.spark.sql.SparkSession) = s.read.parquet(rawPath)
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    // a clone carries no rules: add the rule by hand, the one install a
    // test makes itself
    val second = spark.newSession()
    second.experimental.extraOptimizations = Seq(RollupServingRule(second))
    val q2 = agg(second)
    assert(!servedFromRollup(q2),
      s"second session served from the first one's rollup: ${scanned(q2)}")
    assert(scanned(q2).exists(_.stripPrefix("file:").stripSuffix("/") == rawPath))
    assert(servedFromRollup(agg(spark)))
    assert(q2.orderBy("event_type").collect().map(_.getLong(1)).toSeq ==
      Seq(3L, 3L))
  }
}
