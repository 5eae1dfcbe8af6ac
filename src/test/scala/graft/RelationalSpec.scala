package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.scalatest.funsuite.AnyFunSuite

object TestSpark {
  lazy val spark: SparkSession = {
    val s = Graft.session("local[4]", "graft-test", Some(4))
    // Spark's INFO lines (hundreds of thousands per run) bury test output
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf: String = "/root/testdata/sf0.001"

  /** Runs `df` with `collect()` and returns its rows together with the
    * number of files its scans kept: each FileSourceScanExec's `numFiles`
    * in AQE's final plan, which for a `format("graft")` table is what the
    * manifest kept. `collect()` because ManifestAggregates answers a bare
    * unfiltered `count()` from the manifest with no scan. */
  def keptFiles(df: DataFrame): (Array[Row], Long) = {
    val rows = df.collect()
    val plan = df.queryExecution.executedPlan
    val scans = ScanNodes.of(plan)
    assert(scans.nonEmpty, s"no file scan in the executed plan:\n$plan")
    (rows, scans.map(_.metrics("numFiles").value).sum)
  }

  private object ScanNodes extends AdaptiveSparkPlanHelper {
    def of(plan: SparkPlan): Seq[FileSourceScanExec] =
      collect(plan) { case s: FileSourceScanExec => s }
  }
}

class RelationalSpec extends AnyFunSuite {
  import TestSpark._

  test("entry flagship returns rows") {
    val df = SparkEntry.entry(spark)
    assert(df.count() > 0)
    assert(df.columns.contains("sum_qty"))
  }

  /** A value's text, byte arrays as hex and map entries sorted, so equal
    * results give equal text whatever order the engine produced them in. */
  private def show(v: Any): String = v match {
    case null => "null"
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString
    case r: Row => r.toSeq.map(show).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => show(k) + "->" + show(x) }.sorted
        .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(show).mkString("[", ",", "]")
    case x => x.toString
  }

  /** SHA-256 of a result's sorted rows: the set the oracle compare sees. */
  private def digest(df: DataFrame): String = {
    val rows = df.collect().map(show).sorted.mkString("\n")
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(rows.getBytes("UTF-8")).map(x => f"$x%02x").mkString
  }

  private def oracled: Seq[String] = SparkEntry.oracleSql.keys.toSeq.sorted

  // the pass over every declared query at the session's settings (AQE on,
  // 4 partitions): oracled results are digested, the rest only counted
  private lazy val firstPass: Map[String, String] = {
    val oracledSet = oracled.toSet
    SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      withClue(s"$name:") {
        val df = fn(spark, sf)
        if (oracledSet(name)) Some(name -> digest(df))
        else { assert(df.count() >= 0); None }
      }
    }.toMap
  }

  test("every declared query runs and every oracle key exists") {
    val qs = SparkEntry.queries
    assert(qs.nonEmpty)
    SparkEntry.oracleSql.keys.foreach(k => assert(qs.contains(k), s"oracle without query: $k"))
    assert(firstPass.keySet == oracled.toSet)
  }

  test("oracled results are invariant under AQE off and 7 shuffle partitions") {
    // Memos are not invalidated between the passes: a memoized chain built
    // by the first pass is reused here, so this checks what each query
    // does downstream of its memos, not the chain builds themselves.
    val keys = Seq("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
    val saved = keys.map(k => k -> spark.conf.get(k))
    val before = firstPass
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.shuffle.partitions", "7")
      val differ = oracled.filter { name =>
        withClue(s"$name:")(digest(SparkEntry.queries(name)(spark, sf))) !=
          before(name)
      }
      assert(differ.isEmpty, s"results changed: ${differ.mkString(", ")}")
    } finally saved.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("q03 aggregates match a hand-computed slice") {
    import org.apache.spark.sql.functions._
    val df = operators.Relational.q03(spark, sf)
    val total = df.agg(sum("count_order")).head().getLong(0)
    val expected = Tables.lineitem(spark, sf)
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp")).count()
    assert(total == expected)
  }

  test("q12 top-n is ordered descending") {
    val rows = SparkEntry.queries("q12_top_n")(spark, sf).collect()
    val prices = rows.map(_.getAs[Double]("l_extendedprice"))
    assert(prices.sameElements(prices.sorted(Ordering[Double].reverse)))
  }
}
