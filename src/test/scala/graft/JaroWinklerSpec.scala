package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.JaroWinkler

class JaroWinklerSpec extends AnyFunSuite {
  import TestSpark._

  // textbook fixtures (exact doubles from the DuckDB-variant kernel:
  // 0.7-boost-gated Winkler prefix; values verified against DuckDB's
  // jaro_winkler_similarity bit-for-bit)
  private val fixtures = Seq(
    ("MARTHA", "MARHTA", 0.9611111111111111),
    ("DIXON", "DICKSONX", 0.8133333333333332),
    ("JELLYFISH", "SMELLYFISH", 0.8962962962962964),
    ("DWAYNE", "DUANE", 0.8400000000000001),
    ("CRATE", "TRACE", 0.7333333333333334),
    // jaro = 0.671957… < 0.7 → the shared 'd' prefix must NOT add a bonus
    ("dcbbceb", "dacdbeeaa", 0.671957671957672),
    ("ABC", "ABC", 1.0),
    ("", "ABC", 0.0),
    ("", "", 1.0), // rapidfuzz/DuckDB: two empty strings are identical
    ("a", "b", 0.0))

  test("kernel matches the textbook fixtures exactly") {
    for ((a, b, want) <- fixtures) {
      assert(JaroWinkler.simStr(a, b) == want, s"simStr($a, $b)")
      assert(JaroWinkler.simStr(b, a) == want, s"symmetric simStr($b, $a)")
    }
  }

  test("codegen'd expression == kernel on the fixtures (DataFrame path)") {
    import spark.implicits._
    val df = fixtures.map { case (a, b, w) => (a, b, w) }.toDF("a", "b", "want")
    val out = df.select(JaroWinkler($"a", $"b").as("got"), $"want").collect()
    out.foreach(r => assert(r.getDouble(0) == r.getDouble(1)))
  }

  test("jaro_winkler is registered for SQL text") {
    val got = spark.sql(
      "SELECT jaro_winkler('MARTHA', 'MARHTA') AS s").head().getDouble(0)
    assert(got == 0.9611111111111111)
  }

  test("GraftExtensions injects jaro_winkler into a function registry") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new graft.plans.GraftExtensions().apply(ext)
    val reg = new org.apache.spark.sql.catalyst.analysis.SimpleFunctionRegistry
    org.apache.spark.sql.graft.Bridge.registerFunctions(ext, reg)
    assert(reg.functionExists(FunctionIdentifier("jaro_winkler")))
  }

  test("jaroWinklerPairs: blocked candidates, a<b, threshold inclusive") {
    import spark.implicits._
    val df = Seq(
      (1L, "martha stone", "m"), (2L, "marhta stone", "m"),
      (3L, "marcus stone", "m"), (4L, "nadia stone", "n"))
      .toDF("id", "name", "ignored")
    val pairs = graft.operators.Dedup.jaroWinklerPairs(
      df, "id", "name", substring(lower(col("name")), 1, 1), minSim = 0.9)
      .collect()
    // only within the 'm' block; (1,2) transposition scores highest
    assert(pairs.forall(r => r.getLong(0) < r.getLong(1)))
    val ab = pairs.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ab.contains((1L, 2L)))
    assert(!ab.exists { case (x, y) => x == 4L || y == 4L })
  }

  test("jaroWinklerPairs: maxBlockSize drops mega-blocks before the self-join") {
    import spark.implicits._
    val hot = (1L to 20L).map(i => (i, s"hot name $i"))
    val cold = Seq((100L, "cold alpha"), (101L, "cold alphq"))
    val df = (hot ++ cold).toDF("id", "name")
    val capped = graft.operators.Dedup.jaroWinklerPairs(
      df, "id", "name", substring(col("name"), 1, 3), minSim = 0.0,
      maxBlockSize = Some(10))
    // the 20-member "hot" block is dropped; the 2-member block survives
    val got = capped.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSet == Set((100L, 101L)))
  }
}
