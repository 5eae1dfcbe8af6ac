package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Similarity

class ScaledDotSpec extends AnyFunSuite {
  import TestSpark._

  test("native ScaledDotProduct == composable zip_with/aggregate form") {
    val e = Tables.embeddings(spark, sf).limit(100)
    val pairs = e.select(col("vec_id").as("a_id"), col("embedding").as("ea"))
      .crossJoin(e.select(col("vec_id").as("b_id"), col("embedding").as("eb")))
      .limit(2000)
    val both = pairs.select(
      graft.plans.ScaledDotProduct(col("ea"), col("eb")).as("native"),
      Similarity.dotScaledLambda("ea", "eb").as("lambda"))
    assert(both.filter(col("native") =!= col("lambda")).count() == 0)
  }

  test("scaled_dot is registered for SQL text") {
    Tables.embeddings(spark, sf).limit(5).createOrReplaceTempView("emb5")
    val out = spark.sql(
      "SELECT vec_id, scaled_dot(embedding, embedding) AS n FROM emb5").collect()
    assert(out.forall(_.getAs[Long]("n") > 0))
  }

  test("GraftExtensions injects scaled_dot into a function registry") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new graft.plans.GraftExtensions().apply(ext)
    val reg = new org.apache.spark.sql.catalyst.analysis.SimpleFunctionRegistry
    org.apache.spark.sql.graft.Bridge.registerFunctions(ext, reg)
    assert(reg.functionExists(FunctionIdentifier("scaled_dot")))
    val e = reg.lookupFunction(FunctionIdentifier("scaled_dot"), Seq(
      org.apache.spark.sql.graft.Bridge.expression(lit(Array(1.0f))),
      org.apache.spark.sql.graft.Bridge.expression(lit(Array(2.0f)))))
    assert(e.isInstanceOf[graft.plans.ScaledDotProduct])
  }

  test("native kernel participates in codegen (no fallback errors) and is faster") {
    val e = Tables.embeddings(spark, sf)
    val pairs = e.select(col("embedding").as("ea"))
      .crossJoin(e.select(col("embedding").as("eb")))
    def time(c: org.apache.spark.sql.Column): Double = {
      val t0 = System.nanoTime()
      pairs.select(sum(c)).head()
      (System.nanoTime() - t0) / 1e9
    }
    // warmup both
    time(graft.plans.ScaledDotProduct(col("ea"), col("eb")))
    time(Similarity.dotScaledLambda("ea", "eb"))
    val tn = time(graft.plans.ScaledDotProduct(col("ea"), col("eb")))
    val tl = time(Similarity.dotScaledLambda("ea", "eb"))
    info(f"native $tn%.3fs vs lambda $tl%.3fs (${tl / tn}%.1fx)")
    assert(tn <= tl * 1.2, f"native $tn%.3f should not be slower than lambda $tl%.3f")
  }
}
