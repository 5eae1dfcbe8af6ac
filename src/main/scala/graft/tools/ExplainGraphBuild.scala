package graft.tools

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.ExplainMode

import graft.Tables

/** Plan-audit tool for the ITERATIVE GRAPH BUILDS: the q84/q87/q98/q112
  * query paths read a memoized, checkpointed rank frame, so
  * `graft.Explain` on those names prints only the 14-line ExistingRDD
  * consumer plan. This prints the formatted plan of the UNMATERIALIZED
  * build (`materialize = false`) over the same purchase-edge relation the
  * queries use — the per-round join/aggregate structure the round-18
  * fusion changed. Usage:
  *   sbt "runMain graft.tools.ExplainGraphBuild [/sf/dir]"
  */
object ExplainGraphBuild {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.Graft.session(appName = "graft-explain-graph-build")
    spark.sparkContext.setLogLevel("ERROR")
    // the q84/q87/q98/q112 edge relation (Graphs.purchaseEdges): distinct
    // customer→supplier purchase pairs, customers namespaced by +10^7
    val custBase = 10000000L
    val li = Tables.lineitem(spark, sfDir)
    val o = Tables.orders(spark, sfDir)
    val edges = li.join(o, li("l_orderkey") === o("o_orderkey"))
      .select((col("o_custkey") + custBase).as("src"), col("l_suppkey").as("dst"))
      .distinct()
    val weighted = li.join(o, li("l_orderkey") === o("o_orderkey"))
      .groupBy((col("o_custkey") + custBase).as("src"), col("l_suppkey").as("dst"))
      .agg(sum(col("l_quantity")).cast("long").as("qty"))
    val seeds = edges.select(col("src").as("seed_id")).distinct()
      .filter((col("seed_id") - custBase) % 10 === 0)
    val builds: Seq[(String, org.apache.spark.sql.DataFrame)] = Seq(
      "q84_pagerank_build" ->
        graft.operators.Graphs.pageRank(edges, "src", "dst", iters = 3,
          materialize = false),
      "q87_pagerank_personalized_build" ->
        graft.operators.Graphs.pageRank(edges, "src", "dst", iters = 3,
          seeds = Some(seeds), materialize = false),
      "q112_pagerank_weighted_build" ->
        graft.operators.Graphs.pageRank(weighted, "src", "dst", iters = 3,
          weightCol = Some("qty"), materialize = false),
      "q98_hits_build" ->
        graft.operators.Graphs.hits(edges, "src", "dst", iters = 2,
          materialize = false))
    builds.foreach { case (n, df) =>
      println(s"\n===================== $n =====================")
      println(df.queryExecution.explainString(ExplainMode.fromString("formatted")))
    }
    spark.stop()
  }
}
