package graft

import org.apache.spark.sql.execution.ExplainMode

/** Plan-audit tool: prints the formatted physical plan of the named
  * queries (all of them with no names given) at the given sf dir —
  * `sbt "runMain graft.Explain q80_hybrid_rrf"` (a leading /path
  * argument overrides the sf dir). The per-operator plan locks live in
  * the specs; this is for eyeballing new plans (PushedFilters, broadcast
  * vs shuffle, WholeStageCodegen spans) before locking them. */
object Explain {
  def main(args: Array[String]): Unit = {
    val (dirArgs, rest) = args.toSeq.partition(_.startsWith("/"))
    // --exec: run each query (count(), the bench action) BEFORE printing,
    // so the plan shown is the FINAL adaptive plan — AQE stage reuse
    // (deduplicated identical exchange subtrees) only appears there; the
    // pre-execution plan prints one subtree per consumer even when the
    // runtime executes it once.
    val exec = rest.contains("--exec")
    val nameArgs = rest.filterNot(_ == "--exec")
    val sfDir = dirArgs.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (nameArgs.nonEmpty) nameArgs
      else SparkEntry.queries.keys.toSeq.sorted
    val spark = Graft.session(appName = "graft-explain")
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n===================== $n =====================")
      try {
        val df = SparkEntry.queries(n)(spark, sfDir)
        // toRdd on THIS queryExecution (count() would plan a separate
        // one and leave this plan isFinalPlan=false)
        if (exec) df.queryExecution.toRdd.count()
        println(df.queryExecution
          .explainString(ExplainMode.fromString("formatted")))
      } catch { case e: Throwable => println(s"FAILED: ${e.getMessage}") }
    }
    spark.stop()
  }
}
