package graft

/** Pin [[Bench.coldNames]] against reality instead of trusting the hand
  * list: for every registered query, drop every memo of the dir
  * ([[Memo.invalidate]]), run the query once, and record which chains
  * repopulated ([[Memo.labels]], the registry: a chain is a memo whose
  * value holds a DataFrame). A query that rebuilds a chain when the memos
  * are gone is a query whose cold timing differs from its warm timing —
  * the criterion the bench's cold section exists for.
  *
  * The enforced contract (exits non-zero on violation, so the list
  * cannot silently rot as operators are added — the round-15 advice):
  *
  *   1. NO STALE ENTRIES — every curated cold query must touch at least
  *      one chain (round 16 caught q66, whose "memoized corpus-stats"
  *      rationale had rotted: it memoizes only a scalar token total).
  *   2. EVERY CHAIN REPRESENTED — the union of chain labels touched by
  *      the curated set must equal the union touched by ALL queries:
  *      each chain's build cost is cold-timed through at least one
  *      representative (round 16 caught sim.ivfpq, whose only consumers
  *      — q85/q230 — were all missing from the list).
  *
  * Queries that touch only chains ANOTHER curated query already
  * cold-times (e.g. q243 winnow-overlap over q242's winnow index) are
  * reported as `shared` — deliberately not cold-timed, because each cold
  * sample re-pays the full chain rebuild and 50+ rebuilds would blow the
  * bench budget for no new information.
  *
  * Run at sf0.001 — chain membership is a property of the query's code
  * path, not of data volume: `sbt "runMain graft.ColdDetect"`. */
object ColdDetect {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = Graft.session(appName = "graft-colddetect")
    spark.sparkContext.setLogLevel("ERROR")
    val names = SparkEntry.queries.keys.toSeq.sorted
    val touched: Map[String, Set[String]] = names.map { n =>
      Memo.invalidate(spark, sfDir)
      try SparkEntry.queries(n)(spark, sfDir).count()
      catch { case e: Throwable =>
        System.err.println(s"[colddetect] $n FAILED: ${e.getMessage}")
      }
      n -> Memo.labels(spark, sfDir)
    }.toMap
    spark.stop()
    val curated = Bench.coldNames
    val stale = curated.filter(touched.getOrElse(_, Set.empty).isEmpty)
    val allChains = touched.values.reduce(_ ++ _)
    val curatedChains = curated.map(touched.getOrElse(_, Set.empty))
      .foldLeft(Set.empty[String])(_ ++ _)
    val uncovered = (allChains -- curatedChains).toSeq.sorted
    val shared = names.filter(n => touched(n).nonEmpty &&
      !curated.contains(n)).sorted
    def arr(xs: Seq[String]) = xs.map("\"" + _ + "\"").mkString("[", ",", "]")
    println(s"""{"queries_touching_chains":${touched.count(_._2.nonEmpty)},""" +
      s""""curated":${curated.size},"chains":${allChains.size},""" +
      s""""stale":${arr(stale)},"uncovered_chains":${arr(uncovered)},""" +
      s""""shared":${arr(shared)}}""")
    if (stale.nonEmpty || uncovered.nonEmpty)
      sys.error(s"coldNames contract violated — stale entries: $stale; " +
        s"chains with no cold representative: $uncovered")
    println("[colddetect] contract holds: no stale entries, every chain " +
      "has a cold-timed representative")
  }
}
