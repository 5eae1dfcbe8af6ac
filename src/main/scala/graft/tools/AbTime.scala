package graft.tools

/** A/B timing scratch harness: time a comma-separated list of queries
  * (all queries with no list) for N passes under the session config
  * given by env, printing per-query seconds per pass. Unlike Bench this
  * makes no artifact and applies no schedule — it exists to measure one
  * config or code delta on a handful of queries quickly:
  *
  *   SPARK_GRAFT_AB_CONF="spark.sql.adaptive.coalescePartitions.parallelismFirst=false,spark.sql.adaptive.advisoryPartitionSizeInBytes=16m" \
  *   sbt "runMain graft.tools.AbTime q03_agg_tpch1,q13_join_facts"
  *
  * SPARK_GRAFT_AB_CONF entries are set on the running session, so they
  * must be runtime confs: a static key fails with Spark's own error naming
  * it. Static keys go in as `-Dspark.…` system properties of the forked
  * JVM, the way graftbench/run.py sets the codegen cache:
  *
  *   sbt 'set javaOptions += "-Dspark.sql.codegen.cache.maxEntries=1000"' \
  *     "runMain graft.tools.AbTime q03_agg_tpch1"
  */
object AbTime {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val passes = sys.env.getOrElse("SPARK_GRAFT_AB_PASSES", "3").toInt
    val spark = graft.Graft.session(appName = "graft-abtime")
    // entries split on ';' (conf VALUES may contain ','); ',' is still
    // accepted as a separator when no ';' is present, for the historical
    // invocations. An entry without '=' fails loudly, not with MatchError.
    sys.env.get("SPARK_GRAFT_AB_CONF").foreach { raw =>
      val sep = if (raw.contains(';')) ';' else ','
      raw.split(sep).map(_.trim).filter(_.nonEmpty).foreach { kv =>
        kv.split("=", 2) match {
          case Array(k, v) => spark.conf.set(k, v)
          case _ => sys.error(
            s"SPARK_GRAFT_AB_CONF entry is not key=value: '$kv'")
        }
      }
    }
    spark.sparkContext.setLogLevel("ERROR")
    val names =
      if (args.nonEmpty) args.flatMap(_.split(",")).toSeq
      else graft.SparkEntry.queries.keys.toSeq.sorted
    val walls = names.map { n =>
      val ts = (0 until passes).map { _ =>
        val t0 = System.nanoTime()
        try graft.SparkEntry.queries(n)(spark, sfDir).count()
        catch { case e: Throwable => println(s"AB FAIL $n: ${e.getMessage}") }
        (System.nanoTime() - t0) / 1e9
      }
      println(f"AB $n%-34s " +
        ts.map(t => f"$t%7.3f").mkString(" ") + f"  min=${ts.min}%7.3f")
      n -> ts.min
    }
    println(f"AB TOTAL min-of-$passes%d: ${walls.map(_._2).sum}%.3f s over ${names.size}%d queries")
    spark.stop()
  }
}
