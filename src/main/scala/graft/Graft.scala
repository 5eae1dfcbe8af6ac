package graft

import org.apache.spark.sql.SparkSession

/** Engine facade: the one session bootstrap. Every graft main, the test
  * fixture and a library user start from [[session]], and it is the only
  * place graft's optimizer rules and SQL functions are installed — once,
  * when the session starts, never per query.
  *
  * Settings mirror the builder-environment conventions (SURVEY.md §6 env):
  * shuffle partitions sized to cores (not the 200 default), AQE on (runtime
  * re-planning incl. skew-join split), UTC session time, nano-parquet
  * tolerance for event streams. The core count is `SPARK_GRAFT_CPUS` when
  * set, else the JVM's available processors; it sizes the default master
  * (`local[cores]`) and the default shuffle partitions.
  *
  * A `newSession()` clone of the returned session carries neither the
  * rules nor the functions. A spark-submit deployment, whose sessions graft
  * does not build, gets both from `spark.sql.extensions` set to
  * [[plans.GraftExtensions]].
  */
object Graft {
  private def cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  def session(master: String = s"local[$cores]", appName: String = "graft",
      shufflePartitions: Option[Int] = None): SparkSession = {
    val spark = SparkSession.builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.shuffle.partitions",
        shufflePartitions.getOrElse(cores).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // room for every generated class a workload reuses (Spark's default of
      // 100 evicts and recompiles them). A static conf: it only takes effect
      // when this call creates the JVM's first session.
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      .getOrCreate()
    functions.Registry.install(spark)
    // the session-local equivalents of GraftExtensions' injected rules
    // (metadata-only manifest aggregates; rollup-mode serving)
    val rules = Seq(plans.ManifestAggregates(spark),
      plans.RollupServingRule(spark))
      .filterNot(r => spark.experimental.extraOptimizations
        .exists(_.getClass == r.getClass))
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations ++ rules
    spark
  }
}
