package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query-name prefixes to dump (dev
    // loop — the driver always calls with two args = everything)
    val Array(sfDir, outDir) = args.take(2)
    // "--sql-only" dumps just oracle_sql.json (for tools/lint_oracles.py)
    // without executing any query; otherwise an optional comma-separated
    // list of query-name prefixes filters what runs (dev loop).
    val sqlOnly = args.length > 2 && args(2) == "--sql-only"
    val only: Option[Seq[String]] =
      if (sqlOnly) Some(Seq.empty)
      else if (args.length > 2) Some(args(2).split(",").toSeq) else None
    val spark = Graft.session(appName = "graft-verify")
    // SPARK_GRAFT_AQE=false re-runs the whole gate with adaptive execution
    // off — the robustness sweep that caught q132's AQE-off planner fault
    sys.env.get("SPARK_GRAFT_AQE")
      .foreach(spark.conf.set("spark.sql.adaptive.enabled", _))
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val selected = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.exists(name.startsWith)) }
    // per-query wall seconds (plan + execute + one coalesced parquet
    // write) → outDir/engine_times.json: the sf1 soak reads it so the
    // third decade gets a per-query perf trend line, not just a
    // correctness bit (Bench only runs at the driver's sf)
    val times = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    val failures = selected.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      try {
        val t0 = System.nanoTime()
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        times += name -> (System.nanoTime() - t0) / 1e9
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name)
      }
    }
    Files.writeString(Paths.get(s"$outDir/engine_times.json"),
      times.map { case (k, v) =>
        "\"" + k + "\":" + String.format(java.util.Locale.ROOT, "%.3f",
          Double.box(v))
      }.mkString("{", ",", "}") + "\n")
    // a query that errors silently vanishes from the driver's correctness
    // table (round 7 lost 12 event queries to a testdata type change with
    // no visible signal) — make the tally impossible to miss, on BOTH
    // streams and in a file the next session will trip over
    val tally = s"[verify] dumped ${selected.size - failures.size} of " +
      s"${selected.size} queries" +
      (if (failures.isEmpty) "" else s"; FAILED: ${failures.mkString(", ")}")
    println(tally)
    System.err.println(tally)
    if (failures.nonEmpty)
      Files.writeString(Paths.get(s"$outDir/FAILURES.txt"),
        failures.mkString("\n") + "\n")
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
