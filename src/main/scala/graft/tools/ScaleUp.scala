package graft.tools

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Cross-sf soak data: scale an existing sf directory N× by unioning N
  * key-shifted copies of every fact table (dimensions region/nation stay
  * single-copy, like TPC-H's fixed-size dims). Key families shift
  * CONSISTENTLY across tables (o_custkey moves with c_custkey, lineitem's
  * three FKs with their parents), so referential integrity and join
  * selectivities survive the scale-up; values, timestamps, and text are
  * untouched. Deterministic (copy index is the only new information).
  *
  * `runMain graft.tools.ScaleUp [src] [dst] [copies]` — defaults
  * /root/testdata/sf0.1 → /tmp/graft_sf1 ×10 (~6M lineitem). Output is
  * one parquet FILE per table (not a directory): the DuckDB oracle side
  * of check.py reads `dir/table.parquet` as a single file. */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val dst = args.lift(1).getOrElse("/tmp/graft_sf1")
    val copies = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = graft.Graft.session(appName = "graft-scaleup")
    spark.sparkContext.setLogLevel("WARN")
    Files.createDirectories(Paths.get(dst))

    def read(t: String) = spark.read.parquet(s"$src/$t.parquet")
    def writeOne(df: DataFrame, t: String): Unit = {
      val tmp = s"$dst/_tmp_$t"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = Option(new java.io.File(tmp).listFiles())
        .getOrElse(sys.error(s"parquet write produced nothing at $tmp"))
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .getOrElse(sys.error(s"no part file for $t"))
      Files.move(part.toPath, Paths.get(s"$dst/$t.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
      new java.io.File(tmp).listFiles().foreach(_.delete())
      new java.io.File(tmp).delete()
      println(s"[scaleup] $t: ${spark.read.parquet(s"$dst/$t.parquet").count()} rows")
    }

    // one ceiling per KEY FAMILY (max+1 over the parent table), shared by
    // every table carrying that key so the shifted FKs still resolve
    // getAs[Number]: the key may be INT32 in a foreign parquet; null-guard
    // covers an empty table (both would otherwise fail with a bare CCE/NPE)
    def ceil(t: String, c: String): Long =
      Option(read(t).agg(max(col(c))).head().getAs[Number](0))
        .map(_.longValue + 1L)
        .getOrElse(sys.error(s"$t.$c is empty — cannot derive a key ceiling"))
    val custC = ceil("customer", "c_custkey")
    val suppC = ceil("supplier", "s_suppkey")
    val partC = ceil("part", "p_partkey")
    val ordC = ceil("orders", "o_orderkey")
    val evC = ceil("events", "event_id")
    val userC = ceil("events", "user_id")
    val docC = ceil("documents", "doc_id")
    val vecC = read("embeddings").agg(max(col("vec_id"))).head().getLong(0) + 1L

    // replicate: cross join with the copy index, shift each keyed column
    // by i·ceiling, keep the original column order
    val idx = spark.range(copies).select(col("id").as("__i"))
    def rep(t: String, shifts: Map[String, Long]): DataFrame = {
      val df = read(t)
      val shifted = df.crossJoin(broadcast(idx))
        .select(df.columns.map { c =>
          shifts.get(c) match {
            case Some(k) => (col(c) + col("__i") * lit(k)).as(c)
            case None => col(c)
          }
        }.toIndexedSeq: _*)
      shifted
    }

    Seq("region", "nation").foreach(t => writeOne(read(t), t))
    writeOne(rep("customer", Map("c_custkey" -> custC)), "customer")
    writeOne(rep("supplier", Map("s_suppkey" -> suppC)), "supplier")
    writeOne(rep("part", Map("p_partkey" -> partC)), "part")
    writeOne(rep("orders", Map("o_orderkey" -> ordC, "o_custkey" -> custC)),
      "orders")
    writeOne(rep("lineitem", Map("l_orderkey" -> ordC, "l_partkey" -> partC,
      "l_suppkey" -> suppC)), "lineitem")
    writeOne(rep("events", Map("event_id" -> evC, "user_id" -> userC)),
      "events")
    writeOne(rep("documents", Map("doc_id" -> docC)), "documents")
    writeOne(rep("embeddings", Map("vec_id" -> vecC)), "embeddings")
    println(s"[scaleup] wrote $dst at ${copies}x $src")
    spark.stop()
  }
}
