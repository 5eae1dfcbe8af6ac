package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Streaming soak: the one scale dimension BENCH_SF1 doesn't cover —
  * state growth and per-batch wall of a LONG-RUNNING streaming pipeline.
  * StreamingSpec proves the streaming operators correct at toy scale;
  * this main drives the production-shaped loop (incremental minhash
  * dedup against a standing signature index + per-batch drift vs the
  * corpus reference mix + ingest rollup merged into a standing store)
  * over the REAL corpus split into micro-batches, through actual
  * Structured Streaming foreachBatch machinery, and then LOCKS the
  * result against the batch engine:
  *
  *   - the union of per-batch dup pairs must equal the all-batch
  *     [[graft.operators.Dedup.minhashPairs]] run (the incremental
  *     decomposition is exact, not approximate), and
  *   - the standing rollup store after N merges must equal one batch
  *     rollup of the whole corpus (RTSMerge split-invariance at corpus
  *     scale).
  *
  * Emits one `SOAK {json}` line per batch (rows, wall seconds, standing
  * index size, pairs found, tv_ppm vs the corpus mix) and a final
  * `SOAK_SUMMARY {json}` line; tools/soak_streaming.py wraps it and
  * writes STREAM_SOAK.json. The per-batch walls are the scale story:
  * they must stay FLAT as the standing index grows — the standing corpus
  * is never re-read or re-shuffled (only the new batch is shingled and
  * signed; the index side of the band join grows, but as a bounded-key
  * equi-join, not a rescan). */
object StreamSoak {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val nBatches = sys.env.getOrElse("SPARK_GRAFT_SOAK_BATCHES", "12").toInt
    val spark = Graft.session(appName = "graft-streamsoak")
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext

    val docs = graft.Tables.documents(spark, sfDir)
      .select($"doc_id".cast("long"), $"lang".cast("string"),
        $"n_chars".cast("long"), $"text".cast("string"))
      .persist()
    val total = docs.count()
    // the static reference mix the drift monitor certifies each batch
    // against: the corpus' own lang rows (a batch IS a sample of the
    // corpus here, so tv_ppm measures batch-vs-corpus sampling drift)
    val refLang = docs.select($"lang".as("bucket")).persist()
    refLang.count()

    val rspec = graft.streaming.Realtime.RollupSpec(
      dims = Seq("lang"),
      metrics = Seq(("n_chars", graft.streaming.Realtime.Sum),
        ("doc_id", graft.streaming.Realtime.Cnt)),
      arrival = "doc_id")

    // standing state, mutated per batch exactly as a production loop
    // would: signature index appended (never reshuffled), rollup store
    // re-merged (#dims-bounded rows), both snapped via localCheckpoint
    // so lineage doesn't accumulate across batches
    var index = graft.operators.Dedup.minhashIndex(
      docs.limit(0), "doc_id", "text")
    var store: Option[DataFrame] = None
    val pairs = scala.collection.mutable.Set.empty[(Long, Long, Double)]
    val lines = scala.collection.mutable.ArrayBuffer.empty[String]
    def f3(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

    val mem = MemoryStream[(Long, String, Long, String)]
    val q = mem.toDF().toDF("doc_id", "lang", "n_chars", "text")
      .writeStream.foreachBatch {
        (batch: DataFrame, id: Long) =>
          val t0 = System.nanoTime()
          val b = batch.persist()
          val rows = b.count()
          val found = graft.operators.Dedup
            .dedupIncremental(b, "doc_id", "text", index)
            .select($"doc_id", $"dup_id", $"est_sim").collect()
            .map(r => (math.min(r.getLong(0), r.getLong(1)),
              math.max(r.getLong(0), r.getLong(1)), r.getDouble(2)))
          pairs ++= found
          index = index.unionByName(graft.operators.Dedup
            .minhashIndex(b, "doc_id", "text")).localCheckpoint()
          val indexRows = index.count()
          val tv = graft.operators.Curation
            .distributionDrift(refLang, b.select($"lang".as("bucket")), "bucket")
            .agg(expr("sum(delta_ppm) DIV 2")).collect().head.getLong(0)
          val roll = graft.streaming.Realtime.rollupBatch(b, rspec)
          store = Some(graft.streaming.Realtime.mergeRollups(
            store.map(_.unionByName(roll)).getOrElse(roll), rspec)
            .localCheckpoint())
          b.unpersist(blocking = false)
          val wall = (System.nanoTime() - t0) / 1e9
          val line = s"""{"batch":$id,"rows":$rows,"wall_s":${f3(wall)},""" +
            s""""index_rows":$indexRows,"pairs":${found.length},"tv_ppm":$tv}"""
          lines += line
          println(s"SOAK $line")
          ()
      }.start()

    // deterministic micro-batches: slice i = doc_id % nBatches (collected
    // once — the corpus text fits the driver at the soak scales; a real
    // deployment reads from Kafka/files and never collects)
    val slices = docs.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3)))
      .groupBy(_._1 % nBatches)
    (0 until nBatches).foreach { i =>
      mem.addData(slices.getOrElse(i.toLong, Array.empty).toSeq)
      q.processAllAvailable()
    }
    q.stop()

    // ---- equivalence locks against the batch engine ----
    val full = graft.operators.Dedup.minhashPairs(docs, "doc_id", "text")
      .select($"doc_a", $"doc_b", $"est_sim").collect()
      .map(r => (math.min(r.getLong(0), r.getLong(1)),
        math.max(r.getLong(0), r.getLong(1)), r.getDouble(2))).toSet
    val pairsOk = pairs.toSet == full
    val batchRoll = graft.streaming.Realtime.rollupBatch(docs, rspec)
    val key = (d: org.apache.spark.sql.Row) =>
      (d.getString(0), d.getLong(1), d.getLong(2))
    val rollOk = store.get.collect().map(key).toSet ==
      batchRoll.collect().map(key).toSet
    val walls = lines.map(l =>
      "\"wall_s\":([0-9.]+)".r.findFirstMatchIn(l).get.group(1).toDouble)
    val summary =
      s"""{"sf":"$sfDir","batches":$nBatches,"docs":$total,""" +
      s""""pairs_total":${pairs.size},"pairs_equal_batch":$pairsOk,""" +
      s""""rollup_equal_batch":$rollOk,"wall_first_s":${f3(walls.head)},""" +
      s""""wall_last_s":${f3(walls.last)},"wall_max_s":${f3(walls.max)},""" +
      s""""wall_total_s":${f3(walls.sum)},""" +
      s""""batch_lines":[${lines.mkString(",")}]}"""
    spark.stop()
    println(s"SOAK_SUMMARY $summary")
    if (!pairsOk || !rollOk)
      sys.error(s"stream/batch equivalence FAILED: pairs=$pairsOk rollup=$rollOk")
  }
}
