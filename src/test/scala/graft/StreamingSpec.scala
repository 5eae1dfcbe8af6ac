package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.Realtime
import graft.streaming.Realtime._

/** End-to-end realtime pipeline: MemoryStream JSON → decode/defaults/tags →
  * per-batch rollup dump → compaction merge → hybrid read. Mirrors the
  * reference's ingest lifecycle (SegmentScanTest-style end-to-end). */
class StreamingSpec extends AnyFunSuite {
  import TestSpark._

  private val schema = StructType(Seq(
    StructField("ev_id", LongType),
    StructField("dim", StringType),
    StructField("tag", StringType),
    StructField("v", DoubleType),
    StructField("n", LongType)))

  private val spec = IngestSpec(
    schema = schema,
    defaults = Map("v" -> 0.0, "n" -> 0L),
    aliases = Map("n" -> "cnt"),
    tagField = Some("tag"),
    acceptTags = Set("keep", "vip"),
    rollup = Some(RollupSpec(
      dims = Seq("dim"),
      metrics = Seq("v" -> Sum, "v2" -> Min, "cnt" -> Sum, "first_v" -> First, "last_v" -> Last),
      arrival = "ev_id")))

  // rollup refers to derived metric columns; build them post-decode
  private def enrich(df: org.apache.spark.sql.DataFrame) = df
    .withColumn("v2", col("v"))
    .withColumn("first_v", col("v"))
    .withColumn("last_v", col("v"))

  test("decode applies defaults, tag filter and aliases") {
    import spark.implicits._
    val raw = Seq(
      """{"ev_id":1,"dim":"a","tag":"keep","v":2.5,"n":1}""",
      """{"ev_id":2,"dim":"a","tag":"drop","v":9.9,"n":1}""",
      """{"ev_id":3,"dim":"b","tag":"vip,extra"}""").toDF("json")
    val out = Realtime.decode(raw, "json", spec).collect()
    assert(out.length == 2) // 'drop' filtered
    val b = out.find(_.getAs[String]("dim") == "b").get
    assert(b.getAs[Double]("v") == 0.0) // default fill
    assert(b.getAs[Long]("cnt") == 0L) // alias applied + default
  }

  test("ingestFromJson: the reference-shaped realtime JSON stands up the whole pipeline") {
    import spark.implicits._
    // table spec (schema JSON layer) + realtime config JSON = no code
    val tspec = graft.model.TableSpec(
      name = "ev",
      columns = Seq(
        graft.model.ColumnSpec("ev_id", "bigint"),
        graft.model.ColumnSpec("dim", "varchar"),
        graft.model.ColumnSpec("tag", "varchar"),
        graft.model.ColumnSpec("v", "double", default = Some("1.5")),
        graft.model.ColumnSpec("cnt", "bigint")),
      dims = Seq("dim"), metrics = Seq("v" -> "sum", "cnt" -> "sum"))
    val rtJson =
      """{"dims": ["dim"],
        |"metrics": [{"name": "v", "agg": "sum"}, {"name": "cnt", "agg": "sum"}],
        |"name.alias": {"cnt": "n"},
        |"tag.setting": {"tag.field": "tag", "accept.tags": ["keep", "vip"]},
        |"ignoreStrategy": "NO_IGNORE"}""".stripMargin
    val ispec = Realtime.ingestFromJson(tspec, rtJson, arrival = "ev_id")
    assert(ispec.aliases == Map("n" -> "cnt"))
    assert(ispec.schema.fieldNames.contains("n") && !ispec.schema.fieldNames.contains("cnt"))
    assert(ispec.defaults("v") == 1.5 && ispec.defaults("n") == 0L)
    assert(ispec.tagField.contains("tag") && ispec.acceptTags == Set("keep", "vip"))
    assert(!ispec.ignoreEmpty)
    val r = ispec.rollup.get
    assert(r.dims == Seq("dim") && r.metrics == Seq("v" -> Sum, "cnt" -> Sum))
    // and it decodes + rolls up real events end to end (alias + default live)
    val raw = Seq(
      """{"ev_id":1,"dim":"a","tag":"keep","n":2}""",
      """{"ev_id":2,"dim":"a","tag":"vip","v":2.5,"n":1}""",
      """{"ev_id":3,"dim":"a","tag":"drop","v":9.9,"n":9}""").toDF("json")
    val rolled = Realtime.rollupBatch(Realtime.decode(raw, "json", ispec), r)
      .collect()
    assert(rolled.length == 1)
    val row = rolled.head
    assert(row.getAs[String]("dim") == "a")
    assert(row.getAs[java.math.BigDecimal]("v").doubleValue() == 4.0) // 1.5 default + 2.5
    assert(row.getAs[Long]("cnt") == 3L)
  }

  test("malformed lines are FAILED rows: decode drops them, ingestStats counts all classes") {
    import spark.implicits._
    // PERMISSIVE from_json parses '{bad...' to an all-null STRUCT, which
    // without the corrupt-record marker is indistinguishable from an
    // empty object — the reference drops such lines as failCount
    // (UTF8JsonRowCreator), never emits a defaults-filled ghost row
    val schema2 = StructType(Seq(
      StructField("tag", StringType), StructField("k", LongType)))
    val spec2 = IngestSpec(schema = schema2, tagField = Some("tag"),
      acceptTags = Set("keep"), ignoreEmpty = true)
    val raw = Seq(
      """{"tag":"keep","k":1}""",   // produced
      """{bad json""",              // failed
      """{"tag":"drop","k":2}""",   // ignored_tag
      """{"tag":"keep"}""",         // ignored_empty (k is the only metric)
      """{"tag":"keep","k":5}""").toDF("json") // produced
    val decoded = Realtime.decode(raw, "json", spec2)
      .collect().map(_.getAs[Long]("k")).toSet
    assert(decoded == Set(1L, 5L), s"decode kept $decoded")
    val st = Realtime.ingestStats(raw, "json", spec2).collect().head
    assert((st.getAs[Long]("consumed"), st.getAs[Long]("produced"),
      st.getAs[Long]("ignored_tag"), st.getAs[Long]("ignored_empty"),
      st.getAs[Long]("failed")) == ((5L, 2L, 1L, 1L, 1L)), s"stats $st")
  }

  test("ingestFromJson: omitted metrics fall back to the table spec's agg schema") {
    // symmetric with the dims fallback — a dims-only realtime JSON must
    // not silently yield rollup=None when the table spec carries metrics
    val tspec = graft.model.TableSpec(
      name = "ev2",
      columns = Seq(
        graft.model.ColumnSpec("ev_id", "bigint"),
        graft.model.ColumnSpec("dim", "varchar"),
        graft.model.ColumnSpec("v", "double"),
        graft.model.ColumnSpec("cnt", "bigint")),
      dims = Seq("dim"), metrics = Seq("v" -> "sum", "cnt" -> "max"))
    val ispec = Realtime.ingestFromJson(tspec, """{"dims": ["dim"]}""",
      arrival = "ev_id")
    val r = ispec.rollup.getOrElse(fail("rollup must come from the table spec"))
    assert(r.dims == Seq("dim") && r.metrics == Seq("v" -> Sum, "cnt" -> Max))
    // an EXPLICIT empty metrics array still means "no rollup requested"
    val none = Realtime.ingestFromJson(tspec,
      """{"dims": ["dim"], "metrics": []}""", arrival = "ev_id")
    assert(none.rollup.isEmpty)
  }

  test("IGNORE_EMPTY classifies an aliased dim as a dim in decode") {
    import spark.implicits._
    // column "dim" parses under alias "d"; rollup dims are post-alias
    // names, so the parse-time classification must map them back through
    // the aliases or the dim counts as a metric and the all-metrics-null
    // row below survives
    val schema = StructType(Seq(
      StructField("d", StringType), StructField("v", DoubleType)))
    val spec = IngestSpec(
      schema = schema, aliases = Map("d" -> "dim"), ignoreEmpty = true,
      rollup = Some(RollupSpec(Seq("dim"), Seq("v" -> Sum), "dim")))
    val raw = Seq(
      """{"d":"a","v":2.5}""",
      """{"d":"b"}""").toDF("json") // all metrics null -> drop
    val viaApi = Realtime.decode(raw, "json", spec)
      .collect().map(_.getAs[String]("dim")).toSet
    assert(viaApi == Set("a"), s"decode kept $viaApi")
  }

  test("streaming ingest -> batch dumps -> compaction merges rollup state") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val dir = Files.createTempDirectory("graft-rt").toString
    val ckpt = Files.createTempDirectory("graft-ckpt").toString

    val mem = MemoryStream[String]
    val q = mem.toDF().toDF("json").transform { raw =>
      Realtime.decode(raw, "json", spec.copy(rollup = None))
    }.writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        val r = spec.rollup.get
        Realtime.rollupBatch(enrich(batch), r)
          .write.mode("overwrite").parquet(s"$dir/batch=$batchId")
        ()
      }.start()

    mem.addData(
      """{"ev_id":10,"dim":"a","tag":"keep","v":1.0,"n":2}""",
      """{"ev_id":11,"dim":"a","tag":"keep","v":3.0,"n":1}""",
      """{"ev_id":12,"dim":"b","tag":"vip","v":5.0,"n":1}""")
    q.processAllAvailable()
    mem.addData(
      """{"ev_id":13,"dim":"a","tag":"keep","v":7.0,"n":4}""",
      """{"ev_id":14,"dim":"b","tag":"vip","v":-2.0,"n":1}""")
    q.processAllAvailable()
    q.stop()

    val r = spec.rollup.get
    val parts = spark.read.parquet(s"$dir/batch=*")
    assert(parts.select("dim").distinct().count() == 2)

    Realtime.compact(spark, dir, r, indexedCols = Seq("dim"))
    val gen = Files.readString(java.nio.file.Paths.get(s"$dir/current"))
    // the compacted generation is a manifest-indexed segment table: a probe
    // outside the dim range prunes every file, inside keeps the data
    import graft.storage.Segments
    val files = Segments.readManifest(gen).size
    assert(files > 0)
    val seg = spark.read.format("graft").load(gen)
    val (outside, keptOutside) = keptFiles(seg.filter(col("dim") >= "zzz"))
    assert(outside.isEmpty && keptOutside == 0, s"kept $keptOutside of $files files")
    val (inside, keptInside) = keptFiles(seg.filter(col("dim").between("a", "b")))
    assert(inside.length == 2 && keptInside == files, s"kept $keptInside of $files files")
    val merged = spark.read.parquet(gen).collect()
      .map(row => row.getAs[String]("dim") -> row).toMap

    val a = merged("a")
    // SUM metrics on doubles travel as exact decimals
    assert(a.getAs[java.math.BigDecimal]("v").doubleValue == 11.0) // 1+3+7
    assert(a.getAs[Double]("v2") == 1.0) // min
    assert(a.getAs[Long]("cnt") == 7L) // 2+1+4
    assert(a.getAs[Double]("first_v") == 1.0) // ev_id 10
    assert(a.getAs[Double]("last_v") == 7.0) // ev_id 13
    val b = merged("b")
    assert(b.getAs[Double]("first_v") == 5.0 && b.getAs[Double]("last_v") == -2.0)
  }

  test("compaction carries equality + substring-LIKE blooms into the manifest") {
    // a table that arrived via the realtime path must prune like a batch
    // Segments.write table: compact() writes its generation through the
    // segment writer, which folds the blooms as it writes (reference:
    // realtime dumps build their full indices, rt/RealtimeSegment.java:215-308)
    import spark.implicits._
    import graft.storage.Segments
    val dir = Files.createTempDirectory("graft-rt-idx").toString
    val r = RollupSpec(Seq("dim"), Seq("v" -> Sum), "ev_id")
    val dims = Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "kappa", "sigma").map(_ + "-page")
    dims.zipWithIndex.foreach { case (d, i) =>
      Seq((i.toLong, d, i * 1.0), (100L + i, d, 2.0))
        .toDF("ev_id", "dim", "v").transform(Realtime.rollupBatch(_, r))
        .write.parquet(s"$dir/batch=$i")
    }

    // AQE rightly coalesces 8 rows into one file; force multiple files so
    // the per-file pruning assertions below are non-vacuous
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val gen =
      try Realtime.compact(spark, dir, r, indexedCols = Seq("dim"),
        bloomCols = Seq("dim"), ngramCols = Seq("dim"))
      finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    val manifest = Segments.readManifest(gen)
    assert(manifest.size >= 2, "8 dims must spread over >1 compacted file")
    assert(manifest.forall(f => f.blooms.contains("dim") && f.ngrams.contains("dim")),
      "every compacted file must carry the dim blooms")
    val seg = spark.read.format("graft").load(gen)
    // equality bloom: a value that was never ingested prunes every file
    val (nope, keptNope) = keptFiles(seg.filter($"dim" === "nope-page"))
    assert(nope.isEmpty && keptNope == 0)
    // substring bloom: an absent trigram prunes every file; a real substring
    // prunes the files not holding it and keeps the matching row
    val (zzz, keptZzz) = keptFiles(seg.filter($"dim".contains("zzz")))
    assert(zzz.isEmpty && keptZzz == 0)
    val (gamma, keptGamma) = keptFiles(seg.filter($"dim".contains("gamma")))
    assert(keptGamma < manifest.size, "files without the 'gamma' trigrams must prune")
    assert(gamma.map(_.getAs[String]("dim")).toSeq == Seq("gamma-page"))
    assert(seg.filter($"dim" === "alpha-page").count() == 1)
  }

  test("compaction writes its manifest in the merge write and leaves no sidecar") {
    import spark.implicits._
    import graft.storage.Segments
    val dir = Files.createTempDirectory("graft-rt-fold").toString
    val r = RollupSpec(Seq("dim"), Seq("v" -> Sum), "ev_id")
    (0 until 3).foreach { b =>
      (0 until 40).map(i => (b * 100L + i, s"page-${(i * 7 + b) % 23}", i * 0.5))
        .toDF("ev_id", "dim", "v").transform(Realtime.rollupBatch(_, r))
        .write.parquet(s"$dir/batch=$b")
    }
    val gen = Realtime.compact(spark, dir, r, indexedCols = Seq("dim", "v"),
      bloomCols = Seq("dim"), ngramCols = Seq("dim"))
    val names = new java.io.File(gen).list().toSeq
    assert(!names.exists(_.startsWith("_graft_entry.")), s"sidecars left: $names")
    assert(Segments.readManifest(gen).map(_.rows).sum == 23)
    // the writer's fold equals a fold over the committed files, byte for byte
    val written = Segments.readTextFile(s"$gen/${Segments.ManifestFile}")
    Segments.buildManifest(spark, gen, Seq("dim", "v"), "parquet", Seq("dim"), Seq("dim"))
    assert(Segments.readTextFile(s"$gen/${Segments.ManifestFile}") == written)
  }

  test("compaction keeps only the current and the previous generation") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-rt-gens").toString
    val r = RollupSpec(Seq("dim"), Seq("v" -> Sum), "ev_id")
    val gens = (0 until 4).map { b =>
      Seq((b.toLong, s"d$b", b + 1.0)).toDF("ev_id", "dim", "v")
        .transform(Realtime.rollupBatch(_, r)).write.parquet(s"$dir/batch=$b")
      Realtime.compact(spark, dir, r, indexedCols = Seq("dim"))
    }
    def name(p: String) = new java.io.File(p).getName
    val left = new java.io.File(dir).list().filter(_.startsWith("compacted-")).sorted.toSeq
    assert(left == gens.takeRight(2).map(name).sorted, s"generations left: $left")
    val current = Files.readString(java.nio.file.Paths.get(s"$dir/current"))
    assert(current == gens.last)
    val rows = spark.read.format("graft").load(current).collect()
      .map(row => row.getAs[String]("dim") -> row.getAs[java.math.BigDecimal]("v").doubleValue)
    assert(rows.toMap == Map("d0" -> 1.0, "d1" -> 2.0, "d2" -> 3.0, "d3" -> 4.0))
  }

  test("merge of per-batch rollups equals one-shot rollup over all rows") {
    import spark.implicits._
    val r = RollupSpec(Seq("dim"), Seq("v" -> Sum, "fv" -> First, "lv" -> Last), "ev_id")
    val rows = (1 to 100).map(i => (i.toLong, s"d${i % 7}", i * 0.5, i * 0.5, i * 0.5))
    val df = rows.toDF("ev_id", "dim", "v", "fv", "lv")
    val oneShot = Realtime.rollupBatch(df, r)
    val batched = Realtime.mergeRollups(
      Realtime.rollupBatch(df.filter($"ev_id" <= 50), r)
        .unionByName(Realtime.rollupBatch(df.filter($"ev_id" > 50), r)), r)
    val cols = Seq("dim", "v", "fv", "lv")
    assert(oneShot.select(cols.map(col): _*).collect().toSet ==
      batched.select(cols.map(col): _*).collect().toSet)
  }

  test("stream-static join enriches a stream with a dimension table map-side") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    // the standard serving enrichment: per micro-batch, the static dim
    // joins (broadcast-sized here) without any stream-side state
    val dim = Seq((1L, "gold"), (2L, "basic")).toDF("uid", "tier")
    val mem = MemoryStream[(Long, Double)]
    val out = mem.toDF().toDF("uid", "v")
      .join(org.apache.spark.sql.functions.broadcast(dim), Seq("uid"), "left_outer")
      .select($"uid", $"v", coalesce($"tier", lit("unknown")).as("tier"))
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("enrich_out").start()
    mem.addData((1L, 10.0), (3L, 30.0))
    q.processAllAvailable()
    mem.addData((2L, 20.0))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("enrich_out").collect()
      .map(r => (r.getLong(0), r.getString(2))).toSet
    assert(got == Set((1L, "gold"), (2L, "basic"), (3L, "unknown")), s"got $got")
  }

  test("Misra-Gries sketch aggregates a stream incrementally (complete mode)") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    // the k-bounded sketch is a standard streaming aggregate: partial
    // buffers merge across micro-batches exactly as across partitions, so
    // the no-false-negative bar holds over everything ingested so far
    val mem = MemoryStream[String]
    val mg = udaf(new graft.functions.MisraGriesAgg(8),
      org.apache.spark.sql.Encoders.STRING)
    val agg = mem.toDF().toDF("item").agg(mg($"item").as("s"))
      .select($"s.n".as("n"), map_keys($"s.items").as("cands"))
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("mg_out").start()
    mem.addData(Seq.fill(30)("hot") ++ (1 to 20).map(i => s"cold$i"): _*)
    q.processAllAvailable()
    mem.addData(Seq.fill(25)("hot2") ++ (21 to 40).map(i => s"cold$i"): _*)
    q.processAllAvailable()
    q.stop()
    val row = spark.table("mg_out").head()
    assert(row.getAs[Long]("n") == 95L)
    val cands = row.getSeq[String](1)
    assert(cands.size <= 8)
    // both hot items exceed n/(k+1) = 95/9 ≈ 10 — the sketch must hold them
    assert(cands.contains("hot") && cands.contains("hot2"), s"got $cands")
  }

  test("KMV sketch aggregates a stream incrementally = batch bottom-k") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    // BottomKLongs is mergeable: partial buffers combine across
    // micro-batches exactly as across partitions, so the streamed sketch
    // over everything ingested equals the one-shot batch sketch
    val mem = MemoryStream[Long]
    val bk = udaf(new graft.functions.BottomKLongs(8),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Long]())
    val hashed = mem.toDF().toDF("x")
      .withColumn("h", graft.functions.Ops.md5Long(concat(lit("k:"), $"x")))
    val agg = hashed.agg(bk($"h").as("sketch"))
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("kmv_out").start()
    mem.addData(1L to 40L: _*)
    q.processAllAvailable()
    mem.addData(41L to 80L: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("kmv_out").head().getSeq[Long](0)
    val batch = (1L to 80L).toDF("x")
      .withColumn("h", graft.functions.Ops.md5Long(concat(lit("k:"), $"x")))
      .agg(bk($"h")).head().getSeq[Long](0)
    assert(streamed == batch, s"streamed $streamed vs batch $batch")
    assert(streamed.size == 8 && streamed == streamed.sorted)
  }

  test("streamed incremental minhash dedup equals the all-batch LSH run") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    import graft.operators.Dedup
    // the production loop: each micro-batch dedups against the signature
    // index of everything before it, then appends its own signatures —
    // the standing corpus text is never re-read
    val boiler = "terms of service apply to all content here"
    val docs = Seq(
      (1L, s"$boiler alpha beta gamma delta epsilon zeta eta theta"),
      (2L, s"$boiler alpha beta gamma delta epsilon zeta eta theta"), // b1 dup
      (3L, s"$boiler one two three four five six seven eight nine ten"),
      (4L, s"$boiler alpha beta gamma delta epsilon zeta eta theta"), // b2 dup of b1
      (5L, s"$boiler one two three four five six seven eight nine ten"), // b3 dup of b2
      (6L, s"$boiler moon star cloud rain wind snow fog hail"))
    val all = docs.toDF("my_id", "body")
    var index = Dedup.minhashIndex(all.limit(0), "my_id", "body")
    val found = scala.collection.mutable.Set.empty[(Long, Long, Double)]
    val mem = MemoryStream[(Long, String)]
    val q = mem.toDF().toDF("my_id", "body").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val pairs = Dedup.dedupIncremental(batch, "my_id", "body", index)
          .collect().map(r => (r.getAs[Long]("doc_id"),
            r.getAs[Long]("dup_id"), r.getAs[Double]("est_sim")))
        found ++= pairs.map { case (a, b, s) =>
          (math.min(a, b), math.max(a, b), s) }
        index = index.unionByName(
          Dedup.minhashIndex(batch, "my_id", "body")).localCheckpoint()
        ()
      }.start()
    docs.grouped(2).foreach { b => mem.addData(b); q.processAllAvailable() }
    q.stop()
    val full = Dedup.minhashPairs(all, "my_id", "body")
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Double]("est_sim"))).toSet
    assert(found.toSet == full, s"streamed $found vs batch $full")
  }

  test("quality filter and hash mixing run unchanged on a stream (map-only ops)") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    // the same map-only curation ops used in batch apply to a stream as-is
    val curated = graft.operators.Curation.qualityFilter(
      mem.toDF().toDF("id", "txt"), "id", "txt",
      graft.operators.Curation.defaultRules)
    assert(curated.isStreaming, "qualityFilter must preserve streaming-ness")
    val q = curated.writeStream.outputMode("append")
      .format("memory").queryName("qf_out").start()
    mem.addData(
      (1L, "tiny"),
      (2L, "the quick brown fox and a dog walked over the hill while many " +
        "other animals watched or slept nearby all afternoon long"))
    q.processAllAvailable(); q.stop()
    val out = spark.table("qf_out").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Int]("keep")).toMap
    assert(out == Map(1L -> 0, 2L -> 1), s"got $out")
  }

  test("watermarked window agg drops late events (superset of reference, which has no late-data policy)") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String, Double)]
    val agg = mem.toDF().toDF("ts", "k", "v")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes"), col("k"))
      .agg(sum(col("v")).as("sv"))
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("wm_out").start()
    def t(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
    mem.addData((t(0), "a", 1.0), (t(2), "a", 2.0))
    q.processAllAvailable()
    mem.addData((t(30), "a", 5.0)) // advances watermark past first window
    q.processAllAvailable()
    mem.addData((t(1), "a", 100.0)) // late beyond watermark -> dropped
    q.processAllAvailable()
    mem.addData((t(50), "a", 1.0)) // close the 10:30 window too
    q.processAllAvailable()
    q.stop()
    val out = spark.table("wm_out").collect()
      .map(r => r.getAs[Double]("sv"))
    assert(out.contains(3.0), s"first window should emit 1+2=3, got ${out.toSeq}")
    assert(!out.contains(103.0) && !out.contains(100.0), "late event must be dropped")
  }

  test("checkpoint restart resumes without reprocessing (commitlog replay parity)") {
    import spark.implicits._
    val in = Files.createTempDirectory("graft-in").toString
    val out = Files.createTempDirectory("graft-out").toString
    val ckpt = Files.createTempDirectory("graft-ck").toString
    def run(): Unit = {
      val q = graft.sources.Streams.jsonFiles(spark, in)
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          b.write.mode("overwrite").parquet(s"$out/batch=$id"); ()
        }.start()
      q.processAllAvailable(); q.stop()
    }
    Files.writeString(java.nio.file.Paths.get(s"$in/a.json"), "{\"x\":1}\n{\"x\":2}\n")
    run()
    val afterFirst = spark.read.parquet(s"$out/batch=*").count()
    Files.writeString(java.nio.file.Paths.get(s"$in/b.json"), "{\"x\":3}\n")
    run() // restart from checkpoint: only the new file forms a batch
    val all = spark.read.parquet(s"$out/batch=*").count()
    assert(afterFirst == 2 && all == 3, s"expected 2 then 3 rows total, got $afterFirst then $all")
  }

  test("Realtime.start drives the full ingest query (decode -> rollup -> dumps)") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val dir = Files.createTempDirectory("graft-start").toString
    val ckpt = Files.createTempDirectory("graft-start-ck").toString
    val simpleSpec = IngestSpec(
      schema = schema,
      defaults = Map("v" -> 0.0),
      rollup = Some(RollupSpec(Seq("dim"), Seq("v" -> Sum, "ev_id" -> Max), "ev_id")))
    val mem = MemoryStream[String]
    val q = Realtime.start(mem.toDF().toDF("json"), "json", simpleSpec, dir, ckpt)
    mem.addData(
      """{"ev_id":1,"dim":"a","tag":"t","v":2.0,"n":0}""",
      """{"ev_id":2,"dim":"a","tag":"t","v":3.0,"n":0}""")
    q.processAllAvailable(); q.stop()
    val out = spark.read.parquet(s"$dir/batch=0")
    val a = out.filter($"dim" === "a").head()
    assert(a.getAs[java.math.BigDecimal]("v").doubleValue == 5.0)
    assert(a.getAs[Long]("ev_id") == 2L)
  }

  test("kafka-shaped ingest: wire records -> decode -> rollup -> compact -> hybrid") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val dir = Files.createTempDirectory("graft-kafka").toString
    val ckpt = Files.createTempDirectory("graft-kafka-ck").toString
    val simpleSpec = IngestSpec(
      schema = schema,
      defaults = Map("v" -> 0.0),
      rollup = Some(RollupSpec(Seq("dim"), Seq("v" -> Sum, "ev_id" -> Max), "ev_id")))
    // exactly the stream shape Streams.kafka emits before its projection:
    // binary key/value plus topic/partition/offset metadata, the value
    // bytes holding the json payload (Kafka08Fetcher's wire format)
    val mem = MemoryStream[(Array[Byte], Array[Byte], String, Int, Long)]
    val wire = mem.toDF().toDF("key", "value", "topic", "partition", "offset")
    val q = Realtime.start(
      graft.sources.Streams.kafkaValueToJson(wire), "json", simpleSpec, dir, ckpt)
    def rec(off: Long, s: String) =
      (Array.empty[Byte], s.getBytes("UTF-8"), "events", 0, off)
    mem.addData(
      rec(0, """{"ev_id":1,"dim":"a","tag":"t","v":2.0,"n":0}"""),
      rec(1, """{"ev_id":2,"dim":"b","tag":"t","v":1.5,"n":0}"""))
    q.processAllAvailable()
    mem.addData(rec(2, """{"ev_id":3,"dim":"a","tag":"t","v":3.0,"n":0}"""))
    q.processAllAvailable(); q.stop()
    // compaction merges the per-batch rollups across micro-batches
    val r = simpleSpec.rollup.get
    val gen = Realtime.compact(spark, dir, r, indexedCols = Seq("dim"))
    val merged = spark.read.parquet(gen).collect()
      .map(row => row.getAs[String]("dim") -> row).toMap
    assert(merged("a").getAs[java.math.BigDecimal]("v").doubleValue == 5.0) // 2+3
    assert(merged("a").getAs[Long]("ev_id") == 3L)
    assert(merged("b").getAs[java.math.BigDecimal]("v").doubleValue == 1.5)
    // hybrid read: the compacted generation ∪ parts that arrived after it
    val rtNew = Files.createTempDirectory("graft-kafka-rt").toString
    Seq(("c", new java.math.BigDecimal("9.000000"), 7L)).toDF("dim", "v", "ev_id")
      .write.mode("overwrite").parquet(s"$rtNew/batch=0")
    val all = Realtime.hybrid(spark, gen, rtNew)
    assert(all.count() == 3)
    assert(all.select("dim").collect().map(_.getString(0)).toSet == Set("a", "b", "c"))
  }

  test("kafka connector registration (auto-activates when the jar is present)") {
    // the decode→rollup→compact→hybrid chain is proven above on
    // kafka-wire-shaped records; this checks the `format("kafka")` source
    // registration itself, which needs the spark-sql-kafka connector jar —
    // absent in this environment, so the test self-skips until it appears
    val available =
      try {
        org.apache.spark.sql.execution.datasources.DataSource
          .lookupDataSource("kafka", spark.sessionState.conf)
        true
      } catch { case _: Throwable => false }
    assume(available, "spark-sql-kafka connector jar not on the classpath")
    val df = spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", "localhost:9092")
      .option("subscribe", "events").load()
    // the wire schema Streams.kafkaValueToJson consumes
    assert(Seq("key", "value", "topic", "partition", "offset")
      .forall(df.schema.fieldNames.contains))
  }

  test("rt2his reorganizes realtime parts into a date-partitioned historical table") {
    import spark.implicits._
    val rt = Files.createTempDirectory("graft-rt3").toString
    val hist = Files.createTempDirectory("graft-hist").toString + "/t"
    Seq(("2024-01-01 10:00:00", "a", 1.0), ("2024-01-02 11:00:00", "b", 2.0))
      .toDF("ts", "dim", "v").write.parquet(s"$rt/batch=0")
    Seq(("2024-01-02 12:00:00", "c", 3.0))
      .toDF("ts", "dim", "v").write.parquet(s"$rt/batch=1")
    Realtime.rt2His(spark, rt, hist, to_date(col("ts")))
    val out = spark.read.parquet(hist)
    assert(out.count() == 3)
    assert(out.select("p_date").distinct().count() == 2) // two partitions
    val dirs = new java.io.File(hist).listFiles().map(_.getName).filter(_.startsWith("p_date="))
    assert(dirs.length == 2, s"expected partition dirs, got ${dirs.toSeq}")
    // date predicates prune at the PARTITION level (directory skip, the
    // coarsest index a date-organized 100 TB table has)
    val filtered = out.filter(col("p_date") === "2024-01-02")
    val e = filtered.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(e.contains("PartitionFilters: [isnotnull(p_date"),
      s"date filter must become a partition filter:\n$e")
    assert(filtered.count() == 2)
  }

  test("funnel and retention over the hybrid view equal the all-batch answer") {
    import spark.implicits._
    import graft.operators.Events
    val base = Files.createTempDirectory("graft-fr-base").toString
    val rt = Files.createTempDirectory("graft-fr-rt").toString
    val day = 86400L * 1000000000L
    val rows = Seq(
      (1L, 0L, "view"), (1L, day + 5L, "click"), (1L, 2 * day, "purchase"),
      (2L, day, "view"), (2L, 2 * day, "click"),
      (3L, 2 * day + 9L, "view"))
      .toDF("user_id", "ts", "event_type")
    // history holds the early events, a realtime part holds the rest —
    // the split lands mid-funnel for user 1
    rows.filter($"ts" < day + 6L).write.mode("overwrite").parquet(base)
    rows.filter($"ts" >= day + 6L).write.mode("overwrite").parquet(s"$rt/batch=0")
    val hybrid = Realtime.hybrid(spark, base, rt)
    val steps = Seq("view", "click", "purchase")
    def key(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq
    assert(key(Events.funnel(hybrid, "user_id", "ts", "event_type", steps).orderBy("user_id"))
      == key(Events.funnel(rows, "user_id", "ts", "event_type", steps).orderBy("user_id")))
    assert(key(Events.retention(hybrid, "user_id", "ts").orderBy("cohort_day", "day_offset"))
      == key(Events.retention(rows, "user_id", "ts").orderBy("cohort_day", "day_offset")))
  }

  test("realtime vector ingestion: streamed embeddings PQ-encode per batch, " +
      "searchable hybrid equals all-batch encoding") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val dir = Files.createTempDirectory("graft-vec").toString
    val ckpt = Files.createTempDirectory("graft-vec-ckpt").toString
    val rnd = new scala.util.Random(47)
    val all = Seq.tabulate(40)(i => (i.toLong, Array.fill(16)(rnd.nextFloat() - 0.5f)))
    // fit once on the historical half (fit-sample/apply-all, as at scale)
    val hist = all.take(20).toDF("vec_id", "embedding")
    val cb = graft.operators.Similarity.pqFit(hist, "vec_id", "embedding",
      m = 4, ksub = 4, iters = 2)
    graft.operators.Similarity.pqEncode(hist, "vec_id", "embedding", cb)
      .write.parquet(s"$dir/base")
    // stream the live half: encode is MAP-ONLY per micro-batch (empty
    // batches fine — dims come from the codebook, no input probe)
    val mem = MemoryStream[(Long, Array[Float])]
    val q = mem.toDF().toDF("vec_id", "embedding").writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        graft.operators.Similarity.pqEncode(batch, "vec_id", "embedding", cb)
          .write.mode("overwrite").parquet(s"$dir/rt/batch=$batchId")
        ()
      }.start()
    mem.addData(all.slice(20, 30): _*)
    q.processAllAvailable()
    mem.addData(all.slice(30, 40): _*)
    q.processAllAvailable()
    q.stop()
    // hybrid = historical codes ∪ streamed codes; ADC search over it must
    // equal searching an all-batch encoding of the full corpus
    val hybrid = spark.read.parquet(s"$dir/base")
      .unionByName(spark.read.parquet(s"$dir/rt").drop("batch"))
    val queries = all.take(3).toDF("vec_id", "embedding")
      .select($"vec_id".as("qid"), $"embedding".as("qv"))
    def top(codes: org.apache.spark.sql.DataFrame) =
      graft.operators.Similarity.pqTopK(
        codes.withColumnRenamed("vec_id", "nid"), "nid",
        queries, "qid", "qv", cb, k = 5,
        pairFilter = col("nid") =!= col("qid"))
        .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("nid"),
          r.getAs[Int]("rank"))).toSet
    val allCodes = graft.operators.Similarity.pqEncode(
      all.toDF("vec_id", "embedding"), "vec_id", "embedding", cb)
    assert(hybrid.count() == 40)
    assert(top(hybrid) == top(allCodes),
      "streamed-in vectors must be indistinguishable from batch-encoded ones")
  }

  test("hybrid view unions historical base with fresh realtime parts") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-base").toString
    val rt = Files.createTempDirectory("graft-rt2").toString
    Seq(("x", 1.0)).toDF("dim", "v").write.mode("overwrite").parquet(base)
    Seq(("y", 2.0)).toDF("dim", "v").write.mode("overwrite").parquet(s"$rt/batch=0")
    val all = Realtime.hybrid(spark, base, rt)
    assert(all.count() == 2)
    assert(all.select("dim").collect().map(_.getString(0)).toSet == Set("x", "y"))
  }
}
