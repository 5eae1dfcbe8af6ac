package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.model._
import graft.storage.Segments

class ModelStorageSpec extends AnyFunSuite {
  import TestSpark._

  private val specJson =
    """{"name":"t1","columns":[
      |{"name":"id","dataType":"bigint"},
      |{"name":"name","dataType":"varchar","index":true,"default":"none"},
      |{"name":"score","dataType":"double","default":"1.5"},
      |{"name":"d","dataType":"date"},
      |{"name":"t","dataType":"time"},
      |{"name":"ts","dataType":"datetime"}],
      |"sort.columns":["id"],"grouping":true,"dims":["id"],
      |"metrics":[{"name":"score","agg":"sum"}]}""".stripMargin

  test("table spec JSON round-trip, types and TIME convention") {
    val spec = TableSpec.fromJson(specJson)
    assert(spec.structType.fields.map(_.dataType).toSeq == Seq(
      LongType, StringType, DoubleType, DateType, IntegerType, TimestampType))
    assert(spec.sortColumns == Seq("id") && spec.grouping && spec.dims == Seq("id"))
    assert(spec.metrics == Seq("score" -> "sum"))
    val again = TableSpec.fromJson(spec.toJson)
    assert(again == spec)
    assert(TimeCodec.parse("13:45:30") == 49530)
    assert(TimeCodec.format(49530) == "13:45:30")
  }

  test("catalog table_specs/*.json parse and match the parquet schemas") {
    val specDir = new java.io.File("table_specs")
    val files = specDir.listFiles().filter(_.getName.endsWith(".json"))
    assert(files.length == 10)
    files.foreach { f =>
      val spec = TableSpec.fromJson(Files.readString(f.toPath))
      val actual = Tables.df(spark, sf, spec.name).schema
      assert(spec.structType.fieldNames.toSeq == actual.fieldNames.toSeq,
        s"${spec.name}: column names")
      spec.structType.fields.zip(actual.fields).foreach { case (want, got) =>
        // events.ts: TIMESTAMP(NANOS) parquet is read as epoch-nano long
        // (nanosAsLong session setting) though the spec declares datetime
        val ok = want.dataType == got.dataType ||
          // datetime: parquet without isAdjustedToUTC reads as NTZ in Spark 4
          (want.dataType == TimestampType && got.dataType == TimestampNTZType) ||
          (spec.name == "events" && want.name == "ts" && got.dataType == LongType)
        assert(ok, s"${spec.name}.${want.name}: ${want.dataType} vs ${got.dataType}")
      }
    }
  }

  test("applyDefaults fills nulls with typed defaults (no-null parity)") {
    import spark.implicits._
    val spec = TableSpec.fromJson(specJson)
    val df = Seq((1L, null.asInstanceOf[String], null.asInstanceOf[java.lang.Double]))
      .toDF("id", "name", "score")
    val out = spec.applyDefaults(df).collect().head
    assert(out.getAs[String]("name") == "none")
    assert(out.getAs[Double]("score") == 1.5)
  }

  test("schema update: add / alter / delete column rewrite") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-schema").toString + "/t"
    Seq((1L, "a"), (2L, "b")).toDF("id", "name").write.parquet(dir)
    SchemaUpdate.addColumn(spark, dir, ColumnSpec("flag", "int", default = Some("7")))
    assert(spark.read.parquet(dir).select("flag").collect().map(_.getInt(0)).toSeq == Seq(7, 7))
    SchemaUpdate.alterColumn(spark, dir, ColumnSpec("flag", "bigint"))
    assert(spark.read.parquet(dir).schema("flag").dataType == LongType)
    SchemaUpdate.deleteColumn(spark, dir, "flag")
    assert(!spark.read.parquet(dir).columns.contains("flag"))
    assert(spark.read.parquet(dir).count() == 2)
  }

  test("ManifestFileIndex prunes segment files inside the Catalyst scan") {
    val dir = Files.createTempDirectory("graft-mfi").toString + "/li"
    val li = Tables.lineitem(spark, sf)
    Segments.write(li, dir, sortCols = Seq("l_orderkey"),
      indexedCols = Seq("l_orderkey"), numSegments = 8)

    val df = spark.read.format("graft").load(dir)
    // correctness: same rows as a plain read
    val (rows, keptFiltered) = keptFiles(df.filter(col("l_orderkey") <= 50L))
    assert(rows.length == spark.read.parquet(dir).filter(col("l_orderkey") <= 50L).count())
    // pruning happened inside the real scan (resolved data filters reach
    // listFiles during execution)
    assert(keptFiltered >= 1 && keptFiltered < 8,
      s"index kept $keptFiltered of 8 files for the range predicate")
    // an unfiltered scan keeps everything
    val (all, keptAll) = keptFiles(df)
    assert(all.length == li.count())
    assert(keptAll == 8)
  }

  test("format(\"graft\") resolves by name to the manifest-pruned relation") {
    val dir = Files.createTempDirectory("graft-fmt").toString + "/li"
    val li = Tables.lineitem(spark, sf)
    Segments.write(li, dir, sortCols = Seq("l_orderkey"),
      indexedCols = Seq("l_orderkey"), numSegments = 8)
    // ServiceLoader resolves the short name — the reference's
    // format("indexr") registration shape (SURVEY.md §3.2)
    val df = spark.read.format("graft").load(dir)
    assert(df.count() == li.count())
    assert(df.filter(col("l_orderkey") <= 50L).count() ==
      spark.read.parquet(dir).filter(col("l_orderkey") <= 50L).count())
    // the relation really is manifest-backed (prunable), not a plain scan
    val idx = df.queryExecution.optimizedPlan.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location
        }
    }
    assert(idx.exists(_.isInstanceOf[graft.plans.ManifestFileIndex]))
  }

  test("SQL DDL: CREATE TABLE ... USING graft serves the manifest-pruned relation") {
    // the reference's SQL-first table surface: a pure-SQL session defines
    // the table by format name + location and never touches the Scala API
    val dir = Files.createTempDirectory("graft-ddl").toString + "/li"
    val li = Tables.lineitem(spark, sf)
    Segments.write(li, dir, sortCols = Seq("l_orderkey"),
      indexedCols = Seq("l_orderkey"), numSegments = 8)
    spark.sql("DROP TABLE IF EXISTS li_ddl")
    spark.sql(s"CREATE TABLE li_ddl USING graft OPTIONS (path '$dir')")
    try {
      val n = spark.sql("SELECT count(*) AS n FROM li_ddl").head().getLong(0)
      assert(n == li.count())
      assert(spark.sql("SELECT count(*) FROM li_ddl WHERE l_orderkey <= 50")
        .head().getLong(0) ==
        spark.read.parquet(dir).filter(col("l_orderkey") <= 50L).count())
      // still the manifest-backed relation, not a plain parquet scan
      val idx = spark.table("li_ddl").queryExecution.optimizedPlan.collect {
        case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          lr.relation match {
            case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              fs.location
          }
      }
      assert(idx.exists(_.isInstanceOf[graft.plans.ManifestFileIndex]))
    } finally spark.sql("DROP TABLE IF EXISTS li_ddl")
  }

  test("ManifestAggregates answers count/min/max from metadata, no scan") {
    val dir = Files.createTempDirectory("graft-magg").toString + "/li"
    val li = Tables.lineitem(spark, sf)
    Segments.write(li, dir, sortCols = Seq("l_orderkey"),
      indexedCols = Seq("l_orderkey", "l_shipdate", "l_quantity"), numSegments = 8)
    // ManifestAggregates is installed by Graft.session
    val df = spark.read.format("graft").load(dir)
    val out = df.agg(
      count(lit(1)).as("n"),
      min(col("l_orderkey")).as("min_ok"), max(col("l_orderkey")).as("max_ok"),
      min(col("l_shipdate")).as("min_sd"), max(col("l_quantity")).as("max_q"))
    // the whole aggregate collapses to metadata: no scan in the plan
    val plan = out.queryExecution.optimizedPlan.toString()
    assert(plan.contains("LocalRelation"), s"expected metadata answer:\n$plan")
    assert(!plan.contains("Relation") || !plan.contains("parquet"),
      s"scan survived the rewrite:\n$plan")
    // and the metadata answer equals the scan answer exactly
    val expect = spark.read.parquet(dir).agg(
      count(lit(1)), min(col("l_orderkey")), max(col("l_orderkey")),
      min(col("l_shipdate")), max(col("l_quantity"))).collect().head
    assert(out.collect().head == expect)
    // shapes metadata can't answer are left alone: filters, count(col),
    // unindexed columns, and TZ-aware timestamps (manifest strings were
    // rendered under the build session's timezone — a session with a
    // different spark.sql.session.timeZone would get shifted bounds, so
    // they must take the always-correct scan path)
    val filtered = df.filter(col("l_orderkey") > 10L).agg(min(col("l_orderkey")))
    assert(!filtered.queryExecution.optimizedPlan.toString().contains("LocalRelation"))
    val countCol = df.agg(count(col("l_returnflag")))
    assert(!countCol.queryExecution.optimizedPlan.toString().contains("LocalRelation"))
    val unindexed = df.agg(min(col("l_extendedprice")))
    assert(!unindexed.queryExecution.optimizedPlan.toString().contains("LocalRelation"))
    // (l_shipdate above is TimestampNTZ in this parquet — TZ-independent
    // strings, legitimately collapsible; a TZ-AWARE timestamp must not be)
    val tsDir = Files.createTempDirectory("graft-magg-ts").toString + "/ts"
    val tsDf = spark.range(100).select(col("id"),
      timestamp_seconds(col("id") * 3600).as("ts"))
    Segments.write(tsDf, tsDir, sortCols = Seq("id"),
      indexedCols = Seq("id", "ts"), numSegments = 2)
    val tdf = spark.read.format("graft").load(tsDir)
    assert(tdf.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
    val tzTimestamp = tdf.agg(min(col("ts")))
    assert(!tzTimestamp.queryExecution.optimizedPlan.toString().contains("LocalRelation"),
      "TZ-aware timestamp bounds depend on the build session timezone and " +
        "must take the scan path")
    // the fallback still computes the right value through the scan
    assert(tzTimestamp.collect().head ==
      spark.read.parquet(tsDir).agg(min(col("ts"))).collect().head)
    // while the TZ-independent columns of the same table still collapse
    assert(tdf.agg(min(col("id"))).queryExecution.optimizedPlan.toString()
      .contains("LocalRelation"))
  }

  test("ManifestFileIndex prunes on LIKE-prefix predicates (CMap parity)") {
    val dir = Files.createTempDirectory("graft-mfi2").toString + "/part"
    Segments.write(Tables.part(spark, sf), dir, sortCols = Seq("p_name"),
      indexedCols = Seq("p_name"), numSegments = 6)
    val df = spark.read.format("graft").load(dir)
    val (rows, kept) = keptFiles(df.filter(col("p_name").like("s%")))
    val n = rows.length
    assert(n == Tables.part(spark, sf).filter(col("p_name").like("s%")).count())
    assert(n > 0, "fixture assumption: some part names start with 's'")
    assert(kept >= 1 && kept < 6, s"LIKE-prefix kept $kept of 6 files")
    // a prefix past every name prunes all files
    val (none, keptNone) = keptFiles(df.filter(col("p_name").like("zzz%")))
    assert(none.isEmpty && keptNone == 0)
  }

  test("bloom manifest prunes string-equality probes min/max cannot") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-bloom").toString + "/t"
    // high-cardinality string key scattered across id-sorted files: every
    // file's (min,max) spans nearly the whole hex space, so range pruning is
    // useless for point lookups — exactly the case the bloom exists for
    val df = spark.range(1000)
      .select($"id", md5(concat(lit("k"), $"id")).as("key"))
    Segments.write(df.toDF(), dir, sortCols = Seq("id"),
      indexedCols = Seq("id", "key"), numSegments = 8, bloomCols = Seq("key"))
    val m = Segments.readManifest(dir)
    assert(m.forall(_.blooms.contains("key")), "every file carries a key bloom")

    // present value: its own file is kept (no false negatives — checked for
    // every 50th key) and pruning beats the min/max-only answer (8 files)
    val keys = df.filter($"id" % 50 === 0).select($"key").as[String].collect()
    val fullRead = spark.read.format("graft").load(dir)
    keys.foreach { k =>
      val (rows, kept) = keptFiles(fullRead.filter($"key" === k))
      assert(rows.length == 1, s"lost the row for $k")
      assert(kept < 8, s"bloom failed to prune any file for $k")
    }
    // absent values: expected-case prune to ~0 files (bloom false-positive
    // rate leaves a small tail), and never a phantom row
    val probes = (0 until 20).map(i => s"absent-$i")
    val keptCounts = probes.map { p =>
      val (rows, kept) = keptFiles(fullRead.filter($"key" === p))
      assert(rows.isEmpty)
      kept
    }
    assert(keptCounts.sum < 8, s"absent probes kept ${keptCounts.sum} files total")

    // IN-list pruning is per-value (disjunction of blooms), not min..max span
    val (in, keptIn) = keptFiles(fullRead.filter($"key".isin(keys(0), "absent-x")))
    assert(in.length == 1 && keptIn < 8)

    // pack level: the parquet footer carries a native bloom filter for the
    // column (row-group skipping inside kept files — ExtIndex_Str_Hash
    // parity at pack scope; the reader consults it on pushed-down probes)
    import scala.jdk.CollectionConverters._
    val pf = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(pf.getPath),
        spark.sparkContext.hadoopConfiguration))
    try {
      val cols = reader.getFooter.getBlocks.get(0).getColumns.asScala
      val keyCol = cols.find(_.getPath.toDotString == "key").get
      assert(keyCol.getBloomFilterOffset >= 0, "key column must carry a bloom filter")
      val idCol = cols.find(_.getPath.toDotString == "id").get
      assert(idCol.getBloomFilterOffset < 0, "non-bloom column stays bloom-free")
    } finally reader.close()
  }

  test("trigram manifest prunes substring-LIKE probes (CMap parity)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-ngram").toString + "/t"
    // 1000 id-sorted rows in 8 files; only ids < 100 (one range file)
    // contain the marker substring — min/max on txt can't express that
    val df = spark.range(1000).select($"id",
      concat(lit("plain text body "),
        when($"id" < 100, lit("xylophone ")).otherwise(lit("")),
        lit("tail"), $"id").as("txt"))
    Segments.write(df.toDF(), dir, sortCols = Seq("id"),
      indexedCols = Seq("id"), numSegments = 8, ngramCols = Seq("txt"))
    val m = Segments.readManifest(dir)
    assert(m.forall(_.ngrams.contains("txt")), "every file carries a txt trigram bloom")

    val fullRead = spark.read.format("graft").load(dir)
    // present substring: all matching rows survive, non-matching files skip
    val (present, keptPresent) = keptFiles(fullRead.filter($"txt".like("%xylophone%")))
    assert(present.length == 100)
    assert(keptPresent <= 2, s"substring-LIKE kept $keptPresent of 8 files")
    // absent substring: no rows, (near-)total prune — bloom FP tail allowed
    val (absent, keptAbsent) = keptFiles(fullRead.filter($"txt".like("%qqqzzz%")))
    assert(absent.isEmpty)
    assert(keptAbsent <= 2, s"absent needle kept $keptAbsent of 8 files")
    // general multi-wildcard LIKE: each literal chunk prunes independently
    val (chunked, keptChunked) = keptFiles(fullRead.filter($"txt".like("%xylo%hone%")))
    assert(chunked.length == 100)
    assert(keptChunked <= 2, s"chunked LIKE kept $keptChunked of 8 files")
    // sub-trigram needle can't prune but must stay correct
    assert(fullRead.filter($"txt".like("%xy%")).count() == 100)
  }

  test("csv bulk load applies spec types/defaults and round-trips via export") {
    import graft.sources.Csv
    val dir = Files.createTempDirectory("graft-csv").toString
    Files.writeString(java.nio.file.Paths.get(s"$dir/in.csv"),
      "id,label,score\n1,a,2.5\n2,b,\n3,,9.0\n")
    val spec = TableSpec("csvt", Seq(
      ColumnSpec("id", "bigint", index = true),
      ColumnSpec("label", "varchar", default = Some("none")),
      ColumnSpec("score", "double", default = Some("-1")),
      ColumnSpec("extra", "int", default = Some("42"))),
      sortColumns = Seq("id"))
    Csv.load(spark, s"$dir/in.csv", spec, s"$dir/table", numSegments = 2)
    val t = spark.read.parquet(s"$dir/table").orderBy("id").collect()
    assert(t.length == 3)
    assert(t(1).getAs[Double]("score") == -1.0) // empty → default
    assert(t(2).getAs[String]("label") == "none")
    assert(t.forall(_.getAs[Int]("extra") == 42)) // missing col → default
    assert(Segments.readManifest(s"$dir/table").nonEmpty)
    Csv.exportCsv(spark, s"$dir/table", s"$dir/out")
    val back = spark.read.option("header", "true").csv(s"$dir/out")
    assert(back.count() == 3 && back.columns.toSeq ==
      Seq("id", "label", "score", "extra"))
  }

  test("ORC segments: write, manifest, pruned read (Parquet/ORC parity)") {
    val dir = Files.createTempDirectory("graft-orc").toString + "/li"
    val li = Tables.lineitem(spark, sf)
    Segments.write(li, dir, sortCols = Seq("l_orderkey"),
      indexedCols = Seq("l_orderkey"), numSegments = 4, format = "orc")
    assert(Segments.manifestFormat(dir) == "orc")
    assert(spark.read.orc(dir).count() == li.count())
    // the Catalyst FileIndex path also honors the ORC format
    val (rows, kept) = keptFiles(
      spark.read.format("graft").load(dir).filter(col("l_orderkey") <= 100L))
    assert(rows.length == li.filter(col("l_orderkey") <= 100L).count())
    assert(kept >= 1 && kept < 4, s"expected ORC pruning, kept $kept of 4")
  }

  /** The data files of a segment dir and the writer's leftover sidecars. */
  private def listing(dir: String): (Seq[String], Seq[String]) = {
    val names = new java.io.File(dir).list().toSeq
    (names.filterNot(n => n.startsWith("_") || n.startsWith(".")),
      names.filter(_.startsWith("_graft_entry.")))
  }

  test("segment writer folds the manifest aggregates compute (parquet + orc)") {
    import spark.implicits._
    // strings that order differently as UTF-8 bytes and as UTF-16 units
    // (U+E000–U+FFFF against supplementary-plane), a double, a timestamp
    // stringified under a non-UTC zone, nulls, and an indexed column that
    // is all null in the first file (ids < 200 cover its range partition)
    val words = Seq("a\uE000b", "a\uD83D\uDE00b", "\uFFFFzz", "x\uD800\uDC00yy",
      "plain", "ab", "null")
    val df = (0 until 400).map { i =>
      (i.toLong,
        if (i % 9 == 0) null else words(i % words.size) + (i % 5),
        if (i < 200) None else Some(i * 0.25 - 70.5),
        new java.sql.Timestamp(1700000000000L + i * 3600000L))
    }.toDF("id", "s", "d", "ts")
    val cols = Seq("id", "s", "d", "ts")
    val prevTz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try Seq("parquet", "orc").foreach { format =>
      val dir = Files.createTempDirectory(s"graft-fold-$format").toString + "/t"
      Segments.write(df, dir, sortCols = Seq("id"), indexedCols = cols,
        numSegments = 4, format = format, bloomCols = Seq("s", "d"), ngramCols = Seq("s"))
      val (data, sidecars) = listing(dir)
      assert(sidecars.isEmpty, s"$format: sidecars left behind: $sidecars")

      val back = spark.read.format(format).load(dir).withColumn("f", input_file_name())
      val aggs = count(lit(1)).as("rows") +: cols.flatMap(c =>
        Seq(min(col(c)).cast("string").as(s"min_$c"), max(col(c)).cast("string").as(s"max_$c")))
      val want = back.groupBy($"f").agg(aggs.head, aggs.tail: _*).collect()
        .map(r => r.getAs[String]("f") -> r).toMap
      def bits(n: Int, ps: Iterable[Int]): String = {
        val b = new Array[Byte](n / 8)
        ps.foreach(p => b(p / 8) = (b(p / 8) | (1 << (p % 8))).toByte)
        b.map(x => f"$x%02x").mkString
      }
      def distinctStr(c: String): Map[String, Seq[String]] =
        back.select($"f", col(c).cast("string")).where(col(c).isNotNull).distinct()
          .collect().toSeq.groupBy(_.getString(0)).map { case (f, rs) => f -> rs.map(_.getString(1)) }
      val sVals = distinctStr("s")
      val dVals = distinctStr("d")

      val m = Segments.readManifest(dir)
      assert(m.map(_.file).sorted == want.keys.toSeq.sorted, s"$format: file spelling")
      assert(m.size == data.size && m.size >= 3)
      assert(m.exists(_.stats("d") == (None, None)), s"$format: an all-null file")
      m.foreach { fs =>
        val r = want(fs.file)
        assert(fs.rows == r.getAs[Long]("rows"))
        cols.foreach(c => assert(fs.stats(c) ==
          (Option(r.getAs[String](s"min_$c")), Option(r.getAs[String](s"max_$c"))),
          s"$format ${fs.file} $c"))
        assert(fs.blooms.get("s") == sVals.get(fs.file).map(vs =>
          bits(Segments.BloomBits, vs.flatMap(Segments.bloomPositions))))
        assert(fs.blooms.get("d") == dVals.get(fs.file).map(vs =>
          bits(Segments.BloomBits, vs.flatMap(Segments.bloomPositions))))
        assert(fs.ngrams("s") == bits(Segments.NgramBits, sVals.getOrElse(fs.file, Nil)
          .flatMap(Segments.cpTrigrams).flatMap(Segments.ngramPositions)))
      }
      // the fold over the written files gives the same manifest, byte for byte
      val written = Segments.readTextFile(s"$dir/${Segments.ManifestFile}")
      Segments.buildManifest(spark, dir, cols, format, Seq("s", "d"), Seq("s"))
      assert(Segments.readTextFile(s"$dir/${Segments.ManifestFile}") == written)
    } finally spark.conf.set("spark.sql.session.timeZone", prevTz)
  }

  test("Segments.write spells timestamp stats in its DataFrame's session time zone") {
    // a session that is not the active one, with its own zone
    val other = spark.newSession()
    other.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
    val df = other.range(3).select(timestamp_seconds(col("id") + 1700000000L).as("ts"))
    val dir = Files.createTempDirectory("graft-tz").toString + "/t"
    Segments.write(df, dir, sortCols = Seq("ts"), indexedCols = Seq("ts"), numSegments = 1)
    assert(Segments.readManifest(dir).map(_.stats("ts")) ==
      Seq((Some("2023-11-15 07:13:20"), Some("2023-11-15 07:13:22"))))
  }

  test("Segments.write with blooms and trigrams runs no job after its write") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-jobs").toString + "/t"
    val df = spark.range(2000).select($"id", concat(lit("user-"), ($"id" % 97).cast("string")).as("u"))
    val execs = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        execs.add(String.valueOf(js.properties.getProperty("spark.sql.execution.id")))
    }
    org.apache.spark.graft.ListenerBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      Segments.write(df, dir, sortCols = Seq("id"), indexedCols = Seq("id", "u"),
        numSegments = 4, bloomCols = Seq("u"), ngramCols = Seq("u"))
      org.apache.spark.graft.ListenerBus.drain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    val ids = execs.asScala.toSeq
    // every job belongs to the write's one SQL execution: the manifest is
    // folded by the writer, never re-read
    assert(ids.nonEmpty && ids.distinct.size == 1, s"job execution ids: $ids")
    assert(Segments.readManifest(dir).map(_.rows).sum == 2000)
  }

  test("segment write sorts by dims and manifest prunes file scans") {
    val dir = Files.createTempDirectory("graft-seg").toString + "/lineitem"
    val li = Tables.lineitem(spark, sf)
    Segments.write(li, dir, sortCols = Seq("l_shipdate"),
      indexedCols = Seq("l_shipdate", "l_orderkey"), numSegments = 8)

    // manifest exists with 8 entries and full row coverage
    val m = Segments.readManifest(dir)
    assert(m.size == 8)
    assert(m.map(_.rows).sum == li.count())

    // a narrow date range must prune most files… l_shipdate is a TIMESTAMP
    // column, and the scan's filter translation does not turn timestamp
    // literals into manifest checks yet, so this count is taken on the
    // manifest predicate itself. ROADMAP item 4 (typed stats) moves it
    // onto the DataFrame path.
    val r = Segments.Range("l_shipdate",
      lo = Some("1996-01-01 00:00:00"), hi = Some("1996-03-01 00:00:00"), numeric = false)
    val kept = m.count(r.mayMatch)
    assert(kept < m.size, s"expected pruning, kept $kept of ${m.size}")

    // …and the read through format("graft") returns exactly the right rows
    val seg = spark.read.format("graft").load(dir)
    val expected = li.filter(col("l_shipdate").between("1996-01-01", "1996-03-01")).count()
    assert(seg.filter(col("l_shipdate").between("1996-01-01", "1996-03-01")).count() == expected)

    // pruning must never lose rows outside the predicate either (tri-state
    // rough check is conservative): empty range keeps nothing
    val (none, keptNone) = keptFiles(seg.filter(col("l_orderkey") >= 99999999L))
    assert(none.isEmpty && keptNone == 0)
  }

  test("manifestBounds answers from metadata alone (zero data files opened)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-bounds").toString + "/t"
    val df = spark.range(1, 1001).select($"id".as("k"), ($"id" * 2.5).as("v"))
    Segments.write(df, dir, sortCols = Seq("k"), indexedCols = Seq("k", "v"),
      numSegments = 4)
    // histQuantilesAuto fed by the manifest equals the data-derived binning
    val fromData = graft.operators.Extended.histQuantilesAuto(
      spark.read.parquet(dir), "v", Seq(50, 95), bins = 128).collect().toSet
    // DELETE every data file: only the manifest remains — the bounds (and
    // thus the sketch's bin layout) must still derive, proving no data read
    val d = new java.io.File(dir)
    d.listFiles().filter(_.getName.endsWith(".parquet")).foreach(f =>
      assert(f.delete(), s"couldn't delete ${f.getName}"))
    val b = Segments.manifestBounds(dir, "v")
    assert(b.contains((2.5, 2500.0)), s"bounds from metadata: $b")
    assert(Segments.manifestBounds(dir, "nope").isEmpty)
    // the bounds seed the SAME bin layout the data-derived path used
    val fromMeta = graft.operators.Extended.histQuantilesAuto(
      df, "v", Seq(50, 95), bins = 128, bounds = b).collect().toSet
    assert(fromMeta == fromData)
  }

  test("manifestCountDrift reads ONLY the manifests (files deleted)") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-segdrift").toString
    val docs = spark.range(0, 400).select($"id", ($"id" % 4).as("seg"))
    val o = s"$root/old"
    val n = s"$root/new"
    docs.write.partitionBy("seg").parquet(o)
    // new snapshot: drop every doc in seg 3, halve seg 0
    docs.filter($"seg" =!= 3 && !($"seg" === 0 && $"id" >= 200))
      .write.partitionBy("seg").parquet(n)
    Segments.buildManifest(spark, o, Nil)
    Segments.buildManifest(spark, n, Nil)
    // DELETE every data file on both sides: only the manifests remain —
    // the drift table must still derive, proving no data file is opened
    for (d <- Seq(o, n); p <- new java.io.File(d).listFiles();
         f <- Option(p.listFiles()).getOrElse(Array.empty[java.io.File])
         if f.getName.endsWith(".parquet"))
      assert(f.delete(), s"couldn't delete ${f.getName}")
    val drift = graft.operators.Curation.manifestCountDrift(spark, o, n)
    // and it is a LocalRelation: #segments rows the planner already held
    assert(drift.queryExecution.optimizedPlan.toString.contains("LocalRelation"))
    val rows = drift.collect().map(r => r.getString(0) ->
      ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(rows == Map(
      "seg=0" -> ((100L, 50L, -50L)), "seg=1" -> ((100L, 100L, 0L)),
      "seg=2" -> ((100L, 100L, 0L)), "seg=3" -> ((100L, 0L, -100L))))
  }

  test("And/Or/Not rough-check algebra prunes conservatively") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-bool").toString + "/t"
    // sorted by k so files hold disjoint k ranges; c is constant per file half
    val df = spark.range(800).select($"id".as("k"),
      when($"id" < 400, "lo").otherwise("hi").as("c"))
    Segments.write(df.toDF(), dir, sortCols = Seq("k"),
      indexedCols = Seq("k", "c"), numSegments = 8)
    val read = spark.read.format("graft").load(dir)
    // OR of two disjoint ranges keeps both ends, prunes the middle
    val (ends, keptOr) = keptFiles(read.filter($"k" < 50L || $"k" >= 750L))
    assert(ends.length == 100 && keptOr >= 2 && keptOr < 8, s"OR kept $keptOr of 8")
    // NOT(=) prunes files whose column is constant at the value
    val (his, keptNot) = keptFiles(read.filter($"c" =!= "lo"))
    assert(his.length == 400 && keptNot < 8, s"NOT kept $keptNot of 8")
    // AND with one untranslatable side still prunes via the other
    val (low, keptAnd) = keptFiles(read.filter($"k" < 50L && length($"c") >= 0))
    assert(low.length == 50 && keptAnd < 8, s"AND kept $keptAnd of 8")
  }

  test("NaN and Infinity manifest bounds keep their files instead of throwing") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-nan").toString + "/t"
    val src = Seq((1L, 1.0), (2L, Double.NaN), (3L, 5.0), (4L, Double.PositiveInfinity))
      .toDF("k", "v")
    Segments.write(src, dir, sortCols = Seq("k"), indexedCols = Seq("v"),
      numSegments = 4)
    val read = spark.read.format("graft").load(dir)
    Seq($"v" > 2.0, $"v" < 2.0, $"v" === 5.0, $"v" =!= 1.0).foreach { p =>
      assert(read.filter(p).count() == src.filter(p).count(), s"filter $p")
    }
  }

  test("manifest string compares use UTF-8 byte order (UTF8String parity)") {
    // U+FFFD (3-byte UTF-8, high UTF-16 code unit) vs U+10400 (4-byte UTF-8,
    // surrogate pair): compareTo says FFFD > 10400, UTF-8 bytes say the
    // opposite — the order Spark's min/max used
    val bmp = "�"
    val supp = new String(Character.toChars(0x10400))
    assert(bmp.compareTo(supp) > 0)           // JVM order (wrong for stats)
    assert(Segments.utf8Cmp(bmp, supp) < 0)   // UTF8String order
    // a file whose min/max straddle the probe in UTF-8 order must be kept
    val fs = Segments.FileStats("f", 1, Map("s" -> (Some(bmp), Some(supp))))
    val probe = Segments.Range("s", lo = Some(supp), hi = Some(supp), numeric = false)
    assert(probe.mayMatch(fs), "UTF-8-order max bound wrongly pruned the file")
  }

  test("v1 manifests: literal \"null\" bounds are treated as absent stats") {
    val dir = Files.createTempDirectory("graft-v1m").toString
    // a version-less (v1) manifest where col s serialized all-null stats as
    // the string "null" — must NOT prune, even for probes far from "null"
    Files.writeString(java.nio.file.Paths.get(dir, Segments.ManifestFile),
      """{"format":"parquet","files":[
        |{"file":"f1","rows":10,"stats":{"s":{"min":"null","max":"null"}}}]}"""
        .stripMargin.replace("\n", ""))
    val m = Segments.readManifest(dir)
    assert(m.head.stats("s") == (None, None))
    val probe = Segments.Range("s", lo = Some("zzz"), hi = None, numeric = false)
    assert(m.count(fs => probe.mayMatch(fs)) == 1, "v1 \"null\" stats caused pruning")
    // v2 manifests keep a real "null" string bound distinguishable
    Files.writeString(java.nio.file.Paths.get(dir, Segments.ManifestFile),
      """{"version":2,"format":"parquet","files":[
        |{"file":"f1","rows":10,"stats":{"s":{"min":"null","max":"null"}}}]}"""
        .stripMargin.replace("\n", ""))
    assert(Segments.readManifest(dir).head.stats("s") == (Some("null"), Some("null")))
  }
}
