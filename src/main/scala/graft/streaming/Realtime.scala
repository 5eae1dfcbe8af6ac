package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/** Realtime ingestion pipeline — the Spark-first re-expression of the
  * reference's rt/ machinery (SURVEY.md §2.C, §3.3):
  *
  *  - JSON event decode with per-column defaults and `number.empty.as.zero`
  *    (UTF8JsonRowCreator.java:14,124) → `from_json` + coalesce;
  *  - tag filter (TagSetting.java:7-15) and column aliasing
  *    (RealtimeSetting.java:14) → `filter` + `withColumnRenamed`;
  *  - ingest-time rollup merging equal-dim rows with {SUM,COUNT,MIN,MAX,
  *    FIRST,LAST} (AggType.java:9-13, RealtimeSegment.java:298) →
  *    `groupBy(dims).agg(...)`, FIRST/LAST made deterministic AND
  *    re-aggregatable by carrying an arrival anchor column;
  *  - commitlog + recovery (RealtimeSegment.java:257-267,390-402) →
  *    Structured Streaming checkpointing + batchId-idempotent sink dirs;
  *  - RTSMerge compaction (RTSMerge.java:30-60) → `compact()`: re-merge all
  *    dumped parts with the merge aggregation and atomically swap;
  *  - hybrid realtime+historical read (HybridTable.java:133-155) →
  *    `hybrid()`: union view over the base and realtime dirs.
  *
  * Scale: each micro-batch rollup is one shuffle on the dims; compaction is
  * the same shuffle over accumulated parts. FIRST/LAST merge correctly
  * across any partitioning because the arrival anchor travels with the value.
  */
object Realtime {

  sealed trait AggType { def name: String }
  case object Sum extends AggType { val name = "sum" }
  case object Cnt extends AggType { val name = "count" }
  case object Min extends AggType { val name = "min" }
  case object Max extends AggType { val name = "max" }
  case object First extends AggType { val name = "first" }
  case object Last extends AggType { val name = "last" }

  /** Rollup (pre-aggregation) schema: AggSchema.java:11-27 parity.
    * `arrival` names a monotone arrival column (event id / kafka offset). */
  case class RollupSpec(dims: Seq[String], metrics: Seq[(String, AggType)], arrival: String)

  /** Parse an agg-type name from a table spec metric (AggSchema JSON). */
  def aggType(name: String): AggType = name.toLowerCase match {
    case "sum" => Sum
    case "count" => Cnt
    case "min" => Min
    case "max" => Max
    case "first" => First
    case "last" => Last
    case t => throw new IllegalArgumentException(s"unknown agg type: $t")
  }

  /** RollupSpec from a table spec's agg schema (dims + metrics). */
  def rollupFromSpec(spec: graft.model.TableSpec, arrival: String): RollupSpec =
    RollupSpec(spec.dims, spec.metrics.map { case (n, a) => (n, aggType(a)) }, arrival)

  /** Parse the reference-shaped realtime config JSON
    * (RealtimeConfig.java:50-78, TagSetting.java:7-15) into an
    * [[IngestSpec]] over a table spec — the config-as-text surface: a
    * table's schema JSON plus this realtime JSON fully describe the
    * pipeline that [[decode]] and [[rollupBatch]] run. Recognized keys:
    * `dims`, `metrics` `[{name, agg}]`, `name.alias` (column → event-field
    * alias; events parse under alias names and rename to column names, the
    * reference's direction), `tag.setting` (`tag.field`, `accept.tags`),
    * `ignoreStrategy` (`IGNORE_EMPTY`). Missing-field defaults come from
    * the table spec's column defaults (reference no-null +
    * number.empty.as.zero semantics), keyed by the parse-time (alias)
    * name since decode fills before renaming. */
  def ingestFromJson(spec: graft.model.TableSpec, json: String,
      arrival: String): IngestSpec = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    implicit val fmt: Formats = DefaultFormats
    val j = JsonMethods.parse(json)
    val name2alias =
      (j \ "name.alias").extractOpt[Map[String, String]].getOrElse(Map.empty)
    val parseSchema = StructType(spec.structType.fields.map(f =>
      f.copy(name = name2alias.getOrElse(f.name, f.name))))
    val aliases = name2alias.map { case (colName, alias) => alias -> colName }
    val tagField = (j \ "tag.setting" \ "tag.field").extractOpt[String]
    val acceptTags = (j \ "tag.setting" \ "accept.tags")
      .extractOpt[Seq[String]].getOrElse(Nil).toSet
    val ignoreEmpty = (j \ "ignoreStrategy").extractOpt[String]
      .exists(_.equalsIgnoreCase("IGNORE_EMPTY"))
    val dims = (j \ "dims").extractOpt[Seq[String]].getOrElse(spec.dims)
    // metrics fall back to the table spec's agg schema when the realtime
    // JSON omits them — symmetric with the dims fallback above, and the
    // reference's direction (it builds AggSchema from the table's own agg
    // schema when the realtime config carries none)
    val metricsJson = (j \ "metrics").children.map(m =>
      ((m \ "name").extract[String], aggType((m \ "agg").extract[String])))
    val metrics =
      if (metricsJson.nonEmpty || (j \ "metrics") != JNothing) metricsJson
      else spec.metrics.map { case (n, a) => (n, aggType(a)) }
    val rollup =
      if (dims.nonEmpty && metrics.nonEmpty) Some(RollupSpec(dims, metrics, arrival))
      else None
    // typed defaults for the numeric/string types (number.empty.as.zero
    // parity); date/time columns keep Spark-native nulls at decode and can
    // be default-filled post-decode via TableSpec.applyDefaults
    val defaults = spec.columns.flatMap { c =>
      val raw = c.default.getOrElse(graft.model.ColumnSpec.zeroOf(c.sqlType))
      val key = name2alias.getOrElse(c.name, c.name)
      c.sqlType.toLowerCase match {
        case "int" => Some(key -> raw.toInt)
        case "bigint" | "long" => Some(key -> raw.toLong)
        case "float" => Some(key -> raw.toFloat)
        case "double" => Some(key -> raw.toDouble)
        case "varchar" | "string" => Some(key -> raw)
        case _ => None
      }
    }.toMap
    IngestSpec(parseSchema, defaults, aliases, tagField, acceptTags,
      ignoreEmpty, rollup)
  }

  /** Ingest spec: RealtimeSetting parity. */
  case class IngestSpec(
      schema: StructType,
      defaults: Map[String, Any] = Map.empty,
      aliases: Map[String, String] = Map.empty,
      tagField: Option[String] = None,
      acceptTags: Set[String] = Set.empty,
      ignoreEmpty: Boolean = false,
      rollup: Option[RollupSpec] = None)

  /** Post-alias column name → its parse-time (alias) name. Decode's tag
    * filter and IGNORE_EMPTY classification run BEFORE the alias rename,
    * so rollup dims (and tag fields) expressed as column names must map
    * back through spec.aliases — otherwise an aliased dim is counted as a
    * metric and a row with all metrics null but that dim set would survive
    * the IGNORE_EMPTY filter. Identity for names already parse-time. */
  private def parseName(spec: IngestSpec, n: String): String =
    spec.aliases.collectFirst { case (a, c) if c == n => a }.getOrElse(n)

  /** Parse-time metric columns for the IGNORE_EMPTY filter: every parsed
    * field that is neither a rollup dim nor the tag field, with dims and
    * tag mapped into parse-time names (shared by decode and ingestStats so
    * the counters cannot drift from what decode keeps). */
  private def ignoreEmptyMetricCols(spec: IngestSpec): Seq[String] = {
    val dimParse = spec.rollup.toSeq.flatMap(_.dims)
      .map(parseName(spec, _)).toSet
    val tagParse = spec.tagField.map(parseName(spec, _))
    spec.schema.fieldNames.toSeq.filterNot(c =>
      dimParse.contains(c) || tagParse.contains(c))
  }

  /** Corrupt-record marker field: Spark's PERMISSIVE from_json returns an
    * all-null STRUCT (not null) for a malformed line, indistinguishable
    * from a legitimately empty object — the marker column is the reliable
    * failed-parse discriminator. */
  private val CorruptCol = "__corrupt"
  private def parseExpr(jsonCol: String, spec: IngestSpec): Column =
    from_json(col(jsonCol), StructType(spec.schema.fields :+
        StructField(CorruptCol, org.apache.spark.sql.types.StringType)),
      Map("columnNameOfCorruptRecord" -> CorruptCol))

  /** JSON-lines column → typed rows with defaults/tags/aliases applied.
    * An unparseable line is a FAILED row — dropped, never a
    * defaults-filled ghost (reference parity: a failed parse produces no
    * row and increments failCount, UTF8JsonRowCreator.java:27,108-116;
    * count them via [[ingestStats]]). */
  def decode(raw: DataFrame, jsonCol: String, spec: IngestSpec): DataFrame = {
    var df = raw
      .withColumn("__parsed", parseExpr(jsonCol, spec))
      .filter(col("__parsed").isNotNull &&
        col(s"__parsed.$CorruptCol").isNull)
      .select(col("*"), col("__parsed.*"))
      .drop("__parsed", jsonCol, CorruptCol)
    // defaults: missing/empty numerics → configured default (0 for
    // number.empty.as.zero); strings → default string
    spec.defaults.foreach { case (c, v) =>
      if (df.columns.contains(c)) df = df.withColumn(c, coalesce(col(c), lit(v)))
    }
    spec.tagField.foreach { tf =>
      if (spec.acceptTags.nonEmpty)
        df = df.filter(size(array_intersect(
          split(col(parseName(spec, tf)), ","),
          lit(spec.acceptTags.toArray))) > 0)
    }
    if (spec.ignoreEmpty) {
      val metricCols = ignoreEmptyMetricCols(spec)
      if (metricCols.nonEmpty)
        df = df.filter(metricCols.map(col(_).isNotNull).reduce(_ || _))
    }
    spec.aliases.foreach { case (from, to) => df = df.withColumnRenamed(from, to) }
    df
  }

  /** Ingest-side counters — the reference RowCreator's stats surface
    * (UTF8JsonRowCreator.java:24-57: consume/produce/ignore/fail): one
    * map-only pass classifying every raw line exactly as [[decode]]
    * treats it — `failed` (unparseable JSON), `ignored_tag` (parsed but
    * tag-rejected), `ignored_empty` (all metrics null under
    * IGNORE_EMPTY), `produced` (reaches the rollup) — then ONE combiner
    * aggregate to a single row. Classification precedence mirrors
    * decode's filter order. Works on a batch or streaming frame. */
  def ingestStats(raw: DataFrame, jsonCol: String, spec: IngestSpec): DataFrame = {
    val parsed = raw.withColumn("__p", parseExpr(jsonCol, spec))
    def valOf(c: String): Column = spec.defaults.get(c) match {
      case Some(v) => coalesce(col(s"__p.`$c`"), lit(v))
      case None => col(s"__p.`$c`")
    }
    val tagOk: Column = spec.tagField.filter(_ => spec.acceptTags.nonEmpty) match {
      case Some(tf) => size(array_intersect(
        split(valOf(parseName(spec, tf)), ","),
        lit(spec.acceptTags.toArray))) > 0
      case None => lit(true)
    }
    val metricCols = ignoreEmptyMetricCols(spec)
    val nonEmpty: Column =
      if (!spec.ignoreEmpty || metricCols.isEmpty) lit(true)
      else metricCols.map(valOf(_).isNotNull).reduce(_ || _)
    // a NULL tag is NOT accepted (decode's WHERE drops the row), so the
    // tag test must coalesce before negating — `!tagOk` on null skips the
    // branch and would misclassify the row as produced
    val cls = when(col("__p").isNull ||
        col(s"__p.$CorruptCol").isNotNull, "failed")
      .when(!coalesce(tagOk, lit(false)), "ignored_tag")
      .when(!nonEmpty, "ignored_empty")
      .otherwise("produced")
    parsed.select(cls.as("__cls"))
      .agg(count(lit(1)).as("consumed"),
        sum(when(col("__cls") === "produced", 1L).otherwise(0L))
          .as("produced"),
        sum(when(col("__cls") === "ignored_tag", 1L).otherwise(0L))
          .as("ignored_tag"),
        sum(when(col("__cls") === "ignored_empty", 1L).otherwise(0L))
          .as("ignored_empty"),
        sum(when(col("__cls") === "failed", 1L).otherwise(0L)).as("failed"))
  }

  /** Arrival-anchor column name for a FIRST/LAST metric. */
  def arrCol(metric: String, t: AggType): String = s"__${t.name}_arr_$metric"

  // Float/double SUM metrics travel as DECIMAL(30,6) so per-batch rollups
  // merge to bit-identical totals regardless of how the stream was split
  // into batches or partitions (same rule as graft.functions.Ops.dsum;
  // split-invariance is asserted by PropertySpec).
  private val D = DecimalType(30, 6)
  private def sumCol(df: DataFrame, m: String): Column =
    df.schema(m).dataType match {
      case DoubleType | FloatType => sum(col(m).cast(D)).as(m)
      case _ => sum(col(m)).as(m)
    }

  /** Roll up raw rows: one shuffle on dims; FIRST/LAST anchored to arrival. */
  def rollupBatch(df: DataFrame, r: RollupSpec): DataFrame = {
    val aggs = r.metrics.flatMap {
      case (m, Sum) => Seq(sumCol(df, m))
      case (m, Cnt) => Seq(count(col(m)).as(m))
      case (m, Min) => Seq(min(col(m)).as(m))
      case (m, Max) => Seq(max(col(m)).as(m))
      case (m, First) => Seq(
        min_by(col(m), col(r.arrival)).as(m),
        min(col(r.arrival)).as(arrCol(m, First)))
      case (m, Last) => Seq(
        max_by(col(m), col(r.arrival)).as(m),
        max(col(r.arrival)).as(arrCol(m, Last)))
    }
    df.groupBy(r.dims.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Merge already-rolled-up parts (RTSMerge semantics): SUM/COUNT re-sum,
    * MIN/MAX re-min/max, FIRST/LAST resolve via their arrival anchors. */
  def mergeRollups(df: DataFrame, r: RollupSpec): DataFrame = {
    val aggs = r.metrics.flatMap {
      case (m, Sum) => Seq(sumCol(df, m)) // decimal sums stay decimal (exact)
      case (m, Cnt) => Seq(sum(col(m)).as(m)) // counts merge by summing
      case (m, Min) => Seq(min(col(m)).as(m))
      case (m, Max) => Seq(max(col(m)).as(m))
      case (m, First) => Seq(
        min_by(col(m), col(arrCol(m, First))).as(m),
        min(col(arrCol(m, First))).as(arrCol(m, First)))
      case (m, Last) => Seq(
        max_by(col(m), col(arrCol(m, Last))).as(m),
        max(col(arrCol(m, Last))).as(arrCol(m, Last)))
    }
    df.groupBy(r.dims.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Start the ingest query: decode → per-batch rollup → dim-sorted parquet
    * append into `tableDir/batch=<id>` (idempotent per batchId — replayed
    * batches overwrite their own dir, commitlog-replay parity). */
  def start(stream: DataFrame, jsonCol: String, spec: IngestSpec,
      tableDir: String, checkpoint: String): StreamingQuery = {
    val decoded = decode(stream, jsonCol, spec)
    decoded.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val out = spec.rollup match {
          case Some(r) =>
            rollupBatch(batch, r).sortWithinPartitions(r.dims.map(col): _*)
          case None => batch
        }
        out.write.mode("overwrite").parquet(s"$tableDir/batch=$batchId")
        ()
      }
      .start()
  }

  /** Compaction (RTSMerge + Rt2His parity): merge every dumped part with the
    * merge aggregation, write dim-sorted to a new generation dir, then swap
    * the manifest atomically (readers resolve via `current`). When
    * `indexedCols` is non-empty the generation also gets a segment manifest
    * (graft.storage.Segments), so historical reads of compacted realtime
    * data prune files like any other segment table; `bloomCols`/`ngramCols`
    * additionally build the per-file equality and substring-LIKE blooms a
    * batch `Segments.write` table gets — the reference's realtime segments
    * build their full indices on dump (rt/RealtimeSegment.java:215-308), so
    * a table must not lose pruning power by having arrived via the realtime
    * path. The generation's files go through the segment writer, which
    * folds each file's manifest entry as its rows are written: no job
    * beyond the merge write (budget note in SCALE.md). After the swap every
    * older `compacted-*` generation is deleted except the one `current`
    * named before it, so a table holds at most two merged copies. */
  def compact(spark: SparkSession, tableDir: String, r: RollupSpec,
      indexedCols: Seq[String] = Nil, bloomCols: Seq[String] = Nil,
      ngramCols: Seq[String] = Nil): String = {
    import org.apache.hadoop.fs.{FileContext, Options, Path}
    val parts = spark.read.parquet(s"$tableDir/batch=*")
    val gen = s"$tableDir/compacted-${System.currentTimeMillis()}"
    val w = mergeRollups(parts, r)
      .repartition(spark.sessionState.conf.numShufflePartitions, r.dims.map(col): _*)
      .sortWithinPartitions(r.dims.map(col): _*)
      .write.mode("overwrite")
    if (indexedCols.nonEmpty || bloomCols.nonEmpty || ngramCols.nonEmpty)
      graft.storage.Segments.save(spark, w, gen, "parquet", indexedCols, bloomCols, ngramCols)
    else w.parquet(gen)
    val current = new Path(s"$tableDir/current")
    val fs = current.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val previous = Option.when(fs.exists(current))(
      new Path(graft.storage.Segments.readTextFile(current.toString)).getName)
    // `current` pointer swap through the Hadoop FS API so it works on
    // HDFS/cloud stores like the reference's segment upload
    // (SegmentUploader.java); FileContext.rename(OVERWRITE) is the
    // FS-level atomic-replace (plain FileSystem.rename won't overwrite)
    val tmp = new Path(s"$tableDir/current.tmp")
    graft.storage.Segments.writeTextFile(tmp.toString, gen)
    val fc = FileContext.getFileContext(tmp.toUri,
      spark.sparkContext.hadoopConfiguration)
    fc.rename(tmp, current, Options.Rename.OVERWRITE)
    // every older generation is a full copy of the table: keep only the new
    // one and the one `current` named before the swap, which a reader that
    // resolved `current` just before it may still be scanning
    val keep = Set(new Path(gen).getName) ++ previous
    fs.listStatus(new Path(tableDir))
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("compacted-") &&
        !keep.contains(st.getPath.getName))
      .foreach(st => fs.delete(st.getPath, true))
    gen
  }

  /** Rt2His (Rt2HisOnHive.java:52,200-251 parity): reorganize realtime
    * output into a date-partitioned historical table. The INSERT-OVERWRITE-
    * PARTITION Hive SQL becomes a dynamic-partition parquet write; at
    * 100 TB this is a map-only repartition on the partition column. */
  def rt2His(spark: SparkSession, rtDir: String, histDir: String,
      partitionExpr: Column, partitionName: String = "p_date"): Unit = {
    spark.read.parquet(s"$rtDir/batch=*")
      .withColumn(partitionName, partitionExpr)
      .repartition(col(partitionName))
      .write.mode("overwrite")
      .partitionBy(partitionName)
      .parquet(histDir)
  }

  /** Hybrid view: historical base ∪ fresh realtime parts (HybridTable.all()). */
  def hybrid(spark: SparkSession, baseDir: String, rtDir: String): DataFrame = {
    val base = spark.read.parquet(baseDir)
    val rt = spark.read.parquet(s"$rtDir/batch=*")
    base.unionByName(rt, allowMissingColumns = true)
  }
}
