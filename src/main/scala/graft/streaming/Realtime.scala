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
    * table's schema JSON plus this realtime JSON (plus, for SQL-only
    * clients, the generated [[ingestSql]] text) fully describe the
    * pipeline with no code. Recognized keys: `dims`, `metrics`
    * `[{name, agg}]`, `name.alias` (column → event-field alias; events
    * parse under alias names and rename to column names, the reference's
    * direction), `tag.setting` (`tag.field`, `accept.tags`),
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
    * tag mapped into parse-time names (shared by decode and decodeSql so
    * the SQL twin cannot drift). */
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

  // ---------------------------------------------------------------------
  // Pure-SQL ingest surface — the reference configures realtime ingest as
  // TEXT (table spec JSON with SQL-ish agg schema, TableSchema.java:17-69),
  // so a client that can only submit SQL strings must be able to run the
  // same decode→rollup pipeline. The generators below emit Spark SQL from
  // the SAME IngestSpec/RollupSpec objects that drive decode/rollupBatch;
  // run the text with spark.sql over a registered view — including a
  // STREAMING temp view (spark.sql on a streaming view yields a streaming
  // frame; hand it to writeStream). Equivalence with the programmatic path
  // is spec-asserted in StreamingSpec, batch and stream.
  // ---------------------------------------------------------------------

  private def sqlLit(v: Any): String = v match {
    case s: String => "'" + s.replace("'", "''") + "'"
    case d: Double => s"CAST($d AS DOUBLE)"
    case f: Float => s"CAST($f AS DOUBLE)"
    case other => String.valueOf(other)
  }

  /** Decode SQL for `spec` over the view `rawView`: from_json against the
    * spec schema's DDL, defaults as coalesce, tag filter and ignore-empty
    * as WHERE, aliases as AS — the SQL twin of [[decode]]. `passthrough`
    * lists raw-view columns to carry alongside the parsed ones (decode's
    * `col("*")`; pure SQL must name them). */
  def decodeSql(spec: IngestSpec, jsonCol: String, rawView: String,
      passthrough: Seq[String] = Nil): String = {
    val ddl = (spec.schema.toDDL + s", `$CorruptCol` STRING")
      .replace("'", "''")
    // defaulted value of a parsed column (pre-alias name), as decode
    // computes it — the tag filter and ignore-empty run on these too
    def valOf(c: String): String = spec.defaults.get(c) match {
      case Some(v) => s"coalesce(__p.`$c`, ${sqlLit(v)})"
      case None => s"__p.`$c`"
    }
    val outCols = passthrough.map(c => s"`$c`") ++ spec.schema.fieldNames.map {
      c => s"${valOf(c)} AS `${spec.aliases.getOrElse(c, c)}`"
    }
    val tagCond = spec.tagField.filter(_ => spec.acceptTags.nonEmpty).map { tf =>
      val tags = spec.acceptTags.toSeq.sorted.map(sqlLit).mkString(", ")
      s"size(array_intersect(split(${valOf(parseName(spec, tf))}, ','), array($tags))) > 0"
    }
    val emptyCond =
      if (!spec.ignoreEmpty) None
      else {
        val metricCols = ignoreEmptyMetricCols(spec)
        if (metricCols.isEmpty) None
        else Some(metricCols.map(c => s"${valOf(c)} IS NOT NULL")
          .mkString("(", " OR ", ")"))
      }
    // failed parses drop here too (decode parity: null struct or the
    // corrupt-record marker set)
    val conds =
      Seq("__p IS NOT NULL", s"__p.`$CorruptCol` IS NULL") ++
        tagCond.toSeq ++ emptyCond.toSeq
    val where = "\nWHERE " + conds.mkString(" AND ")
    s"""SELECT ${outCols.mkString(",\n  ")}
       |FROM (SELECT *, from_json(`$jsonCol`, '$ddl',
       |  map('columnNameOfCorruptRecord', '$CorruptCol')) AS __p
       |  FROM $rawView)$where""".stripMargin
  }

  /** Rollup SQL for `r` over `from` (a view name or parenthesized
    * subquery) — the SQL twin of [[rollupBatch]]: float/double SUMs travel
    * as DECIMAL(30,6), FIRST/LAST are MIN_BY/MAX_BY plus their arrival
    * anchors. `schema` resolves metric types (pass the decoded frame's
    * schema, as rollupBatch reads it off the frame). */
  def rollupSql(r: RollupSpec, schema: StructType, from: String): String = {
    def isFp(m: String): Boolean = schema.find(_.name == m)
      .exists(f => f.dataType == DoubleType || f.dataType == FloatType)
    val aggs = r.metrics.flatMap {
      case (m, Sum) if isFp(m) =>
        Seq(s"SUM(CAST(`$m` AS DECIMAL(30,6))) AS `$m`")
      case (m, Sum) => Seq(s"SUM(`$m`) AS `$m`")
      case (m, Cnt) => Seq(s"COUNT(`$m`) AS `$m`")
      case (m, Min) => Seq(s"MIN(`$m`) AS `$m`")
      case (m, Max) => Seq(s"MAX(`$m`) AS `$m`")
      case (m, First) => Seq(
        s"MIN_BY(`$m`, `${r.arrival}`) AS `$m`",
        s"MIN(`${r.arrival}`) AS `${arrCol(m, First)}`")
      case (m, Last) => Seq(
        s"MAX_BY(`$m`, `${r.arrival}`) AS `$m`",
        s"MAX(`${r.arrival}`) AS `${arrCol(m, Last)}`")
    }
    val dims = r.dims.map(c => s"`$c`")
    s"""SELECT ${(dims ++ aggs).mkString(",\n  ")}
       |FROM $from
       |GROUP BY ${dims.mkString(", ")}""".stripMargin
  }

  /** The full SQL-text ingest: decode, then the spec's rollup if any —
    * submit the returned string via spark.sql against a (batch or
    * streaming) view registered as `rawView`. Rollup metrics must be
    * parsed columns here (a code-level pipeline can enrich between the
    * stages; a pure-SQL client edits the generated text instead). */
  def ingestSql(spec: IngestSpec, jsonCol: String, rawView: String,
      passthrough: Seq[String] = Nil): String = {
    val dec = decodeSql(spec, jsonCol, rawView, passthrough)
    spec.rollup match {
      case None => dec
      case Some(r) =>
        // resolve metric types post-alias, as the decoded frame carries them
        val decoded = StructType(spec.schema.fields.map(f =>
          f.copy(name = spec.aliases.getOrElse(f.name, f.name))))
        rollupSql(r, decoded, s"(\n$dec\n)")
    }
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
    * beyond the merge write (budget note in SCALE.md). */
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
    // `current` pointer swap through the Hadoop FS API so it works on
    // HDFS/cloud stores like the reference's segment upload
    // (SegmentUploader.java); FileContext.rename(OVERWRITE) is the
    // FS-level atomic-replace (plain FileSystem.rename won't overwrite)
    val tmp = new Path(s"$tableDir/current.tmp")
    graft.storage.Segments.writeTextFile(tmp.toString, gen)
    val fc = FileContext.getFileContext(tmp.toUri,
      spark.sparkContext.hadoopConfiguration)
    fc.rename(tmp, new Path(s"$tableDir/current"), Options.Rename.OVERWRITE)
    gen
  }

  /** Streaming exact dedup: drop events whose key was already seen, with
    * state bounded by the watermark (the streaming face of the exact-dedup
    * operator; at 100 TB/day the TTL bounds state to the late-data horizon).
    * Uses Spark's native `dropDuplicatesWithinWatermark` — idiomatic
    * preference over hand-rolled mapGroupsWithState for this shape. */
  def dedupStream(df: DataFrame, eventTimeCol: String, ttl: String,
      keys: String*): DataFrame =
    df.withWatermark(eventTimeCol, ttl)
      .dropDuplicatesWithinWatermark(keys.toSeq)

  /** Custom keyed streaming state (`KeyValueGroupedDataset
    * .flatMapGroupsWithState`): a running (total, count) per key maintained
    * across micro-batches, emitted on every update — the escape hatch for
    * state machines the built-in aggregations can't express. State is one
    * small tuple per key (100 TB-friendly: bounded by key cardinality, not
    * event volume). */
  def runningTotals(df: DataFrame, keyCol: String, valCol: String): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val s = df.sparkSession
    import s.implicits._
    df.select(col(keyCol).cast(StringType).as("k"), col(valCol).cast(DoubleType).as("v"))
      .as[(String, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Double, Long), (String, Double, Long)](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (k: String, rows: Iterator[(String, Double)], state: GroupState[(Double, Long)]) =>
          val (pt, pn) = state.getOption.getOrElse((0.0, 0L))
          var t = pt; var n = pn
          rows.foreach { r => t += r._2; n += 1 }
          state.update((t, n))
          Iterator((k, t, n))
      }
      .toDF(keyCol, "total", "n")
  }

  /** Stream-stream event-time interval join — the two-stream correlation
    * (impressions ⋈ clicks within an attribution window) the reference's
    * single-stream ingest cannot express. Inner join on `keyCols` with
    * `rightTimeCol` ∈ [leftTimeCol, leftTimeCol + maxDelay]; BOTH sides
    * are watermarked, which is what lets Spark expire buffered state —
    * the 100 TB requirement: state ∝ the in-flight interval per key, not
    * stream history. Right-side key columns are coalesced away; both
    * event-time columns are kept. Inner-join matches emit as soon as
    * both rows arrive (no watermark wait).
    *
    * At scale the join shuffles both streams on the key per micro-batch
    * and keeps per-key sorted state; size `watermarkDelay` to the real
    * out-of-orderness and `maxDelay` to the semantic window — state is
    * proportional to rate × (delay + window). */
  def joinStreams(left: DataFrame, right: DataFrame, keyCols: Seq[String],
      leftTimeCol: String, rightTimeCol: String,
      watermarkDelay: String, maxDelay: String,
      joinType: String = "inner"): DataFrame = {
    require(keyCols.nonEmpty, "need at least one key column")
    require(leftTimeCol != rightTimeCol,
      "rename one side's event-time column — both are kept in the output")
    require(Seq("inner", "left_outer", "right_outer").contains(joinType),
      "joinType must be inner, left_outer or right_outer")
    val l = left.withWatermark(leftTimeCol, watermarkDelay)
    val r0 = right.withWatermark(rightTimeCol, watermarkDelay)
    val r = keyCols.foldLeft(r0)((d, k) => d.withColumnRenamed(k, s"__r_$k"))
    val cond = keyCols.map(k => col(k) === col(s"__r_$k")).reduce(_ && _) &&
      col(rightTimeCol) >= col(leftTimeCol) &&
      col(rightTimeCol) <= col(leftTimeCol) + expr(s"INTERVAL $maxDelay")
    // OUTER variants: the unmatched side emits null-padded once the
    // watermark proves no in-interval partner can still arrive — the
    // impression-with-no-click row an attribution pipeline needs. The
    // preserved side's key survives the coalesce below either way.
    val joined = l.join(r, cond, joinType)
    keyCols.foldLeft(joined)((d, k) =>
      d.withColumn(k, coalesce(col(k), col(s"__r_$k"))))
      .drop(keyCols.map(k => s"__r_$k"): _*)
  }

  /** Streaming drift monitor — the streaming face of
    * [[graft.operators.Curation.distributionDrift]]: per tumbling
    * event-time window, the stream's categorical mix is compared to a
    * STATIC reference mix (`refShares`: (bucket, ref_ppm) — e.g. the
    * accepted corpus' [[graft.operators.Curation.distributionDrift]]
    * output, or [[graft.operators.Curation.temperatureShares]] targets),
    * emitting ONE row per closed window: (window, n_events, tv_ppm) —
    * the same exact-integer total-variation certificate the batch
    * operator produces, `1e6` = disjoint mix. Alert on tv_ppm, read the
    * batch drift table for the why.
    *
    * Plan: a (window, bucket) count (stateful agg #1, state bounded by
    * open windows × #buckets) → broadcast join to the static reference →
    * a window re-aggregation (stateful agg #2 — the chained
    * window-aggregation shape Spark supports in append mode) whose
    * per-window items list is #buckets-bounded, so the TV folds map-side
    * with integer DIV ppm. Reference buckets absent from a window
    * contribute their full ref_ppm (the vanished-category alarm), via the
    * refTotal − matchedRef identity — `refShares` is collected once
    * (#buckets rows, the mixCorpus convention). Novel stream buckets
    * carry ref_ppm 0. Windows emit once the watermark closes them. */
  def driftStream(df: DataFrame, eventTimeCol: String, catCol: String,
      windowDuration: String, watermarkDelay: String,
      refShares: DataFrame): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    val ref = refShares.select(col("bucket").cast(StringType),
      col("ref_ppm").cast(LongType)).collect()
    // fails-LOUDLY contract on the reference mix: a duplicate bucket fans
    // out the left join (each stream event counted once per duplicate —
    // n_events AND tv_ppm both wrong), a NULL bucket inflates refTotal but
    // can never match (permanently reported as vanished mass), a negative
    // share corrupts the TV fold. None is a valid reference; reject all.
    require(ref.forall(r => !r.isNullAt(0)),
      "reference shares contain a NULL bucket")
    require(ref.forall(r => !r.isNullAt(1) && r.getLong(1) >= 0L),
      "reference shares contain a NULL or negative ref_ppm")
    require(ref.map(_.getString(0)).distinct.length == ref.length,
      "reference shares contain duplicate buckets")
    val refTotal = ref.map(_.getLong(1)).sum
    require(refTotal <= 1000000L, s"reference shares sum to $refTotal > 1e6")
    val refDf = ref.map(r => (r.getString(0), r.getLong(1))).toSeq
      .toDF("__cat", "ref_ppm")
    val counts = df
      .withWatermark(eventTimeCol, watermarkDelay)
      .groupBy(window(col(eventTimeCol), windowDuration),
        col(catCol).cast(StringType).as("__cat"))
      .agg(count(lit(1)).as("__c"))
    counts
      .join(broadcast(refDf), Seq("__cat"), "left")
      .na.fill(0L, Seq("ref_ppm"))
      .groupBy(window(col("window"), windowDuration).as("window"))
      .agg(sum($"__c").as("n_events"),
        collect_list(struct($"__c", $"ref_ppm")).as("__items"))
      .select($"window", $"n_events",
        // Σ_matched |stream_ppm − ref_ppm| + (refTotal − Σ_matched ref):
        // buckets the window never saw still pull their whole ref share
        (expr("""aggregate(__items, 0L, (acc, x) ->
             acc + abs(x.__c * 1000000L DIV n_events - x.ref_ppm))""") +
          (lit(refTotal) -
            expr("aggregate(__items, 0L, (acc, x) -> acc + x.ref_ppm)")))
          .as("__tvsum"))
      .select($"window", $"n_events", expr("__tvsum DIV 2").as("tv_ppm"))
  }

  /** Event-time session windows (gap-based), streaming form of the batch
    * sessionization operator (q27): sessions close and emit once the
    * watermark passes last-event + gap. State per open session only — the
    * 100 TB-friendly bound (superset of the reference, which has no
    * windowing). Output carries `session.start` / `session.end`. */
  def sessionizeStream(df: DataFrame, eventTimeCol: String, gap: String,
      watermarkDelay: String, keys: Seq[String], aggs: Seq[Column]): DataFrame =
    df.withWatermark(eventTimeCol, watermarkDelay)
      .groupBy(session_window(col(eventTimeCol), gap).as("session") +: keys.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)

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
