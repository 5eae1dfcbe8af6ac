package graft.storage


import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Segment-layout storage: dim-sorted parquet + a per-file min/max manifest.
  *
  * Reference parity (SURVEY.md §4.2): IndexR's level-1 index keeps per-column
  * min/max per segment (`ColumnNode`, storage/ColumnNode.java:12,37-52) so
  * whole segments are skipped without opening them. Parquet already gives us
  * level-2 (row-group stats ≈ DataPackNode min/max) and level-3 (predicate
  * eval) natively; this module restores level-1: a table-level manifest JSON
  * holding per-FILE min/max per indexed column, consulted before Spark ever
  * lists the files.
  *
  * Scale: the manifest is folded while the segment files are written —
  * each file's writer accumulates its row count, min/max and bloom bits
  * (graft.storage.FileStatsBuilder) and the driver joins one small entry
  * per file, with no re-read of the table. It is tiny (KBs per thousand
  * files); pruning is a driver-side filter over file entries — exactly how
  * InfoSegment pruning works in the reference.
  * Writing sorts by the sort columns (TableSchema.java:35 sort.columns) via
  * repartitionByRange + sortWithinPartitions, which is what makes min/max
  * ranges disjoint and the pruning effective.
  */
object Segments {

  val ManifestFile = "_graft_manifest.json"

  /** Manifest format version. v2 distinguishes absent stats (JSON null) from
    * the literal string "null"; v1 (version-less) manifests conflated them. */
  val ManifestVersion = 2

  /** Unsigned UTF-8 byte-wise compare — the order Spark's UTF8String min/max
    * used when the stats were computed. JVM String.compareTo (UTF-16 code
    * units) disagrees with it for strings mixing U+E000–U+FFFF with
    * supplementary-plane code points, which could prune a matching file. */
  private[graft] def utf8Cmp(a: String, b: String): Int = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val d = (x(i) & 0xff) - (y(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    x.length - y.length
  }

  // ---- per-file bloom sketch (equality pruning for string columns) ------
  //
  // Reference parity: IndexR's string-equality rough checks run against a
  // per-pack hash/bitmap structure (ExtIndex_Str_Hash.java:25,49-55; the 2 KiB
  // CMap of RSIndex_CMap.java:23-25; the VLT OuterIndex_Inverted segment
  // index). Min/max ranges can't prune point lookups on unsorted string
  // columns; a 1024-bit bloom per file per column (the same 128 B/1024-bit
  // budget as the reference's histogram index) answers `col = v` with
  // None/Some semantics: all k bits set → maybe, any bit clear → never.

  val BloomBits = 1024
  val BloomK = 4

  /** First 60 bits of md5 as a non-negative long (graft.functions.Ops.md5Long
    * computes the same in Spark SQL) — the bloom hash, on the build side
    * (the segment writer's fold) and the check side (driver pruning). */
  private[graft] def md5LongJvm(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val hex = d.take(8).map("%02x".format(_)).mkString // 16 hex chars, use 15
    java.lang.Long.parseLong(hex.substring(0, 15), 16)
  }

  private[graft] def bloomPositions(v: String): Seq[Int] =
    (0 until BloomK).map(i => (md5LongJvm(s"b$i:$v") % BloomBits).toInt)

  private[graft] def bloomMightContain(hex: String, v: String): Boolean = {
    val bytes = hex.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    bloomPositions(v).forall(p => (bytes(p / 8) & (1 << (p % 8))) != 0)
  }

  // ---- per-file character-trigram bloom (substring-LIKE pruning) --------
  //
  // Reference parity: IndexR's CMap answers `LIKE '%x%'` rough checks from a
  // per-pack character sketch (rc/Like.java:60-110; index/RSIndex_CMap.java:
  // 22-60, a 2 KiB structure). Min/max and the equality bloom can't prune a
  // substring probe; a 8192-bit (1 KiB) bloom over every character TRIGRAM
  // occurring in a file's column answers it: a file can contain a value
  // matching '%x%' only if every trigram of x is present. Trigrams are
  // CODE-POINT based on both sides (Spark's substring counts code points).

  val NgramBits = 8192
  val NgramK = 2
  val NgramN = 3

  /** Code-point trigrams of `s` — must mirror the Spark-side
    * substring(v, i, 3) extraction exactly (both count code points). */
  private[graft] def cpTrigrams(s: String): Seq[String] = {
    val cps = s.codePoints().toArray
    (0 to cps.length - NgramN).map(i => new String(cps, i, NgramN))
  }

  private[graft] def ngramPositions(tri: String): Seq[Int] =
    (0 until NgramK).map(i => (md5LongJvm(s"c$i:$tri") % NgramBits).toInt)

  /** May a value containing `needle` as a substring exist in this file's
    * column? Conservative: needles shorter than one trigram can't be
    * checked → true. */
  private[graft] def ngramMightContain(hex: String, needle: String): Boolean = {
    val tris = cpTrigrams(needle)
    if (tris.isEmpty) true
    else {
      val bytes = hex.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
      tris.forall(tri => ngramPositions(tri)
        .forall(p => (bytes(p / 8) & (1 << (p % 8))) != 0))
    }
  }

  /** Write `df` as a dim-sorted segmented table with its manifest.
    * `numSegments` controls file count (→ one range partition each). */
  def write(df: DataFrame, dir: String, sortCols: Seq[String],
      indexedCols: Seq[String], numSegments: Int = 8,
      rowGroupBytes: Long = 8L << 20, format: String = "parquet",
      bloomCols: Seq[String] = Nil, ngramCols: Seq[String] = Nil): Unit = {
    val sorted =
      if (sortCols.nonEmpty)
        df.repartitionByRange(numSegments, sortCols.map(col): _*)
          .sortWithinPartitions(sortCols.map(col): _*)
      else df.repartition(numSegments)
    // row-group/stripe size ≈ the reference's 64Ki-row pack granularity
    // (the unit of stats-based skipping inside a file — DataPack.java:36-38)
    val base = sorted.write.mode("overwrite")
      .option("parquet.block.size", rowGroupBytes.toString)
      .option("orc.stripe.size", rowGroupBytes.toString)
    // pack-level value indexing for the equality-probe columns: native
    // Parquet/ORC bloom filters per row group/stripe — the in-file analogue
    // of the reference's per-pack string-hash index (ExtIndex_Str_Hash
    // .java:25,49-55): the manifest bloom skips whole FILES, these skip row
    // groups INSIDE kept files, and the reader consults them automatically
    // on pushed-down = / IN probes.
    val withBlooms = bloomCols.foldLeft(base)((w, c) =>
      w.option(s"parquet.bloom.filter.enabled#$c", "true"))
      .option("orc.bloom.filter.columns", bloomCols.mkString(","))
    save(df.sparkSession, withBlooms, dir, format, indexedCols, bloomCols, ngramCols)
  }

  /** Save through the segment writer ([[SegmentWriter]]), which folds each
    * file's manifest entry as the file's rows are written, then assemble
    * `dir`'s manifest from the committed entries. One write job, no
    * re-read. `spark` is the session `w`'s DataFrame belongs to: its time
    * zone spells the timestamp stats. */
  private[graft] def save(spark: SparkSession, w: DataFrameWriter[Row], dir: String,
      format: String, indexedCols: Seq[String], bloomCols: Seq[String],
      ngramCols: Seq[String]): Unit = {
    w.format(SegmentWriter.formatClass(format))
      .options(SegmentWriter.options(spark, indexedCols, bloomCols, ngramCols))
      .save(dir)
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val listed = fs.listStatus(root)
    val byName = listed.map(s => s.getPath.getName -> s).toMap
    val sidecars = listed.filter(_.getPath.getName.startsWith(SegmentWriter.SidecarPrefix))
    val entries = sidecars.flatMap { s =>
      byName.get(s.getPath.getName.stripPrefix(SegmentWriter.SidecarPrefix))
        .map(data => fileUri(data) -> readTextFile(s.getPath.toString))
    }
    writeManifest(dir, format, entries.toSeq)
    sidecars.foreach(s => fs.delete(s.getPath, false))
  }

  /** A data file's path as Spark's file listing (and `input_file_name`)
    * spells it. */
  private def fileUri(s: org.apache.hadoop.fs.FileStatus): String = s.getPath.toUri.toString

  /** `entries` are (file, [[FileStatsBuilder.entryBody]]); written in file
    * order. */
  private def writeManifest(dir: String, format: String, entries: Seq[(String, String)]): Unit = {
    import FileStatsBuilder.jq
    val files = entries.sortBy(_._1).map { case (f, body) => s"""{"file":${jq(f)},$body}""" }
    writeTextFile(s"$dir/$ManifestFile",
      s"""{"version":$ManifestVersion,"format":${jq(format)},"files":${files.mkString("[", ",", "]")}}""")
  }

  /** Build/refresh the manifest of a directory written elsewhere (a
    * partitioned snapshot, a plain Parquet/ORC dir): per-file row count +
    * min/max per column, plus a 1024-bit equality bloom for each column in
    * `bloomCols` and an 8192-bit character-trigram bloom (substring-LIKE
    * pruning) for each column in `ngramCols`. The same [[FileStatsBuilder]]
    * the segment writer uses, folded over the files in one map-only job;
    * partial folds of a file split across tasks merge on the driver. */
  def buildManifest(spark: SparkSession, dir: String, indexedCols: Seq[String],
      format: String = "parquet", bloomCols: Seq[String] = Nil,
      ngramCols: Seq[String] = Nil): Unit = {
    val cols = (indexedCols ++ bloomCols ++ ngramCols).distinct
    val df = spark.read.format(format).load(dir)
      .select(input_file_name() +: cols.map(col): _*)
    val schema = df.schema
    val tz = spark.conf.get("spark.sql.session.timeZone")
    val folds = org.apache.spark.sql.graft.Bridge.internalRows(df).mapPartitions { rows =>
      val byFile = scala.collection.mutable.LinkedHashMap.empty[String, FileStatsBuilder]
      var file: org.apache.spark.unsafe.types.UTF8String = null
      var fold: FileStatsBuilder = null
      rows.foreach { r =>
        if (file == null || r.getUTF8String(0) != file) {
          file = r.getUTF8String(0).copy()
          fold = byFile.getOrElseUpdate(file.toString,
            new FileStatsBuilder(schema, indexedCols, bloomCols, ngramCols, tz))
        }
        fold.add(r)
      }
      byFile.iterator
    }.collect()
    val merged = folds.groupBy(_._1).map { case (f, parts) =>
      f -> parts.map(_._2).reduce(_ merge _).entryBody
    }
    writeManifest(dir, format, merged.toSeq)
  }

  // Manifest IO goes through the Hadoop FileSystem API, not java.nio: the
  // manifest must live beside its segment files on whatever store holds them
  // (HDFS / cloud object store / local), like the reference's segment
  // upload path (indexr-server/.../SegmentUploader.java).
  private def hadoopConf: org.apache.hadoop.conf.Configuration =
    org.apache.spark.sql.SparkSession.getActiveSession
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new org.apache.hadoop.conf.Configuration())

  private[graft] def writeTextFile(path: String, content: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val out = p.getFileSystem(hadoopConf).create(p, true)
    try out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  private[graft] def readTextFile(path: String): String = {
    val p = new org.apache.hadoop.fs.Path(path)
    val in = p.getFileSystem(hadoopConf).open(p)
    try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
    finally in.close()
  }

  /** Per-file stats; a bound is None when the column is entirely null in the
    * file (no min/max exists) — such files are never pruned. `blooms` maps a
    * column to its 1024-bit equality bloom (hex), `ngrams` to its 8192-bit
    * character-trigram bloom (substring pruning), when built. */
  case class FileStats(file: String, rows: Long,
      stats: Map[String, (Option[String], Option[String])],
      blooms: Map[String, String] = Map.empty,
      ngrams: Map[String, String] = Map.empty)

  /** The storage format recorded in the manifest ("parquet" or "orc"). */
  def manifestFormat(dir: String): String = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    implicit val fmt: Formats = DefaultFormats
    val j = JsonMethods.parse(readTextFile(s"$dir/$ManifestFile"))
    (j \ "format").extractOpt[String].getOrElse("parquet")
  }

  def readManifest(dir: String): Seq[FileStats] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    implicit val fmt: Formats = DefaultFormats
    val j = JsonMethods.parse(readTextFile(s"$dir/$ManifestFile"))
    val version = (j \ "version").extractOpt[Int].getOrElse(1)
    // v1 manifests serialized absent stats as the *string* "null", so a
    // Some("null") bound there may really mean "no stats" — drop it (the file
    // is then never pruned on that column) rather than risk wrong pruning.
    def bound(v: JValue): Option[String] =
      v.extractOpt[String].filterNot(s => version < 2 && s == "null")
    (j \ "files").children.map { f =>
      FileStats(
        (f \ "file").extract[String],
        (f \ "rows").extract[Long],
        (f \ "stats").asInstanceOf[JObject].obj.map { case (k, v) =>
          k -> ((bound(v \ "min")), (bound(v \ "max")))
        }.toMap,
        (f \ "blooms") match {
          case JObject(obj) => obj.collect { case (k, JString(hex)) => k -> hex }.toMap
          case _ => Map.empty[String, String]
        },
        (f \ "ngrams") match {
          case JObject(obj) => obj.collect { case (k, JString(hex)) => k -> hex }.toMap
          case _ => Map.empty[String, String]
        })
    }
  }

  /** A per-file rough check, RSValue-style: may this file contain matches?
    * Implementations must be conservative — when stats are missing (unindexed
    * column, or all-null column → None bounds) the answer is true. */
  sealed trait FilePred {
    def mayMatch(fs: FileStats): Boolean
  }

  /** Stats compare as the column's native type via the `numeric` flag
    * (numeric → BigDecimal compare, else UTF-8 byte order — matching how
    * the stats were stringified). A numeric bound that is not a finite
    * decimal (a double column's "NaN" or "Infinity") throws
    * NumberFormatException; its callers then keep the file. */
  private def cmp(a: String, b: String, numeric: Boolean): Int =
    if (numeric) BigDecimal(a).compare(BigDecimal(b)) else utf8Cmp(a, b)

  /** May the file hold a value of `colName` in [lo, hi]? */
  private def inRange(fs: FileStats, colName: String, lo: Option[String],
      hi: Option[String], numeric: Boolean): Boolean = fs.stats.get(colName) match {
    case Some((Some(mn), Some(mx))) =>
      try lo.forall(l => cmp(mx, l, numeric) >= 0) &&
        hi.forall(h => cmp(mn, h, numeric) <= 0)
      catch { case _: NumberFormatException => true }
    case _ => true // unindexed column or no stats (all-null) → can't prune
  }

  /** Min/max range check AND (when the manifest carries a bloom for the
    * column) the k-bit bloom membership test. */
  private def mayEqual(fs: FileStats, colName: String, value: String,
      numeric: Boolean): Boolean =
    inRange(fs, colName, Some(value), Some(value), numeric) &&
      fs.blooms.get(colName).forall(hex => bloomMightContain(hex, value))

  /** A closed-interval predicate on one column, for manifest pruning. */
  case class Range(colName: String, lo: Option[String], hi: Option[String],
      numeric: Boolean = true) extends FilePred {
    def mayMatch(fs: FileStats): Boolean = inRange(fs, colName, lo, hi, numeric)
  }

  /** Point-lookup predicate `col = value` — the file-level form of the
    * reference's string-hash equality rough check (ExtIndex_Str_Hash /
    * CMap isValue). */
  case class Equals(colName: String, value: String, numeric: Boolean = true)
      extends FilePred {
    def mayMatch(fs: FileStats): Boolean = mayEqual(fs, colName, value, numeric)
  }

  /** Membership predicate `col IN (values)`: the file may match if ANY value
    * may be present (per-value equality check, bloom-aware). */
  case class InSet(colName: String, values: Seq[String], numeric: Boolean = true)
      extends FilePred {
    def mayMatch(fs: FileStats): Boolean =
      values.exists(mayEqual(fs, colName, _, numeric))
  }

  /** Boolean algebra over rough checks — the reference's And/Or/Not tri-state
    * combine (rc/And.java:20, rc/Or.java:22, rc/Not.java:18) at file scope.
    * `mayMatch` is an upper bound on "contains a matching row", so:
    * AND may intersect bounds; OR needs every branch's bound; NOT(x) can only
    * prune when the file is single-valued on the column (min==max==x). */
  case class AndPred(ps: Seq[FilePred]) extends FilePred {
    def mayMatch(fs: FileStats): Boolean = ps.forall(_.mayMatch(fs))
  }
  case class OrPred(ps: Seq[FilePred]) extends FilePred {
    def mayMatch(fs: FileStats): Boolean = ps.exists(_.mayMatch(fs))
  }

  /** `col <> value`: prunes only files constant at exactly `value`. */
  case class NotEquals(colName: String, value: String, numeric: Boolean = true)
      extends FilePred {
    def mayMatch(fs: FileStats): Boolean = fs.stats.get(colName) match {
      case Some((Some(mn), Some(mx))) =>
        try !(cmp(mn, mx, numeric) == 0 && cmp(mn, value, numeric) == 0)
        catch { case _: NumberFormatException => true }
      case _ => true
    }
  }

  /** Substring predicate (`LIKE '%needle%'`, or one literal chunk of a
    * general LIKE pattern) via the per-file character-trigram bloom — the
    * reference's CMap substring rough check (rc/Like.java:88-110). A file
    * may match only if every trigram of the needle is present; files
    * without an ngram bloom for the column, and needles shorter than one
    * trigram, are never pruned. */
  case class ContainsPred(colName: String, needle: String) extends FilePred {
    def mayMatch(fs: FileStats): Boolean =
      fs.ngrams.get(colName).forall(hex => ngramMightContain(hex, needle))
  }

  /** Prefix predicate (LIKE 'p%') via prefix-truncated min/max compare — the
    * reference's CMap rough check shape (rc/Like.java:60-87). Truncation
    * avoids the off-by-one of a synthesized upper-bound sentinel: a file
    * matches iff min.take(|p|) <= p <= max.take(|p|). */
  case class Prefix(colName: String, prefix: String) extends FilePred {
    def mayMatch(fs: FileStats): Boolean = fs.stats.get(colName) match {
      case Some((Some(mn), Some(mx))) =>
        utf8Cmp(mn.take(prefix.length), prefix) <= 0 &&
          utf8Cmp(mx.take(prefix.length), prefix) >= 0
      case _ => true
    }
  }

  /** Global (min, max) of a NUMERIC indexed column from the manifest alone —
    * no data file is opened (the reference's InfoSegment metadata answer,
    * SURVEY.md §4.2). None when the column is unindexed or all-null in every
    * file. Feeds histQuantilesAuto's bin derivation: metadata supplies the
    * range, the sketch pass is the only scan. */
  def manifestBounds(dir: String, colName: String): Option[(Double, Double)] = {
    val m = readManifest(dir)
    val los = m.flatMap(_.stats.get(colName).flatMap(_._1))
      .map(java.lang.Double.parseDouble)
    val his = m.flatMap(_.stats.get(colName).flatMap(_._2))
      .map(java.lang.Double.parseDouble)
    if (los.isEmpty || his.isEmpty) None else Some((los.min, his.max))
  }
}
