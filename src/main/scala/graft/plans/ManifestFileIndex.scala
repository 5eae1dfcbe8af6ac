package graft.plans

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.execution.datasources.{FileIndex, PartitionDirectory}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.storage.Segments

/** Catalyst-integrated segment-level pruning: a FileIndex that consults the
  * graft manifest (per-file min/max, graft.storage.Segments) during file
  * listing, so `spark.read → filter` skips whole segment files before
  * Parquet ever opens a footer.
  *
  * This is the reference's level-1 "rough set" index made native
  * (ColumnNode / InfoSegment pruning, SURVEY.md §4.2): Parquet row-group
  * stats already give level-2; this restores segment-level skipping inside
  * the optimizer, visible in the plan's file listing rather than bolted on
  * outside. Tier (c) of the custom-op ladder — justified because file
  * listing genuinely cannot be expressed with public composable operators.
  *
  * Filter translation is conservative (tri-state RSValue semantics): any
  * expression shape we do not recognize simply prunes nothing. `toRange`
  * is the one place a scan's filters become manifest checks; the index is
  * opened only through `format("graft")` (graft.sources.GraftSource).
  */
class ManifestFileIndex(spark: SparkSession, dir: String) extends FileIndex {

  /** Manifest entries for files that actually exist on disk — exactly the
    * set an unfiltered listFiles would scan (for ManifestAggregates). */
  def effectiveStats: Seq[Segments.FileStats] =
    manifest.filter(fs => statuses.contains(normalize(fs.file)))

  /** Columns with min/max recorded in EVERY effective file — only these can
    * answer a metadata min/max (a file without the stat hides values). */
  def indexedColumns: Set[String] = {
    val eff = effectiveStats
    if (eff.isEmpty) Set.empty
    else eff.map(_.stats.keySet).reduce(_ intersect _)
  }

  private def normalize(p: String): String = new Path(p).toUri.getPath

  private var manifest: Seq[Segments.FileStats] = Segments.readManifest(dir)

  private def listStatuses(): Map[String, FileStatus] = {
    val path = new Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(path).filter(s => s.isFile && !s.getPath.getName.startsWith("_"))
      .map(s => normalize(s.getPath.toString) -> s).toMap
  }
  private var statuses: Map[String, FileStatus] = listStatuses()

  override def rootPaths: Seq[Path] = Seq(new Path(dir))
  override def partitionSchema: StructType = StructType(Nil)
  override def sizeInBytes: Long = statuses.values.map(_.getLen).sum
  override def inputFiles: Array[String] = statuses.keys.toArray
  override def refresh(): Unit = {
    manifest = Segments.readManifest(dir)
    statuses = listStatuses()
  }

  /** literal → the string space the manifest stats were cast into. */
  private def litStr(l: Literal): Option[(String, Boolean)] = (l.value, l.dataType) match {
    case (null, _) => None
    case (u: UTF8String, _) => Some((u.toString, false))
    case (n, _: NumericType) => Some((n.toString, true))
    // a date or timestamp literal holds Int days / Long micros, not the
    // string its manifest stats were cast to: conservatively no pruning
    case _ => None
  }

  /** Maximal literal runs of a LIKE pattern (between unescaped `%`/`_`),
    * escape-aware — each must appear as a contiguous substring of any
    * matching value. */
  private def likeChunks(pattern: String, esc: Char): Seq[String] = {
    val out = Seq.newBuilder[String]
    val sb = new StringBuilder
    var i = 0
    while (i < pattern.length) {
      val ch = pattern.charAt(i)
      if (ch == esc && i + 1 < pattern.length) { sb.append(pattern.charAt(i + 1)); i += 2 }
      else if (ch == '%' || ch == '_') {
        if (sb.nonEmpty) { out += sb.toString; sb.clear() }
        i += 1
      } else { sb.append(ch); i += 1 }
    }
    if (sb.nonEmpty) out += sb.toString
    out.result()
  }

  private def toRange(e: Expression): Option[Segments.FilePred] = e match {
    // Equals is range + bloom: point lookups on unsorted string columns
    // prune via the per-file equality bloom when the manifest carries one
    case EqualTo(a: Attribute, l: Literal) =>
      litStr(l).map { case (v, num) => Segments.Equals(a.name, v, num) }
    case EqualTo(l: Literal, a: Attribute) => toRange(EqualTo(a, l))
    case GreaterThan(a: Attribute, l: Literal) =>
      litStr(l).map { case (v, num) => Segments.Range(a.name, Some(v), None, num) }
    case GreaterThanOrEqual(a: Attribute, l: Literal) =>
      litStr(l).map { case (v, num) => Segments.Range(a.name, Some(v), None, num) }
    case LessThan(a: Attribute, l: Literal) =>
      litStr(l).map { case (v, num) => Segments.Range(a.name, None, Some(v), num) }
    case LessThanOrEqual(a: Attribute, l: Literal) =>
      litStr(l).map { case (v, num) => Segments.Range(a.name, None, Some(v), num) }
    // flipped operand order
    case GreaterThan(l: Literal, a: Attribute) => toRange(LessThan(a, l))
    case GreaterThanOrEqual(l: Literal, a: Attribute) => toRange(LessThanOrEqual(a, l))
    case LessThan(l: Literal, a: Attribute) => toRange(GreaterThan(a, l))
    case LessThanOrEqual(l: Literal, a: Attribute) => toRange(GreaterThanOrEqual(a, l))
    // LIKE 'prefix%' arrives as StartsWith after Catalyst simplification;
    // prefix-prune by comparing against prefix-TRUNCATED min/max — the
    // reference's CMap rough check (rc/Like.java:60-87). A sentinel upper
    // bound (prefix + U+FFFF) would wrongly prune files whose matching
    // strings contain U+FFFF right after the prefix. The prefix is also a
    // substring, so the trigram bloom tightens the check where built.
    case StartsWith(a: Attribute, l: Literal) =>
      litStr(l).collect { case (p, false) => Segments.AndPred(Seq(
        Segments.Prefix(a.name, p), Segments.ContainsPred(a.name, p))) }
    // LIKE '%x%' / LIKE '%x' simplify to Contains / EndsWith: substring
    // rough check against the per-file character-trigram bloom — the CMap
    // behavior SURVEY §4.2 previously conceded (rc/Like.java:88-110)
    case Contains(a: Attribute, l: Literal) =>
      litStr(l).collect { case (v, false) => Segments.ContainsPred(a.name, v) }
    case EndsWith(a: Attribute, l: Literal) =>
      litStr(l).collect { case (v, false) => Segments.ContainsPred(a.name, v) }
    // general multi-wildcard LIKE ('a%b%c'): every maximal literal chunk
    // between wildcards must appear as a substring of a matching value, so
    // each prunes independently through the trigram bloom
    case Like(a: Attribute, l: Literal, esc) =>
      litStr(l).collect { case (p, false) =>
        Segments.AndPred(likeChunks(p, esc).map(Segments.ContainsPred(a.name, _)))
      }.filter(_.ps.nonEmpty)
    case In(a: Attribute, vs) if vs.nonEmpty && vs.forall(_.isInstanceOf[Literal]) =>
      val parsed = vs.map(v => litStr(v.asInstanceOf[Literal]))
      if (parsed.exists(_.isEmpty)) None
      else {
        val strs = parsed.flatten
        // per-value Equals (bloom-aware), disjunction — strictly tighter
        // than the old min..max span over the IN-list
        Some(Segments.InSet(a.name, strs.map(_._1), strs.head._2))
      }
    // boolean algebra (RSValue tri-state parity): AND prunes with whichever
    // side translates (A∧B ⊆ A, still conservative); OR needs both sides;
    // NOT(=) prunes only single-valued files
    case And(l, r) =>
      (toRange(l), toRange(r)) match {
        case (Some(a), Some(b)) => Some(Segments.AndPred(Seq(a, b)))
        case (a, b) => a.orElse(b)
      }
    case Or(l, r) =>
      for (a <- toRange(l); b <- toRange(r)) yield Segments.OrPred(Seq(a, b))
    case Not(EqualTo(a: Attribute, l: Literal)) =>
      litStr(l).map { case (v, num) => Segments.NotEquals(a.name, v, num) }
    case Not(EqualTo(l: Literal, a: Attribute)) => toRange(Not(EqualTo(a, l)))
    // NOT IN (v1..vk) ≡ AND of <> vi — prunes files constant at any vi
    case Not(In(a: Attribute, vs)) if vs.nonEmpty && vs.forall(_.isInstanceOf[Literal]) =>
      val parsed = vs.map(v => litStr(v.asInstanceOf[Literal]))
      if (parsed.exists(_.isEmpty)) None
      else Some(Segments.AndPred(parsed.flatten.map { case (v, num) =>
        Segments.NotEquals(a.name, v, num) }))
    case _ => None
  }

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val ranges = dataFilters.flatMap(toRange)
    val kept = manifest.filter(fs => ranges.forall(_.mayMatch(fs)))
      .flatMap(fs => statuses.get(normalize(fs.file)))
    Seq(PartitionDirectory(InternalRow.empty, kept.toArray))
  }
}
