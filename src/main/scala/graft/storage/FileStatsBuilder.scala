package graft.storage

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, Literal}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.types.{DataType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** One segment file's manifest entry, folded row by row: the row count,
  * min/max of each indexed column, and the equality and trigram bloom bits
  * of the bloom and ngram columns. The segment writer folds each row as it
  * writes it (reference parity: IndexR builds its rough-set indices while it
  * packs a segment, never by re-reading it — SURVEY.md §3.2/§4.2,
  * rt/RealtimeSegment.java:215-308); [[Segments.buildManifest]] folds the
  * same builder over a directory written elsewhere.
  *
  * Min/max follow Spark's ordering for the column's type (ties keep the
  * first value, as Spark's `min`/`max` do) and are cast to string under the
  * session time zone, as `min(c).cast("string")` spells them. Bloom and
  * trigram bits come from [[Segments.bloomPositions]] and
  * [[Segments.ngramPositions]] over each value cast to string — the same
  * hash the driver-side check probes with. Distinct values are hashed once
  * per file (a bounded seen-set; a repeat only re-sets bits already set).
  *
  * `schema` is the schema of the rows folded; every named column must be in
  * it. Serializable, so partial folds of one file can be merged. */
final class FileStatsBuilder(schema: StructType, indexedCols: Seq[String],
    bloomCols: Seq[String], ngramCols: Seq[String], timeZone: String)
    extends Serializable {
  import FileStatsBuilder._

  private val statOrd = indexedCols.map(schema.fieldIndex).toArray
  private val statType: Array[DataType] = statOrd.map(schema(_).dataType)
  private val bloomOrd = bloomCols.map(schema.fieldIndex).toArray
  private val ngramOrd = ngramCols.map(schema.fieldIndex).toArray

  private var rows = 0L
  private val mins = new Array[Any](statOrd.length)
  private val maxs = new Array[Any](statOrd.length)
  // a bloom column with no non-null value in the file gets no bloom entry
  private val bloomSeen = new Array[Boolean](bloomOrd.length)
  private val blooms = Array.fill(bloomOrd.length)(new Array[Byte](Segments.BloomBits / 8))
  private val ngrams = Array.fill(ngramOrd.length)(new Array[Byte](Segments.NgramBits / 8))

  @transient private lazy val ordering = statType.map(TypeUtils.getInterpretedOrdering)
  @transient private lazy val bloomStr = bloomOrd.map(asString)
  @transient private lazy val ngramStr = ngramOrd.map(asString)
  @transient private lazy val bloomDone = bloomOrd.map(_ => new Seen[UTF8String])
  @transient private lazy val ngramDone = ngramOrd.map(_ => new Seen[UTF8String])
  @transient private lazy val trigramDone = ngramOrd.map(_ => new Seen[String])

  /** `col(c).cast("string")` for one column of a folded row. */
  private def asString(ord: Int): InternalRow => UTF8String = schema(ord).dataType match {
    case _: StringType => _.getUTF8String(ord)
    case dt =>
      val cast = Cast(BoundReference(ord, dt, nullable = true), StringType, Some(timeZone))
      r => cast.eval(r).asInstanceOf[UTF8String]
  }

  def rowCount: Long = rows

  def add(row: InternalRow): Unit = {
    rows += 1
    var i = 0
    while (i < statOrd.length) {
      if (!row.isNullAt(statOrd(i))) {
        val v = row.get(statOrd(i), statType(i))
        if (mins(i) == null || ordering(i).lt(v, mins(i))) mins(i) = InternalRow.copyValue(v)
        if (maxs(i) == null || ordering(i).gt(v, maxs(i))) maxs(i) = InternalRow.copyValue(v)
      }
      i += 1
    }
    i = 0
    while (i < bloomOrd.length) {
      if (!row.isNullAt(bloomOrd(i))) {
        val v = bloomStr(i)(row)
        bloomSeen(i) = true
        if (bloomDone(i).add(v)) setBits(blooms(i), Segments.bloomPositions(v.toString))
      }
      i += 1
    }
    i = 0
    while (i < ngramOrd.length) {
      if (!row.isNullAt(ngramOrd(i))) {
        val v = ngramStr(i)(row)
        if (v.numChars >= Segments.NgramN && ngramDone(i).add(v))
          Segments.cpTrigrams(v.toString).foreach { tri =>
            if (trigramDone(i).add(tri)) setBits(ngrams(i), Segments.ngramPositions(tri))
          }
      }
      i += 1
    }
  }

  /** Fold another partial fold of the same file into this one. */
  def merge(o: FileStatsBuilder): FileStatsBuilder = {
    rows += o.rows
    for (i <- statOrd.indices) {
      if (o.mins(i) != null && (mins(i) == null || ordering(i).lt(o.mins(i), mins(i))))
        mins(i) = o.mins(i)
      if (o.maxs(i) != null && (maxs(i) == null || ordering(i).gt(o.maxs(i), maxs(i))))
        maxs(i) = o.maxs(i)
    }
    for (i <- bloomOrd.indices) {
      bloomSeen(i) |= o.bloomSeen(i)
      or(blooms(i), o.blooms(i))
    }
    for (i <- ngramOrd.indices) or(ngrams(i), o.ngrams(i))
    this
  }

  /** The entry's JSON after its `"file"` field:
    * `"rows":n,"stats":{…}[,"blooms":{…}][,"ngrams":{…}]`. Absent stats (a
    * column all null in the file) are JSON null, never the string "null";
    * a bloom column all null in the file has no bloom; every ngram column
    * has a trigram bloom, all zero when no value holds a trigram (exact:
    * any ≥3-char needle prunes the file). */
  def entryBody: String = {
    def bound(v: Any, dt: DataType) =
      if (v == null) "null"
      else jq(Cast(Literal(v, dt), StringType, Some(timeZone)).eval().toString)
    val stats = indexedCols.indices.map { i =>
      s"""${jq(indexedCols(i))}:{"min":${bound(mins(i), statType(i))},""" +
        s""""max":${bound(maxs(i), statType(i))}}"""
    }
    val bloomJson = bloomCols.indices.filter(bloomSeen(_))
      .map(i => s"${jq(bloomCols(i))}:${jq(hex(blooms(i)))}")
    val ngramJson = ngramCols.indices.map(i => s"${jq(ngramCols(i))}:${jq(hex(ngrams(i)))}")
    s""""rows":$rows,"stats":{${stats.mkString(",")}}""" +
      (if (bloomJson.isEmpty) "" else s""","blooms":{${bloomJson.mkString(",")}}""") +
      (if (ngramJson.isEmpty) "" else s""","ngrams":{${ngramJson.mkString(",")}}""")
  }
}

object FileStatsBuilder {
  /** A JSON string literal. */
  private[storage] def jq(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  private def setBits(bits: Array[Byte], ps: Seq[Int]): Unit =
    ps.foreach(p => bits(p / 8) = (bits(p / 8) | (1 << (p % 8))).toByte)

  private def or(into: Array[Byte], from: Array[Byte]): Unit =
    for (j <- into.indices) into(j) = (into(j) | from(j)).toByte

  private def hex(bits: Array[Byte]): String = {
    val sb = new StringBuilder(bits.length * 2)
    bits.foreach(b => sb.append(Character.forDigit((b >> 4) & 0xf, 16))
      .append(Character.forDigit(b & 0xf, 16)))
    sb.toString
  }

  /** Values already hashed into this file's bloom. Bounded: past `Cap`
    * entries it starts over, which costs only a re-hash, never a bit. */
  private final class Seen[T] {
    private val set = new mutable.HashSet[T]
    private val Cap = 1 << 16
    /** True when `v` is new (and now recorded). Strings are copied: a
      * folded row's UTF8String points into a reused buffer. */
    def add(v: T): Boolean =
      if (set.contains(v)) false
      else {
        if (set.size >= Cap) set.clear()
        set += (v match {
          case u: UTF8String => u.copy().asInstanceOf[T]
          case x => x
        })
        true
      }
  }
}
