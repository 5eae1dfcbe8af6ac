package graftbench

import org.apache.spark.sql.Row

/** A small JSON writer, and the canonical form of a result row that the
  * checker compares against DuckDB. Tagged strings carry the types JSON
  * lacks: `#d:` decimal text, `#t:` epoch microseconds, `#D:` epoch days,
  * `#f:` a non-finite double, `#b:` hex bytes. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) str("#f:" + d) else java.lang.Double.toString(d)

  /** Any of: null, String, Boolean, Int, Long, Double, Seq, Map[String, _]. */
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case o => throw new IllegalArgumentException(s"no JSON form for ${o.getClass}")
  }

  /** Canonical JSON of one result value. */
  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case b: Byte => b.toString
    case s: Short => s.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case f: Float => num(f.toDouble)
    case d: Double => num(d)
    case d: java.math.BigDecimal => str("#d:" + d.toPlainString)
    case d: scala.math.BigDecimal => str("#d:" + d.bigDecimal.toPlainString)
    case t: java.sql.Timestamp =>
      str("#t:" + (Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000))
    case t: java.time.Instant =>
      str("#t:" + (t.getEpochSecond * 1000000L + t.getNano / 1000))
    case t: java.time.LocalDateTime =>
      value(t.toInstant(java.time.ZoneOffset.UTC))
    case d: java.sql.Date => str("#D:" + d.toLocalDate.toEpochDay)
    case d: java.time.LocalDate => str("#D:" + d.toEpochDay)
    case b: Array[Byte] => str("#b:" + b.map("%02x".format(_)).mkString)
    case r: Row => r.toSeq.map(value).mkString("[", ",", "]")
    case m: collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => "[" + value(k) + "," + value(x) + "]" }
        .sorted.mkString("[", ",", "]")
    case s: Iterable[_] => s.map(value).mkString("[", ",", "]")
    case o => str("#?:" + o.toString)
  }

  def row(r: Row): String = value(r)

  /** Order-insensitive digest of a result: equal for equal row multisets. */
  def digest(rows: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-1")
    rows.sorted.foreach { r => md.update(r.getBytes("UTF-8")); md.update('\n'.toByte) }
    md.digest().map("%02x".format(_)).mkString
  }
}
