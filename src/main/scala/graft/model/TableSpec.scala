package graft.model

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** IndexR-style table specification — the JSON schema layer
  * (TableSchema.java:17-69, ColumnSchema.java:27-33) mapped onto Spark.
  *
  * SQL types (SQLType.java:8-16) → Spark types per SURVEY.md §1.2:
  * INT/BIGINT/FLOAT/DOUBLE/VARCHAR/DATE/DATETIME map natively; TIME (no
  * Spark equivalent) is stored as IntegerType seconds-of-day with helper
  * codecs, as documented. The reference has no NULLs — columns carry
  * default values (ColumnSchema.java:31,48-53); we keep Spark-native
  * nullability and provide `applyDefaults` at ingest for parity.
  */
case class ColumnSpec(
    name: String,
    sqlType: String,
    index: Boolean = false,
    default: Option[String] = None) {

  def dataType: DataType = ColumnSpec.sparkType(sqlType)

  /** Typed default literal (reference semantics: 0 / "" when unspecified). */
  def defaultLiteral: org.apache.spark.sql.Column = {
    val raw = default.getOrElse(ColumnSpec.zeroOf(sqlType))
    sqlType.toLowerCase match {
      case "date" => to_date(lit(raw))
      case "datetime" => to_timestamp(lit(raw))
      case "time" => lit(TimeCodec.parse(raw))
      case _ => lit(raw).cast(dataType)
    }
  }
}

object ColumnSpec {
  def sparkType(sqlType: String): DataType = sqlType.toLowerCase match {
    case "int" => IntegerType
    case "bigint" | "long" => LongType
    case "float" => FloatType
    case "double" => DoubleType
    case "varchar" | "string" => StringType
    case "date" => DateType
    case "time" => IntegerType // seconds-of-day convention (documented gap)
    case "datetime" => TimestampType
    // native extension beyond the reference's 8 types (embedding columns;
    // the reference has no nested types — SURVEY.md §1.2)
    case "floatvector" => ArrayType(FloatType)
    case t => throw new IllegalArgumentException(s"unknown sqlType: $t")
  }
  def zeroOf(sqlType: String): String = sqlType.toLowerCase match {
    case "varchar" | "string" => ""
    case "date" => "1970-01-01"
    case "datetime" => "1970-01-01 00:00:00"
    case "time" => "00:00:00"
    case _ => "0"
  }
}

/** TIME ↔ seconds-of-day codec (DateTimeUtil.parseTime parity). */
object TimeCodec {
  def parse(hms: String): Int = {
    val p = hms.split(":")
    p(0).toInt * 3600 + (if (p.length > 1) p(1).toInt * 60 else 0) +
      (if (p.length > 2) p(2).toInt else 0)
  }
  def format(sec: Int): String = f"${sec / 3600}%02d:${sec / 60 % 60}%02d:${sec % 60}%02d"
}

case class TableSpec(
    name: String,
    columns: Seq[ColumnSpec],
    sortColumns: Seq[String] = Nil, // TableSchema.java:35 sort.columns
    grouping: Boolean = false, // rollup on (AggSchema.grouping)
    dims: Seq[String] = Nil,
    metrics: Seq[(String, String)] = Nil) {

  def structType: StructType =
    StructType(columns.map(c => StructField(c.name, c.dataType, nullable = true)))

  /** Reference no-null semantics: fill nulls with the column default. */
  def applyDefaults(df: DataFrame): DataFrame =
    columns.foldLeft(df) { (acc, c) =>
      if (acc.columns.contains(c.name))
        acc.withColumn(c.name, coalesce(col(c.name), c.defaultLiteral))
      else acc
    }

  def toJson: String = {
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val cols = columns.map { c =>
      val d = c.default.map(v => s""","default":${q(v)}""").getOrElse("")
      s"""{"name":${q(c.name)},"dataType":${q(c.sqlType)},"index":${c.index}$d}"""
    }.mkString("[", ",", "]")
    val ms = metrics.map { case (n, a) => s"""{"name":${q(n)},"agg":${q(a)}}""" }
      .mkString("[", ",", "]")
    s"""{"name":${q(name)},"columns":$cols,"sort.columns":${sortColumns.map(q).mkString("[", ",", "]")},
       |"grouping":$grouping,"dims":${dims.map(q).mkString("[", ",", "]")},"metrics":$ms}""".stripMargin
  }
}

object TableSpec {
  /** Parse the IndexR-style schema JSON (example_schema.json shape). Uses
    * json4s (ships with Spark) — no extra dependency. */
  def fromJson(json: String): TableSpec = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    implicit val fmt: Formats = DefaultFormats
    val j = JsonMethods.parse(json)
    val cols = (j \ "columns").children.map { c =>
      ColumnSpec(
        (c \ "name").extract[String],
        (c \ "dataType").extract[String],
        (c \ "index").extractOpt[Boolean].getOrElse(false),
        (c \ "default").extractOpt[String])
    }
    TableSpec(
      (j \ "name").extractOpt[String].getOrElse("table"),
      cols,
      (j \ "sort.columns").extractOpt[Seq[String]].getOrElse(Nil),
      (j \ "grouping").extractOpt[Boolean].getOrElse(false),
      (j \ "dims").extractOpt[Seq[String]].getOrElse(Nil),
      (j \ "metrics").children.map(m =>
        ((m \ "name").extract[String], (m \ "agg").extract[String])))
  }
}

/** Online schema update (UpdateColumnJob.java:73,322-328,350 parity): add /
  * delete / alter rewrite the table directory through a staging dir + swap.
  * At 100 TB these are embarrassingly parallel rewrites (map-only, no
  * shuffle); additive changes could instead use Parquet schema-merge, but
  * rewrite keeps every file self-describing like the reference.
  */
object SchemaUpdate {
  // staging + swap through the Hadoop FileSystem API so the rewrite works
  // on HDFS/cloud storage exactly as on a local disk (the reference's
  // UpdateColumnJob runs against HDFS segment dirs)
  private def rewrite(spark: SparkSession, dir: String)(f: DataFrame => DataFrame): Unit = {
    import org.apache.hadoop.fs.Path
    val staged = s"$dir.staged"
    f(spark.read.parquet(dir)).write.mode("overwrite").parquet(staged)
    val old = new Path(dir)
    val fs = old.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bak = new Path(s"$dir.old")
    if (fs.exists(bak)) fs.delete(bak, true)
    fs.rename(old, bak)
    fs.rename(new Path(staged), old)
    fs.delete(bak, true)
    ()
  }

  /** Add a column filled with its default value. */
  def addColumn(spark: SparkSession, dir: String, c: ColumnSpec): Unit =
    rewrite(spark, dir)(_.withColumn(c.name, c.defaultLiteral))

  def deleteColumn(spark: SparkSession, dir: String, name: String): Unit =
    rewrite(spark, dir)(_.drop(name))

  /** Alter a column's type (cast semantics). */
  def alterColumn(spark: SparkSession, dir: String, c: ColumnSpec): Unit =
    rewrite(spark, dir)(df => df.withColumn(c.name, col(c.name).cast(c.dataType)))
}
