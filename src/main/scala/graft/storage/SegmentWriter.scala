package graft.storage

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, TaskAttemptContext}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.orc.OrcFileFormat
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

/** The segment writer: Parquet or ORC whose per-file `OutputWriter` folds
  * every row it writes into a [[FileStatsBuilder]]. On close it leaves the
  * file's manifest entry as a `_`-prefixed sidecar beside the data file, in
  * the task-attempt directory, so the sidecar is committed or discarded with
  * its file; readers skip `_` files. [[Segments.save]] assembles the
  * manifest from the committed sidecars and deletes them.
  *
  * What to index travels as write options ([[SegmentWriter.options]]),
  * with the session time zone the stats are stringified under. */
private[storage] object SegmentWriter {
  /** Sidecar name = this prefix + the data file's name. */
  val SidecarPrefix = "_graft_entry."

  private val IndexedOpt = "graft.manifest.indexed"
  private val BloomOpt = "graft.manifest.blooms"
  private val NgramOpt = "graft.manifest.ngrams"
  private val TimeZoneOpt = "graft.manifest.timezone"

  /** The data source class that writes `format` ("parquet" or "orc"). */
  def formatClass(format: String): String = format match {
    case "parquet" => classOf[SegmentParquetFormat].getName
    case "orc" => classOf[SegmentOrcFormat].getName
    case f => throw new IllegalArgumentException(s"segment format must be parquet or orc, got $f")
  }

  def options(spark: SparkSession, indexedCols: Seq[String], bloomCols: Seq[String],
      ngramCols: Seq[String]): Map[String, String] = {
    def enc(cs: Seq[String]) = cs.map(FileStatsBuilder.jq).mkString("[", ",", "]")
    Map(IndexedOpt -> enc(indexedCols), BloomOpt -> enc(bloomCols), NgramOpt -> enc(ngramCols),
      TimeZoneOpt -> spark.conf.get("spark.sql.session.timeZone"))
  }

  def wrap(inner: OutputWriterFactory, options: Map[String, String]): OutputWriterFactory = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    implicit val fmt: Formats = DefaultFormats
    def dec(k: String) = JsonMethods.parse(options(k)).extract[List[String]]
    new Factory(inner, dec(IndexedOpt), dec(BloomOpt), dec(NgramOpt), options(TimeZoneOpt))
  }

  private final class Factory(inner: OutputWriterFactory, indexedCols: Seq[String],
      bloomCols: Seq[String], ngramCols: Seq[String], timeZone: String)
      extends OutputWriterFactory {
    override def getFileExtension(context: TaskAttemptContext): String =
      inner.getFileExtension(context)

    override def newInstance(path: String, dataSchema: StructType,
        context: TaskAttemptContext): OutputWriter = {
      val fold = new FileStatsBuilder(dataSchema, indexedCols, bloomCols, ngramCols, timeZone)
      val out = inner.newInstance(path, dataSchema, context)
      new OutputWriter {
        override def write(row: InternalRow): Unit = { out.write(row); fold.add(row) }
        override def path(): String = out.path()
        // an empty file gets no manifest entry: it has no rows to prune
        override def close(): Unit = {
          out.close()
          if (fold.rowCount > 0) {
            val p = new Path(out.path())
            val side = new Path(p.getParent, SidecarPrefix + p.getName)
            val o = side.getFileSystem(context.getConfiguration).create(side, true)
            try o.write(fold.entryBody.getBytes(UTF_8)) finally o.close()
          }
        }
      }
    }
  }
}

/** Parquet through the segment writer (see [[SegmentWriter]]). */
class SegmentParquetFormat extends ParquetFileFormat {
  override def prepareWrite(sparkSession: SparkSession, job: Job,
      options: Map[String, String], dataSchema: StructType): OutputWriterFactory =
    SegmentWriter.wrap(super.prepareWrite(sparkSession, job, options, dataSchema), options)
}

/** ORC through the segment writer (see [[SegmentWriter]]). */
class SegmentOrcFormat extends OrcFileFormat {
  override def prepareWrite(sparkSession: SparkSession, job: Job,
      options: Map[String, String], dataSchema: StructType): OutputWriterFactory =
    SegmentWriter.wrap(super.prepareWrite(sparkSession, job, options, dataSchema), options)
}
