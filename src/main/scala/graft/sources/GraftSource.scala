package graft.sources

import org.apache.spark.sql.SQLContext
import org.apache.spark.sql.execution.datasources.HadoopFsRelation
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.sources.{BaseRelation, DataSourceRegister, RelationProvider}
import org.apache.spark.sql.types.StructType

import graft.plans.ManifestFileIndex
import graft.storage.Segments

/** `spark.read.format("graft").load(segmentDir)` — the named-format entry
  * the reference exposes as `format("indexr")` (SURVEY.md §3.2,
  * indexr-spark IndexRFileFormat registration), and the one way to open a
  * segment directory: the relation is backed by a [[ManifestFileIndex]], so
  * per-file min/max + bloom + trigram pruning happens inside Catalyst file
  * listing, then the native parquet/orc reader takes over (column pruning,
  * row-group stats, row-group blooms). Registered via META-INF/services, so
  * pure-SQL sessions reach it with nothing but the format name — e.g.
  * `CREATE TABLE t USING graft LOCATION '/data/t'`. */
class GraftSource extends RelationProvider with DataSourceRegister {
  override def shortName(): String = "graft"

  override def createRelation(ctx: SQLContext,
      parameters: Map[String, String]): BaseRelation = {
    val dir = parameters.getOrElse("path",
      throw new IllegalArgumentException("format(\"graft\") needs a path"))
    val spark = ctx.sparkSession
    val fmt = Segments.manifestFormat(dir)
    val fileFormat = fmt match {
      case "orc" => new org.apache.spark.sql.execution.datasources.orc.OrcFileFormat
      case _ => new ParquetFileFormat
    }
    val schema = spark.read.format(fmt).load(dir).schema
    HadoopFsRelation(
      location = new ManifestFileIndex(spark, dir),
      partitionSchema = StructType(Nil),
      dataSchema = schema,
      bucketSpec = None,
      fileFormat = fileFormat,
      options = Map.empty)(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession])
  }
}
