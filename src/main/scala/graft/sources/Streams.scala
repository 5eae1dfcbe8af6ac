package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Streaming source constructors — the Fetcher family (SURVEY.md §2.C:
  * Kafka08Fetcher / CsvFetcher / ConsoleFetcher / TestFetcher) re-expressed
  * as Structured Streaming sources. The kafka and file sources yield a
  * streaming DataFrame with a single string `json` column, which
  * graft.streaming.Realtime.decode/start consume uniformly.
  */
object Streams {

  /** Kafka wire records (binary key/value + topic/partition/offset
    * metadata — the schema the spark-sql-kafka source emits) → the single
    * string `json` column the whole ingest chain consumes. Factored out of
    * [[kafka]] so the projection is exercised end-to-end (decode → rollup →
    * compact → hybrid, StreamingSpec) against a kafka-schema-shaped stream
    * even in environments without the connector jar. */
  def kafkaValueToJson(records: DataFrame): DataFrame =
    records.selectExpr("CAST(value AS STRING) AS json")

  /** Kafka topic → json-lines stream (Kafka08Fetcher.java:36-80 parity).
    * Requires the spark-sql-kafka connector jar on the cluster classpath
    * (standard Spark distribution add-on; not bundled in this build env, so
    * the `format("kafka")` registration itself is exercised in deployment —
    * everything downstream of load() is covered by StreamingSpec via
    * [[kafkaValueToJson]]). */
  def kafka(spark: SparkSession, bootstrapServers: String, topic: String,
      startingOffsets: String = "latest"): DataFrame =
    spark.readStream
      .format("kafka")
      .option("kafka.bootstrap.servers", bootstrapServers)
      .option("subscribe", topic)
      .option("startingOffsets", startingOffsets)
      .load()
      .transform(kafkaValueToJson)

  /** Directory of json-lines files (CsvFetcher-style file tailing; each
    * appended file becomes part of the next micro-batch). */
  def jsonFiles(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.text(dir).toDF("json")

  /** Synthetic rate source (ConsoleFetcher/TestFetcher stand-in). */
  def rate(spark: SparkSession, rowsPerSecond: Int = 100): DataFrame =
    spark.readStream.format("rate")
      .option("rowsPerSecond", rowsPerSecond.toString).load()
}
