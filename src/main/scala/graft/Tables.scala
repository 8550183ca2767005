package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Readers for the driver test tables (parquet under /root/testdata/sfN/).
  *
  * One function per table so every query goes through a single, schema-stable
  * entry point. The `events` table's `ts` physical encoding has varied across
  * fixture generations (parquet TIMESTAMP(NANOS) read as raw long nanos vs
  * native TIMESTAMP(MICROS) without timezone), so the reader branches on the
  * loaded type instead of hardcoding one encoding; both paths land on a
  * session-UTC microsecond TIMESTAMP, matching DuckDB's truncation semantics.
  * Every table's schema comes from one driver-side footer read
  * ([[graft.sources.ParquetFiles]]), so building a reader launches no job.
  */
object Tables {
  private def p(spark: SparkSession, dir: String, name: String): DataFrame =
    graft.sources.ParquetFiles.read(spark, s"$dir/$name.parquet")

  def region(spark: SparkSession, dir: String): DataFrame   = p(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame   = p(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame = p(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = p(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame     = p(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame   = p(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame = p(spark, dir, "lineitem")
  def documents(spark: SparkSession, dir: String): DataFrame  = p(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = p(spark, dir, "embeddings")

  /** events with `ts` as a microsecond TIMESTAMP, whatever the file stores. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = p(spark, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // legacy fixtures: TIMESTAMP(NANOS) surfaced as raw long nanos
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ =>
        // native timestamp (micros); NTZ -> session-UTC TIMESTAMP for oracle parity
        raw.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
    }
  }
}
