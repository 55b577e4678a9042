package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.ParquetTables

/** Typed loaders for the driver-generated testdata tables.
  *
  * The reference engine's scan layer (neynar_parquet_importer/s3.py — chunked
  * parallel S3 download + pyarrow row-group iteration) is re-expressed as
  * Spark's distributed parquet scan: on a real cluster it already does
  * parallel ranged reads from object storage, with predicate pushdown and
  * column pruning that the reference lacks entirely. Each load opens its
  * table through [[graft.sources.ParquetTables.open]], which takes the
  * schema from one driver-side footer read, so building a query launches no
  * schema-inference job.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    if (name == "events") {
      // Older testdata generations write events.ts as parquet
      // TIMESTAMP(NANOS); Spark 4 only reads that behind this flag (as an
      // epoch-nanos long). Newer generations write TIMESTAMP(MICROS), which
      // reads natively as TIMESTAMP_NTZ. Set lazily so callers with a
      // driver-owned session still work; `events` below normalizes both.
      // Set before the open: the footer's schema is converted under it.
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    }
    ParquetTables.open(spark, s"$dir/$name.parquet")
  }

  /** events with `ts_us` (epoch microseconds) added — the cross-engine-safe
    * timestamp representation (DuckDB oracle uses epoch_us(ts), which yields
    * the same micros for both physical encodings).
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val df = load(spark, dir, "events")
    val tsUs = df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => expr("ts div 1000") // epoch nanos
      case _: org.apache.spark.sql.types.TimestampNTZType =>
        // NTZ→LTZ cast interprets the wall time in the session timezone;
        // naive micros == UTC micros only under UTC, so pin it here rather
        // than trust the caller's session config.
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        unix_micros(col("ts").cast("timestamp"))
      case _ => unix_micros(col("ts"))
    }
    df.withColumn("ts_us", tsUs)
  }

  def lineitem(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "supplier")
  def nation(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "region")
  def part(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "part")
  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")
}
