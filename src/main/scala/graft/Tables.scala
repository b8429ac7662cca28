package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

import graft.sources.Readers

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * All readers go through [[sources.Readers.parquet]] (the schema is
  * inferred once per file snapshot) so Catalyst pushes filters and
  * prunes columns into the scan — the 100 TB path is the same code,
  * just a different directory.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def path(dir: String, name: String): String = s"$dir/$name.parquet"

  /** Every table loader normalizes TIMESTAMP_NTZ columns to
    * session-local TimestampType (exact under the pinned UTC session
    * TZ): pandas writes parquet timestamps with isAdjustedToUTC=false
    * by default, so ANY regenerated table can silently flip its
    * timestamp columns to NTZ — the round-6 `events.ts` regression
    * class. Normalizing here (not per-consumer) means `orders
    * .o_orderdate`, `lineitem.l_shipdate` and future timestamp
    * columns can never hit the NTZ-rejecting functions
    * (`unix_micros`, typed timestamp comparisons) at analysis. */
  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val raw = Readers.parquet(spark, path(dir, name))
    val ntzCols = raw.schema.fields.collect {
      case f if f.dataType.isInstanceOf[TimestampNTZType] => f.name
    }
    ntzCols.foldLeft(raw)((df, c) => df.withColumn(c, col(c).cast(TimestampType)))
  }

  /** `events.ts` has one extra legacy encoding beyond what [[apply]]
    * normalizes: parquet TIMESTAMP(NANOS) under
    * `spark.sql.legacy.parquet.nanosAsLong=true` arrives as a long of
    * epoch-nanos — convert with FLOOR integer division (no double
    * round-trip: epoch-nanos exceed 2^53, and `DIV` alone truncates
    * toward zero, which would round pre-1970 sub-microsecond values
    * the wrong way). NTZ/LTZ drift is handled generically in
    * [[apply]]; TablesSpec exercises all three encodings. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val raw = apply(spark, dir, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(
          expr("ts DIV 1000 - CASE WHEN ts % 1000 < 0 THEN 1 ELSE 0 END")))
      case _ => raw
    }
  }

  def lineitem(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "region")
  def documents(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "embeddings")
}
