package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.expr

/** Loaders for the driver-generated parquet fixtures (TESTDATA.md, FIXTURES.md).
  *
  * Scale note (100 TB): all queries take the scan directory as a parameter and
  * read parquet directly, so partition pruning / predicate pushdown are owned
  * by the parquet source. Nothing is cached or collected here.
  */
object Tables {
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def lineitem(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "region")
  /** `events.ts` has shipped as either parquet TIMESTAMP(NANOS) or
    * TIMESTAMP(MICROS) across fixture generations. Spark's parquet reader
    * rejects NANOS outright (PARQUET_TYPE_ILLEGAL) unless read as raw nano
    * longs (legacy conf) — in that case floor-divide to microseconds with
    * integer `div`, not `/`: double division loses precision above 2^53 and
    * epoch-nanos are ~1.7e18. The fixture is µs-aligned so this is lossless,
    * and DuckDB coerces the same column to µs TIMESTAMP, keeping oracle
    * parity exact. MICROS fixtures arrive as a timestamp already — just
    * normalize to NTZ. Branch on the observed read type so both fixture
    * generations load identically. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = load(spark, dir, "events")
    // Only the two known fixture shapes pass through; anything else (string,
    // plain INT64 without the nanos conf, a future DATE column...) fails
    // LOUDLY here instead of silently casting to NTZ and reading garbage —
    // the repo's fail-loudly convention for fixture drift.
    val tsExpr = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => expr("timestamp_micros(ts div 1000)")
      case org.apache.spark.sql.types.TimestampType |
           org.apache.spark.sql.types.TimestampNTZType => expr("ts")
      case other => throw new IllegalStateException(
        s"events.ts has unexpected parquet type $other — fixture drift; " +
          "extend Tables.events deliberately rather than casting blind")
    }
    raw.withColumn("ts", tsExpr.cast("timestamp_ntz"))
  }
  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")
}
