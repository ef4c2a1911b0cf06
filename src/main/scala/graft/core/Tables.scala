package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}

/** Loaders for the driver-generated fixture tables (TESTDATA.md).
  *
  * Each table is a single parquet file under `<dir>/<name>.parquet`.
  * Schemas are read from the parquet footer once per session and table
  * [[Fingerprint]], so later reads plan without Spark's schema-inference
  * job. Filters and column pruning push
  * down to the scan via the parquet data source (verify with
  * `.explain("formatted")` → `PushedFilters`, `ReadSchema`).
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private val schemas: Map[String, SessionMemo[StructType]] =
    all.map(t => t -> SessionMemo[StructType](s"schema.$t", t)(_ => ())).toMap

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    spark.read.schema(schemas(name)(spark, dir)(spark.read.parquet(path).schema)).parquet(path)
  }

  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  /** `events.ts` normalization — the fixture's physical timestamp type
    * has varied across driver generations, so handle every shape and
    * always hand downstream a session-local TIMESTAMP (micros):
    *
    *  - nanos TIMESTAMP(NANOS): Spark's vectorized reader rejects it;
    *    with `spark.sql.legacy.parquet.nanosAsLong=true` (set by our
    *    sessions) it arrives as a long — convert via `div 1000`
    *    (lossless on the fixtures: every value is micro-aligned,
    *    verified epoch_ns % 1000 == 0).
    *  - micros without UTC adjustment (`timestamp[us]`, current
    *    generation): Spark reads TIMESTAMP_NTZ, which time functions
    *    like `unix_micros` reject. Sessions pin
    *    spark.sql.session.timeZone=UTC, so a cast to TIMESTAMP maps the
    *    wall-clock value to the identical micros instant DuckDB sees
    *    when it reads the same naive timestamp — bit-exact parity.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = load(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
