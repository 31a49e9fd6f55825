package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-generated synthetic tables
  * (`/root/testdata/sf*`; see TESTDATA.md). One parquet file per table.
  *
  * All loads are plain `spark.read.parquet` so Catalyst gets full
  * pushdown/pruning; at cluster scale these would be partitioned or
  * bucketed writes, but reads look identical.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  // Scan relations cached per (session, path): repeated
  // `spark.read.parquet` re-lists files and re-reads footers on every
  // query build — a fixed planning cost per query that grows with file
  // count (guide §6 file-listing caching; same policy as the quad
  // store's read cache). DataFrames are immutable, so sharing the
  // resolved relation never shares results; the testdata tables are
  // static for a session's lifetime.
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    Workspace.memo(("table", spark, s"$dir/$name.parquet")) {
      spark.read.parquet(s"$dir/$name.parquet")
    }

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** events.ts has shipped in three parquet shapes across testdata
    * generations; normalize all of them to a microsecond TimestampType:
    *
    *  - TIMESTAMP(NANOS): Spark has no nanos type; with
    *    `spark.sql.legacy.parquet.nanosAsLong` it surfaces as LongType
    *    epoch-nanos, which we truncate to micros (matching DuckDB's cast
    *    of TIMESTAMP_NS to TIMESTAMP).
    *  - TIMESTAMP(MICROS, isAdjustedToUTC=false): Spark 4 reads this as
    *    TIMESTAMP_NTZ; the session TZ is pinned to UTC
    *    (GraftSession), so casting to TimestampType is a wall-clock
    *    identity.
    *  - TIMESTAMP(MICROS, isAdjustedToUTC=true): already TimestampType.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    // Set here (runtime conf) rather than at session build so it holds
    // under the driver's own SparkSession too.
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = load(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  }
}
