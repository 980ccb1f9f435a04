package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, unix_micros}
import org.apache.spark.sql.types.{LongType, StructType, TimestampType}

/** Readers for the driver-provided TPC-H-ish parquet tables
  * (`/root/repo/TESTDATA.md`). Schemas are fixed by the driver; we read
  * them as-is so Catalyst's vectorized parquet reader + column pruning /
  * filter pushdown apply (the caller's `select`/`filter` reach the scan).
  *
  * At 100 TB these reads are the dominant cost: every query below selects
  * only the columns it needs so `ReadSchema` stays narrow, and all
  * predicates are plain column comparisons so they appear in
  * `PushedFilters`.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Reads `name` with its schema declared from the file's footer
    * (`StateFs.parquetFooterSchema`): a schema-less read runs a 1-task
    * inference job on every call, a declared one runs none. */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    graft.queries.StateFs.readParquet(spark, s"$sfDir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  /** events.ts is nanosecond parquet, whose read differs by Spark
    * version: ≤4.0 rejects it natively but honors the legacy
    * `nanosAsLong` flag (→ raw nanos BIGINT); 4.1+ ignores that flag and
    * reads TIMESTAMP_NTZ at microsecond precision. [[tsToNanos]] bridges
    * both to ONE downstream contract — ts = nanos-since-epoch BIGINT —
    * so every second/hour derivation stays integer division (doubles
    * would corrupt above 2^53 nanos; the µs→ns widening is exact and
    * second-floors agree with DuckDB's floor(epoch(ts)) either way). */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    tsToNanos(load(s, d, "events"))
  }

  /** The events schema exactly as THIS Spark version's parquet reader
    * yields it — readStream over the original files must declare the
    * reader's schema, then normalize via [[tsToNanos]]. The footer
    * declares the read, so this plans a scan and runs no job. */
  def eventsRawSchema(s: SparkSession, d: String): StructType = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    load(s, d, "events").schema
  }

  /** Normalize an events frame (batch or stream) to ts: nanos BIGINT.
    * The NTZ→timestamp cast is instant-preserving under the UTC session
    * timezone every entrypoint pins. */
  def tsToNanos(df: DataFrame): DataFrame = df.schema("ts").dataType match {
    case LongType => df
    case _ => df.withColumn("ts",
      unix_micros(col("ts").cast(TimestampType)) * 1000L)
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
