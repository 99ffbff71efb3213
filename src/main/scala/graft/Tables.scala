package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver testdata tables (see /root/repo/TESTDATA.md).
  *
  * All reads are plain parquet scans so Catalyst pushes filters and prunes
  * columns down to the file source (verify with `.explain("formatted")`:
  * `PushedFilters` / `ReadSchema` should reflect the query, not the table).
  * At cluster scale the same code reads a partitioned directory tree; no
  * code change is needed because nothing here hardcodes file counts.
  */
object Tables {
  val all: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** The reader setting events.parquet needs: Spark's parquet reader
    * rejects its TIMESTAMP(NANOS) column (PARQUET_TYPE_ILLEGAL) unless it
    * reads nanos as long. */
  val NanosAsLong: (String, String) =
    "spark.sql.legacy.parquet.nanosAsLong" -> "true"

  /** events.parquet, read on a session derived with [[NanosAsLong]] (the
    * caller's session is never written; the frame carries the setting)
    * and truncated to a microsecond timestamp — the same value DuckDB
    * produces for `CAST(ts AS TIMESTAMP)` on the nanosecond column.
    */
  def events(spark: SparkSession, dir: String): DataFrame =
    normalizeEventTs(Sessions.scoped(spark, NanosAsLong)
      .read.parquet(s"$dir/events.parquet"))

  /** Branch on what the parquet reader produced for `ts`: NANOS columns
    * surface as long (convert by truncation, same as DuckDB's ns→µs cast);
    * micro/milli files arrive as native timestamps and pass through with a
    * plain cast. Shared by the batch reader above and the streaming file
    * source ([[graft.streaming.Streaming.fileEventSource]]) so a fixture
    * regenerated with a different timestamp physical type can never break
    * one path but not the other.
    */
  def normalizeEventTs(raw: DataFrame): DataFrame =
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case _ => raw.withColumn("ts", col("ts").cast("timestamp"))
    }
}
