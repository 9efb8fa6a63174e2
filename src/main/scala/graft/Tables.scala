package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loaders for the driver-generated TPC-H-ish testdata (see TESTDATA.md).
  *
  * Design notes for 100 TB scale: every loader returns a plain parquet
  * scan DataFrame so Catalyst keeps predicate pushdown + column pruning;
  * no DATA is ever cached or collected here. The loaded frame (logical
  * plan + resolved file index) IS a stored artifact: [[load]] memoizes
  * it in [[StoredArtifacts]] as kind `table` over (dir, name).
  * `spark.read.parquet` runs file listing + schema inference as Spark
  * jobs on every call, so an uncached loader re-lists the same static
  * directory for each of the ~90 gate builds — and a merely-constructed
  * plan should run zero jobs (PlanSpec pins that). The memo pins the
  * file listing for the session, which is correct for immutable
  * testdata (and for any production snapshot read); a moving directory
  * needs [[StoredArtifacts.clear]], a fresh session or an explicit new
  * read.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def path(dir: String, name: String): String = s"$dir/$name.parquet"

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    StoredArtifacts.getOrBuild("table", spark, dir, name) {
      val df = spark.read.parquet(path(dir, name))
      normalizeNtz(if (name == "events") normalizeEvents(df) else df)
    }

  /** The generator writes timestamps with isAdjustedToUTC=false, which
    * Spark reads as TIMESTAMP_NTZ while every engine expression
    * (to_timestamp literals, date_trunc buckets, window()) produces
    * session-zoned TimestampType — mixing the two fails analysis
    * (TypeCoercion refuses the implicit cast). The session timezone is
    * pinned to UTC (util.configure), so casting NTZ → TimestampType
    * preserves every wall-clock value bit-for-bit, and DuckDB reads
    * the identical naive values on the oracle side.
    */
  private def normalizeNtz(df: DataFrame): DataFrame = {
    val ntz = df.schema.fields.filter(_.dataType == TimestampNTZType)
    ntz.foldLeft(df)((d, f) =>
      d.withColumn(f.name, col(f.name).cast(TimestampType)))
  }

  /** events.ts is nanosecond parquet. Depending on the session conf Spark
    * reads it either as TimestampType (micros, truncated) or — with
    * spark.sql.legacy.parquet.nanosAsLong — as LongType nanos. Normalize
    * to TimestampType at microsecond precision (floor), which matches
    * DuckDB's date_trunc('microseconds', ts) on the oracle side.
    */
  private def normalizeEvents(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case LongType =>
        // `div` is integral division: ns-epoch longs exceed 2^53, so the
        // double division `/` would lose precision and drift vs the oracle.
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampType => df
      case other => df // TIMESTAMP_NTZ etc: leave as-is
    }

  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame = load(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
