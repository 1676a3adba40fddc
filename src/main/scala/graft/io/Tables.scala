package graft.io

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, TimestampNTZType, TimestampType}

/** Centralized parquet table access for the driver-generated test data
  * (TESTDATA.md). All readers go through here so session-level quirks
  * are handled once.
  *
  * Scale note: at 100 TB these reads are partitioned parquet scans;
  * everything downstream relies on Catalyst pushing filters/projections
  * into the scan, so ops in graft.ops never materialize or collect —
  * they stay `DataFrame => DataFrame`.
  */
object Tables {

  /** The events table carries a parquet TIMESTAMP(NANOS) column, which
    * Spark's vectorized reader rejects by default; this legacy flag
    * (SPARK-40819) reads it as LongType nanos instead. Runtime-settable,
    * so it works regardless of who built the SparkSession.
    */
  private def withNanosAsLong(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark
  }

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    ParquetSchema.read(withNanosAsLong(spark), s"$sfDir/$name.parquet")

  /** Epoch-millis expression for a `ts` column, dispatched on the type
    * it actually LOADED as — the physical parquet type of the events
    * table is not under our control (the generator has shipped both
    * int64 TIMESTAMP(NANOS) and timestamp[us]), so the loader must
    * accept every flavor and normalize to the same bigint millis:
    *
    *  - `LongType`: raw int64 nanos (the nanosAsLong legacy read of
    *    parquet TIMESTAMP(NANOS)) → `div 1e6`;
    *  - `TimestampType`: µs-precision with UTC adjustment →
    *    `unix_micros div 1e3`;
    *  - `TimestampNTZType`: what Spark's default NTZ inference gives a
    *    parquet timestamp[us] with isAdjustedToUTC=false →
    *    `timestampdiff(MICROSECOND, epoch, ts) div 1e3`, which is
    *    session-timezone-independent (a cast to TIMESTAMP would shift
    *    by the session zone).
    *
    * All three agree bit-for-bit with the DuckDB oracle's
    * `epoch_ms(ts)` over the same parquet (values are post-1970, so
    * floor == truncation). TsCanarySpec pins Long and timestamp[us]
    * flavors producing identical `ts_ms`.
    */
  def tsMsExpr(dt: DataType, tsCol: String = "ts"): Column = dt match {
    case LongType         => expr(s"$tsCol div 1000000")
    case TimestampType    => expr(s"unix_micros($tsCol) div 1000")
    case TimestampNTZType =>
      expr(s"timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', $tsCol) div 1000")
    case other => throw new IllegalArgumentException(
      s"events.$tsCol loaded as unsupported type $other; expected int64 nanos or a timestamp")
  }

  /** Adds the canonical `ts_ms` (bigint epoch millis) next to `ts`.
    * Works on batch and streaming DataFrames alike — dispatch is on
    * the frame's own schema, so the streaming file source (which
    * carries the schema captured from a batch read) takes the same
    * path. Milliseconds are the reference's native timestamp unit
    * (server.go:215 time.Now().UnixMilli()); all event-time logic and
    * oracle comparisons are done on ts_ms.
    */
  def withTsMs(df: DataFrame, tsCol: String = "ts"): DataFrame =
    df.withColumn("ts_ms", tsMsExpr(df.schema(tsCol).dataType, tsCol))

  /** events with the canonical epoch-millis column `ts_ms` (bigint). */
  def events(spark: SparkSession, sfDir: String): DataFrame =
    withTsMs(table(spark, sfDir, "events"))

  /** Drift armor for timestamp-like columns (l_shipdate /
    * o_orderdate), dispatched on the type the column actually LOADED
    * as — the [[tsMsExpr]] discipline applied to the TPC-H date
    * columns, which queries compare against `java.sql.Timestamp`
    * literals and which would break asymmetrically (Spark only, not
    * the DuckDB oracle) if the generator shipped TIMESTAMP(NANOS):
    * under the global nanosAsLong flag that flavor loads as raw int64
    * and every timestamp comparison fails ANALYSIS — so it is
    * repaired here to µs TimestampType (`div 1000`; instants are
    * post-1970/pre-2262, so the floor is exact truncation on both
    * engines).
    *
    * The ANALYZABLE flavors — TimestampType, TimestampNTZType (what a
    * parquet timestamp[us] without UTC adjustment infers as, and what
    * the generator ships as of round 9), DateType — pass through
    * UNTOUCHED, deliberately: Spark's type coercion already compares
    * them with Timestamp literals correctly under the UTC session,
    * and keeping the raw column attribute is what lets the range
    * predicate push into the parquet scan. Wrapping NTZ in a
    * normalizing expression was measured (round 9) to strip
    * `l_shipdate <= …` from PushedFilters and cost q1_agg 1.86× —
    * the repair must never tax the healthy path. TableCanarySpec pins
    * identical filter semantics across all four flavors.
    */
  def canonicalTsExpr(dt: DataType, c: String): Column = dt match {
    case TimestampType | TimestampNTZType |
         org.apache.spark.sql.types.DateType => col(c)
    case LongType => expr(s"timestamp_micros($c div 1000)")
    case other => throw new IllegalArgumentException(
      s"$c loaded as unsupported type $other; expected a timestamp/date flavor")
  }

  def withCanonicalTs(df: DataFrame, c: String): DataFrame =
    df.schema(c).dataType match {
      // identity flavors: return df ITSELF (no Project node at all) so
      // the plan is byte-identical to the pre-armor plan
      case TimestampType | TimestampNTZType |
           org.apache.spark.sql.types.DateType => df
      case dt => df.withColumn(c, canonicalTsExpr(dt, c))
    }

  def lineitem(spark: SparkSession, sfDir: String): DataFrame =
    withCanonicalTs(table(spark, sfDir, "lineitem"), "l_shipdate")
  def orders(spark: SparkSession, sfDir: String): DataFrame =
    withCanonicalTs(table(spark, sfDir, "orders"), "o_orderdate")
  def customer(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "part")
  def nation(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "nation")
  def region(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "region")
  def documents(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "embeddings")
}
