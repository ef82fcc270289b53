package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loader for the driver-generated parquet tables under one sf directory.
  *
  * Every query entry point receives `(spark, sfDir)`; this is the single
  * place that knows the on-disk layout, so filters/projections written on
  * the returned DataFrames push straight down into the parquet scans.
  * It reads under the session's confs as they are: a session built by
  * [[Sessions]] carries the ones this layout assumes (`nanosAsLong`, UTC).
  */
final case class Tables(spark: SparkSession, dir: String) {

  def apply(name: String): DataFrame = spark.read.parquet(s"$dir/$name.parquet")

  def lineitem: DataFrame = apply("lineitem")
  def orders: DataFrame = apply("orders")
  def customer: DataFrame = apply("customer")
  def supplier: DataFrame = apply("supplier")
  def part: DataFrame = apply("part")
  def nation: DataFrame = apply("nation")
  def region: DataFrame = apply("region")
  def documents: DataFrame = apply("documents")
  def embeddings: DataFrame = apply("embeddings")

  /** Events with `ts` normalized to epoch-nanosecond LongType, whatever the
    * parquet physical type of the generated data is:
    *  - TIMESTAMP(NANOS): `nanosAsLong` (see Sessions) already surfaces it as
    *    an epoch-ns long — passthrough.
    *  - timestamp[us]/[ms] (Spark TimestampType or TimestampNTZType): recover
    *    the epoch instant exactly via `unix_micros` (session tz is pinned to
    *    UTC, so the NTZ→instant cast is the identity the writer intended)
    *    and widen to the canonical ns grid.
    * Keeping time as epoch-ns longs end-to-end is the engine's contract; this
    * is the single place physical-type variance is absorbed.
    */
  def events: DataFrame = {
    val raw = apply("events")
    raw.schema("ts").dataType match {
      case LongType => raw
      case TimestampType | TimestampNTZType =>
        raw.withColumn("ts", unix_micros(col("ts").cast(TimestampType)) * lit(1000L))
      case other => throw new IllegalStateException(
        s"events.ts has unsupported type $other; expected int64-ns, timestamp, or timestamp_ntz")
    }
  }

  /** Events with `ts` canonicalized to the engine's time grid: epoch-ns
    * values truncated to whole microseconds (`(ns div 1000) * 1000`) — the
    * same grid every µs-native ANSI engine (and Spark's own TimestampType)
    * resolves this data to, which keeps results portable. A no-op when the
    * source parquet is already µs-precision.
    */
  def eventsUs: DataFrame =
    events.withColumn("ts", expr("(ts div 1000) * 1000"))

  /** The canonical long-format point table (SURVEY.md §1.5): one weather
    * "series" per (user, event_type), epoch-ns time (µs grid), double value.
    * Mirrors the reference's TimeSeries long format
    * (reference: weather/data_sources/netatmo/repository.py:136-148).
    */
  def points: DataFrame =
    eventsUs.select(
      concat(lit("shyft://events/u"), col("user_id"), lit("/"), col("event_type"))
        .as("series_id"),
      col("ts"),
      col("value"),
      col("event_id")
    )
}
