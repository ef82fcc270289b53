package graft.core

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Loader for the driver-generated parquet tables under one sf directory.
  *
  * Every query entry point receives `(spark, sfDir)`; this is the single
  * place that knows the on-disk layout, so filters/projections written on
  * the returned DataFrames push straight down into the parquet scans.
  * It reads under the session's confs as they are: a session built by
  * [[Sessions]] carries the ones this layout assumes (`nanosAsLong`, UTC).
  */
final case class Tables(spark: SparkSession, dir: String) {

  /** A table by name. Its schema is inferred from a parquet footer — a
    * Spark job — on the first open only; later opens of an unchanged table
    * pass the memoized schema and run none (see [[Tables.schemaOf]]).
    */
  def apply(name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    spark.read.schema(Tables.schemaOf(spark, path)).parquet(path)
  }

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

object Tables {
  /** What a table's inferred schema depends on: its files (path, length,
    * mtime, so a table rewritten in place is inferred again) and the
    * session's parquet confs (`nanosAsLong` and the like change the types).
    */
  private final case class Source(files: Seq[(String, Long, Long)], confs: Map[String, String])

  private val schemas = new java.util.concurrent.ConcurrentHashMap[String, (Source, StructType)]()

  /** The schema `spark.read.parquet(path)` infers, memoized per path and
    * keyed by [[Source]]: a recursive listing on the driver replaces the
    * footer-inference job on every open after the first.
    */
  private[graft] def schemaOf(spark: SparkSession, path: String): StructType = {
    val p = new Path(path)
    val files = Seq.newBuilder[(String, Long, Long)]
    try {
      val it = p.getFileSystem(spark.sparkContext.hadoopConfiguration).listFiles(p, true)
      while (it.hasNext) {
        val f = it.next()
        files += ((f.getPath.toString, f.getLen, f.getModificationTime))
      }
    } catch { case _: java.io.FileNotFoundException => () } // the read names the missing path
    val source = Source(files.result().sorted,
      spark.conf.getAll.filter { case (k, _) => k.contains("parquet") })
    val known = schemas.get(path)
    if (known != null && known._1 == source) known._2
    else {
      val schema = spark.read.parquet(path).schema
      schemas.put(path, (source, schema))
      schema
    }
  }
}
