package graft.core

import org.apache.spark.sql.SparkSession

/** Session factory with the configs this engine assumes everywhere.
  *
  * Scale notes (designed for a 1000-executor cluster, tested on local[32]):
  *  - AQE on: runtime coalescing of shuffle partitions + skew-join splitting
  *    is the first line of defense at 100 TB.
  *  - `nanosAsLong`: when the ingest tables carry TIMESTAMP(NANOS) parquet
  *    (which Spark's TimestampType, micros, cannot hold) this surfaces them
  *    as epoch-nano longs; µs/ms-precision files are instead normalized in
  *    `Tables.events` via `unix_micros`. Either way the engine keeps time as
  *    epoch-nano longs end-to-end (cheap, exact, timezone-free) and only
  *    converts to timestamps at display boundaries (SeriesOps.displayMs).
  */
object Sessions {

  def tune(b: SparkSession.Builder, shufflePartitions: Int): SparkSession.Builder =
    b.config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      // small single-file tables must still split across all cores — a 10 MB
      // parquet is one scan partition by size alone, serializing any heavy
      // scan-side compute; harmless at scale where file counts dominate
      .config("spark.sql.files.minPartitionNum", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // ObjectHashAggregate (TypedImperative buffers — VecMeanAgg, the
      // collect_list reassemblies) falls back to SORT-based aggregation at
      // 128 in-memory KEYS regardless of buffer size; PQ codebook training
      // groups on (subspace, cluster) = m·kc keys of ~dim-double buffers
      // (tens of KB total), and the fallback's per-row sort + buffer
      // re-serialization measured 2-3× the whole aggregate. 8192 keys of
      // this library's bounded per-group buffers stay comfortably in one
      // task's memory; genuinely fat buffers still spill via the sorter.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "8192")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.compression.codec", "snappy")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")

  /** Local session for tests, `graft.Bench` and `graft.Verify`. */
  def local(appName: String = "graft", cores: Int = 4): SparkSession = {
    val s = tune(
      SparkSession.builder().master(s"local[$cores]").appName(appName)
        // catalog tables (bucketed-join tests) must not land in the repo's
        // working directory (the default ./spark-warehouse)
        .config("spark.sql.warehouse.dir",
          java.nio.file.Files.createTempDirectory("graft-warehouse").toString),
      shufflePartitions = cores
    ).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The partition count of an explicit-width shuffle: `parts0` if
    * positive, else the session's `spark.sql.shuffle.partitions` (its
    * registered default when the session leaves it unset).
    */
  def partsOf(spark: SparkSession, parts0: Int = 0): Int = {
    val parts = if (parts0 > 0) parts0
      else spark.conf.get("spark.sql.shuffle.partitions").toInt
    require(parts >= 1, s"parts must be >= 1, got $parts")
    parts
  }
}
