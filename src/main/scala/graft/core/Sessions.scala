package graft.core

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
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
  *  - `file:` paths go through [[PosixLocalFileSystem]]: Hadoop's local
  *    FileSystem whose permission call is a `java.nio` call instead of a
  *    forked `chmod` (see there). A session built another way keeps
  *    Hadoop's stock local FileSystem, with the same files, bytes and mode
  *    bits, only slower to create them.
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
      .config("spark.hadoop.fs.file.impl", classOf[PosixLocalFileSystem].getName)

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

/** Hadoop's `file:` FileSystem (checksums, umask handling and every other
  * call unchanged) over a raw FS that sets permissions with
  * `Files.setPosixFilePermissions`. Without the native `libhadoop`, the
  * stock `RawLocalFileSystem.setPermission` forks a `chmod` process, and it
  * runs on every file create (twice with the `.crc` file) and every
  * `mkdirs`, so each parquet part file a write commits costs several
  * process starts. The mode bits are the same; a mode with bits
  * beyond `rwxrwxrwx` (sticky, setuid), which `java.nio` cannot express,
  * and a non-POSIX file system still take Hadoop's own path.
  */
class PosixLocalFileSystem extends LocalFileSystem(new PosixLocalFileSystem.Raw)

object PosixLocalFileSystem {
  private val bits = Array(
    PosixFilePermission.OTHERS_EXECUTE, PosixFilePermission.OTHERS_WRITE,
    PosixFilePermission.OTHERS_READ, PosixFilePermission.GROUP_EXECUTE,
    PosixFilePermission.GROUP_WRITE, PosixFilePermission.GROUP_READ,
    PosixFilePermission.OWNER_EXECUTE, PosixFilePermission.OWNER_WRITE,
    PosixFilePermission.OWNER_READ)

  private val posix =
    java.nio.file.FileSystems.getDefault.supportedFileAttributeViews.contains("posix")

  final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort.toInt
      if (!posix || (mode & ~0x1ff) != 0) super.setPermission(p, permission)
      else {
        val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
        for (i <- bits.indices if (mode & (1 << i)) != 0) perms.add(bits(i))
        Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
      }
    }
  }
}
