package graft.ts

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Encoders, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Sessions
import graft.ts.model.Period

/** Parquet warehouse of series points: one directory per container, the
  * Spark-native analog of the reference's DtsServer file containers
  * (reference: weather/service/dtss_host.py:141-151).
  *
  * Layout: `<warehouse>/<container>/bucket=NN/` — series are hash-
  * distributed into a bounded number of bucket partitions (never one
  * directory per series: at 100 TB with millions of series that would mean
  * millions of tiny files). The bucket of a series is `crc32(series_id) %
  * numBuckets`, computable identically as a Catalyst column and on the
  * driver, so:
  *  (a) per-series reads prune to one bucket directory (partition pruning)
  *      and row-group stats on the (series_id, ts) sort order prune within;
  *  (b) a merge only reads and rewrites the buckets its incoming batch
  *      touches — an upsert of one series rewrites 1/numBuckets of the
  *      container, not all of it;
  *  (c) the merge shuffle partitioning is aligned with the file layout.
  * At cluster scale a container maps to a table where this becomes
  * MERGE INTO over the same bucketing.
  */
final class SeriesStore(spark: SparkSession, warehouse: String, numBuckets: Int = 32,
    lockAcquireTimeoutMs: Long = 60000L, staleLockMs: Long = 30L * 60 * 1000) {

  def containerPath(container: String): String = s"$warehouse/$container"

  private[graft] def fs = new Path(warehouse).getFileSystem(spark.sparkContext.hadoopConfiguration)

  def exists(container: String): Boolean = fs.exists(new Path(containerPath(container)))

  /** The container's live buckets, from one listing: the numbers of its
    * `bucket=N` directories, empty when the container does not exist.
    */
  private def liveBuckets(container: String): Set[Int] =
    try fs.listStatus(new Path(containerPath(container))).iterator.map(_.getPath.getName)
      .collect { case n if n.startsWith("bucket=") => n.stripPrefix("bucket=").toInt }.toSet
    catch { case _: java.io.FileNotFoundException => Set.empty }

  /** Staging siblings of the container directory. Both live OUTSIDE the
    * container so Spark partition discovery never sees them: a backup left
    * behind by a crash must not surface as extra rows (and a `bucket=N.__old`
    * name inside the tree would force the partition column to string,
    * breaking bucket-pruned reads under ANSI casts).
    */
  private def tmpDirOf(container: String) = new Path(containerPath(container) + ".__tmp")
  private def bakDirOf(container: String) = new Path(containerPath(container) + ".__bak")
  private def lockPathOf(container: String) = new Path(containerPath(container) + ".__lock")

  /** Best-effort CROSS-PROCESS merge guard: an exclusive-create lock file
    * beside the container (`<container>.__lock`, holding `pid@host:epoch`).
    * The in-JVM monitor serializes threads of one driver; this file makes a
    * second DRIVER on the same warehouse either wait (bounded by
    * `lockAcquireTimeoutMs`, then fail LOUDLY naming the holder) or, when
    * the holder died without releasing (lock mtime older than
    * `staleLockMs`), break the stale lock and proceed. Guarantees are
    * best-effort by design — exclusive `create` is atomic on HDFS and
    * object stores with conditional-put semantics, weaker on raw local
    * filesystems — which is exactly the contract the reference's
    * single-server DtsServer never needed and a multi-driver deployment
    * should get from a table format's transaction log instead; this guard
    * turns silent cross-driver corruption into serialization or a loud
    * error. `staleLockMs` must exceed the longest expected merge: a
    * slower-than-stale merge can have its lock broken and loses the guard.
    */
  private def acquireProcessLock(container: String): Unit = {
    val lp = lockPathOf(container)
    val deadline = System.currentTimeMillis() + lockAcquireTimeoutMs
    var attempt = 0
    while (true) {
      try {
        val out = fs.create(lp, false) // throws if the lock already exists
        val token = java.lang.ProcessHandle.current().pid().toString +
          "@" + java.net.InetAddress.getLocalHost.getHostName +
          ":" + System.currentTimeMillis()
        out.write(token.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        out.close()
        return
      } catch {
        case _: java.io.IOException =>
          val holder =
            try {
              val st = fs.getFileStatus(lp)
              if (System.currentTimeMillis() - st.getModificationTime > staleLockMs) {
                // holder presumed dead: break the lock and retry the create
                fs.delete(lp, false)
                None
              } else {
                val in = fs.open(lp)
                val tok = try new String(in.readAllBytes(),
                  java.nio.charset.StandardCharsets.UTF_8) finally in.close()
                Some(tok)
              }
            } catch { case _: java.io.IOException => None } // vanished: retry
          if (holder.isDefined && System.currentTimeMillis() > deadline)
            throw new IllegalStateException(
              s"merge: could not acquire cross-process lock $lp within " +
                s"$lockAcquireTimeoutMs ms; held by ${holder.get} — another " +
                "driver is merging this container (or died within the stale " +
                s"window of $staleLockMs ms)")
          attempt += 1
          Thread.sleep(math.min(50L * attempt, 1000L))
      }
    }
  }

  private def releaseProcessLock(container: String): Unit =
    try fs.delete(lockPathOf(container), false)
    catch { case _: java.io.IOException => () } // release is best-effort

  /** Container auto-create (reference: weather/service/dtss_host.py:141-151). */
  def ensureContainer(container: String): Unit =
    fs.mkdirs(new Path(containerPath(container)))

  /** Bucket assignment as a Catalyst column (codegen'd crc32 over the id's
    * UTF-8 bytes) — MUST stay in sync with [[bucketOf]].
    */
  private def bucketCol: org.apache.spark.sql.Column =
    pmod(crc32(col("series_id").cast("binary")), lit(numBuckets.toLong)).cast("int")

  /** Driver-side twin of [[bucketCol]] for partition pruning of id reads. */
  def bucketOf(seriesId: String): Int = {
    val c = new java.util.zip.CRC32
    c.update(seriesId.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.lang.Math.floorMod(c.getValue, numBuckets.toLong).toInt
  }

  /** The stored columns, bucket partition included: reads pass it to
    * `spark.read` instead of inferring it from a parquet footer, which would
    * cost a Spark job per read.
    */
  private val storedSchema = "series_id STRING, ts BIGINT, value DOUBLE, bucket INT"

  private def scan(container: String): DataFrame =
    spark.read.schema(storedSchema).parquet(containerPath(container))

  /** Full container scan; callers filter by id/period (filters push down). */
  def read(container: String): DataFrame = {
    recoverIfNeeded(container)
    if (liveBuckets(container).isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], model.pointSchema)
    else
      scan(container).select("series_id", "ts", "value")
  }

  /** Period-covering read of specific series
    * (reference: weather/service/dtss_host.py:197-208). Prunes to the ids'
    * bucket directories before the row-group filters apply.
    */
  def read(container: String, ids: Seq[String], period: Period): DataFrame = {
    recoverIfNeeded(container)
    if (liveBuckets(container).isEmpty)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], model.pointSchema)
    val buckets = ids.map(bucketOf).distinct
    scan(container)
      .where(col("bucket").isin(buckets: _*))
      .where(col("series_id").isin(ids: _*))
      .where(col("ts") >= period.startNs && col("ts") < period.endNs)
      .select("series_id", "ts", "value")
  }

  /** Merge-store (K1): upsert points with the reference's
    * `overwrite_on_write=False` point-level union — new points extend the
    * axis, colliding timestamps take the NEW value (last-writer-wins), and
    * untouched series/points survive
    * (reference: weather/service/data_collection_task.py:121-126, semantics
    * proven in weather/test/test_dtss_host.py:102-134). Duplicate
    * (series_id, ts) rows within one batch keep the largest value. A merge
    * of an empty batch leaves the store as it was and creates no container.
    *
    * One path, whether or not the container exists: one partition-local
    * pass over the batch ([[probe]]) learns the buckets it touches and its
    * point count; one listing of the container says which of them are live;
    * only those are read, merged with the batch (one exchange, hash on
    * bucket, shared by the last-wins window and the bucket-partitioned
    * write) and swapped; the rest of the container is untouched. The
    * per-bucket swap is rename-checked with a backup — a crash mid-swap
    * never loses data — and the merge is idempotent (re-merging the same
    * batch is a no-op, T4 late/duplicate handling), so a retry after a
    * partial swap converges.
    *
    * Returns the batch's point count and the buckets the merge rewrote.
    */
  def merge(container: String, incoming: DataFrame): MergeResult =
    SeriesStore.containerLock(containerPath(container)).synchronized {
      acquireProcessLock(container)
      try mergeLocked(container, incoming)
      finally releaseProcessLock(container)
    }

  /** The batch's distinct buckets and its row count in one job and no
    * exchange: each partition emits its bucket set and row count, the
    * driver unions them. A persisted batch is filled by this pass, so the
    * merge's write reads the cache instead of the source.
    */
  private def probe(newData: DataFrame): MergeResult = {
    val n = numBuckets
    val parts = newData.select("bucket").as(Encoders.scalaInt).mapPartitions { it =>
      val seen = new java.util.BitSet(n)
      var points = 0L
      it.foreach { b => seen.set(b); points += 1 }
      Iterator.single((seen.toLongArray, points))
    }(SeriesStore.ProbeEncoder).collect()
    val buckets = new java.util.BitSet(n)
    parts.foreach { case (bits, _) => buckets.or(java.util.BitSet.valueOf(bits)) }
    MergeResult(parts.map(_._2).sum, buckets.stream().toArray.toSeq)
  }

  /** Merges are serialized per container within the JVM (the reference's
    * DtsServer serializes them in its server process) AND across drivers by
    * the best-effort [[acquireProcessLock]] lock file; at cluster scale the
    * container maps to a table format whose transaction log replaces both.
    */
  private def mergeLocked(container: String, incoming: DataFrame): MergeResult = {
    sweepStaging(container)
    val target = new Path(containerPath(container))
    val newData = incoming.select(
      col("series_id").cast("string"),
      col("ts").cast("long"),
      col("value").cast("double"))
      .withColumn("bucket", bucketCol)

    // Bounded rewrite: only buckets the batch touches, learnt by the probe,
    // which also counts the batch; of those, only the live ones hold old rows.
    val probed = probe(newData)
    val affected = probed.buckets
    if (affected.isEmpty) return probed
    val live = liveBuckets(container)
    val old = affected.filter(live)

    val nw = newData.withColumn("__gen", lit(1))
    val batch =
      if (old.isEmpty) nw
      else scan(container).where(col("bucket").isin(old: _*))
        .withColumn("__gen", lit(0))
        .unionByName(nw)
    // One exchange: hash on bucket clusters every (bucket, series_id, ts)
    // group of the window, and the window's sort is the write's
    // (bucket, series_id, ts) file order. value.desc as secondary key: if
    // one batch carries duplicate (series_id, ts) rows the survivor is
    // still deterministic. The width is pinned — a bare REPARTITION_BY_COL
    // is AQE-coalescable back to one partition on small inputs, serializing
    // the sort and the parquet write.
    val w = Window.partitionBy("bucket", "series_id", "ts")
      .orderBy(col("__gen").desc, col("value").desc)
    val merged = batch
      .repartition(Sessions.partsOf(spark), col("bucket"))
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .drop("__rn", "__gen")

    // Parquet can't be rewritten in place while being read: stage the merged
    // buckets to a tmp sibling ([[sweepStaging]] has cleared it).
    val tmp = tmpDirOf(container)
    merged.write.mode(SaveMode.Overwrite).partitionBy("bucket").parquet(tmp.toString)

    // Swap each affected bucket directory. Every rename is checked; on
    // failure the bucket's backup is restored. Backups live in the sibling
    // `.__bak` dir, never inside the container: a hard crash mid-swap leaves
    // recoverable state that [[sweepStaging]] repairs, and no reader ever
    // discovers a backup as a partition.
    val bakRoot = bakDirOf(container)
    fs.mkdirs(target)
    fs.mkdirs(bakRoot)
    affected.foreach { b =>
      val name = s"bucket=$b"
      val src = new Path(tmp, name)
      val dst = new Path(target, name)
      val bak = new Path(bakRoot, name)
      if (!fs.exists(src)) {
        // merged output lost a bucket only if the bucket had no rows at all
        // (cannot happen: affected came from newData) — fail loudly.
        throw new java.io.IOException(s"merge: staged bucket missing: $src")
      }
      val hadOld = live(b)
      if (hadOld) {
        if (fs.exists(bak)) fs.delete(bak, true)
        if (!fs.rename(dst, bak))
          throw new java.io.IOException(s"merge: failed to move $dst aside to $bak")
      }
      if (!fs.rename(src, dst)) {
        val restored = !hadOld || fs.rename(bak, dst)
        throw new java.io.IOException(
          s"merge: failed to move $src into place" +
            (if (restored) s"; previous data restored at $dst"
             else s"; RESTORE FAILED — previous data is at $bak"))
      }
      if (hadOld) fs.delete(bak, true)
    }
    fs.delete(bakRoot, true)
    fs.delete(tmp, true)
    probed
  }

  /** Repair state left by a merge that died mid-swap (process crash, not
    * just an in-process rename failure). For each backup bucket: if its
    * live counterpart is MISSING the crash hit between the two renames and
    * the backup is the only copy — restore it; if the counterpart exists
    * the swap completed — the backup is a stale duplicate, drop it. Stale
    * `.__tmp` staging is always safe to delete (its content is re-derivable
    * from the container + the batch, which the failed caller must retry).
    */
  private def sweepStaging(container: String): Unit = {
    val target = new Path(containerPath(container))
    val bakRoot = bakDirOf(container)
    if (fs.exists(bakRoot)) {
      fs.listStatus(bakRoot).filter(_.getPath.getName.startsWith("bucket=")).foreach { st =>
        val dst = new Path(target, st.getPath.getName)
        if (!fs.exists(dst)) {
          if (!fs.rename(st.getPath, dst))
            throw new java.io.IOException(
              s"recover: failed to restore backup ${st.getPath} to $dst")
        } else {
          fs.delete(st.getPath, true)
        }
      }
      fs.delete(bakRoot, true)
    }
    val tmp = tmpDirOf(container)
    if (fs.exists(tmp)) fs.delete(tmp, true)
  }

  /** Read-path twin of [[sweepStaging]]: one cheap existence probe outside
    * the lock; only if crash leftovers are present does the reader take the
    * container lock (waiting out any in-flight merge, whose own sweep +
    * swap will have cleared the backup by the time the lock is free).
    */
  private def recoverIfNeeded(container: String): Unit =
    if (fs.exists(bakDirOf(container)))
      SeriesStore.containerLock(containerPath(container)).synchronized {
        // the process lock too: the backups may belong to ANOTHER driver's
        // in-flight merge — repairing under its feet would clobber the swap.
        // Waiting out the holder is correct: its own completion clears the
        // backup dir, making this sweep a no-op.
        acquireProcessLock(container)
        try sweepStaging(container)
        finally releaseProcessLock(container)
      }
}

/** What one [[SeriesStore.merge]] did: the incoming batch's point count
  * and the buckets it rewrote, ascending.
  */
final case class MergeResult(points: Long, buckets: Seq[Int])

object SeriesStore {
  /** The probe's per-partition (bucket bit set, row count) encoder,
    * derived once per JVM instead of reflected on every merge.
    */
  private val ProbeEncoder = Encoders.product[(Array[Long], Long)]

  // JVM-wide per-container-path lock table, shared by every store instance
  private val locks = new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private[ts] def containerLock(path: String): Object =
    locks.computeIfAbsent(path, _ => new Object)
}
