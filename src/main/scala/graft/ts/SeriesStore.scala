package graft.ts

import org.apache.hadoop.fs.Path
import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{Column, DataFrame, Encoders, GraftBridge, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType, StringType}

import graft.core.Sessions
import graft.ts.model.Period

/** Parquet warehouse of series points: one directory per container, the
  * Spark-native analog of the reference's DtsServer file containers
  * (reference: weather/service/dtss_host.py:141-151).
  *
  * Layout: `<warehouse>/<container>/bucket=N/seg=L/` — series are hash-
  * distributed into a bounded number of bucket partitions (never one
  * directory per series: at 100 TB with millions of series that would mean
  * millions of tiny files). The bucket of a series is `crc32(series_id) %
  * numBuckets`, computable identically as a Catalyst column and on the
  * driver. Each bucket splits its time axis at its cut into at most two
  * segments, each named by the least ts it may hold: a sealed base
  * (`seg=-9223372036854775808`, points before the cut) and a tail
  * (`seg=<cut>`, points at or after it). No point sits in two segments, so
  * a read is a plain scan with no read-side last-wins, and:
  *  (a) per-series reads prune to one bucket directory (partition pruning)
  *      and row-group stats on the (series_id, ts) sort order prune within;
  *  (b) a merge only reads and rewrites the segments its incoming batch
  *      overlaps — a batch at or after the cut and within two days of it
  *      rewrites the bucket's tail alone; any other batch rewrites the
  *      bucket and re-cuts it at the later of the batch's earliest point
  *      and a day before its latest, so the write cost of a sliding-window
  *      collection follows the batch, not the container's age;
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

  /** The cut of a live bucket, from one listing of it: the largest of its
    * `seg=` names, which is its tail's; None for a bucket with no segment.
    * Any other entry (hidden `_`/`.` names aside, which Spark skips too) is
    * a data file of a container written before segments existed: it fails
    * with [[SeriesStore.PreSegmentContainer]] before anything is staged.
    */
  private def tailCut(container: String, bucket: Int): Option[Long] = {
    val names = fs.listStatus(new Path(containerPath(container), s"bucket=$bucket"))
      .map(_.getPath.getName).filterNot(n => n.startsWith("_") || n.startsWith("."))
    if (names.exists(!_.startsWith("seg="))) throw new SeriesStore.PreSegmentContainer(containerPath(container))
    names.map(_.stripPrefix("seg=").toLong).maxOption
  }

  /** Staging siblings of the container directory. Both live OUTSIDE the
    * container so Spark partition discovery never sees them: a backup left
    * behind by a crash must not surface as extra rows (and a `bucket=N.__old`
    * name inside the tree would force the partition column to string,
    * breaking bucket-pruned reads under ANSI casts).
    */
  private def tmpDirOf(container: String) = new Path(containerPath(container) + ".__tmp")
  private def bakDirOf(container: String) = new Path(containerPath(container) + ".__bak")
  private def lockPathOf(container: String) = new Path(containerPath(container) + ".__lock")

  /** Where a swap moves the live directory `rel` (`bucket=N`, or a tail
    * `bucket=N/seg=C`) aside: one flat entry of the backup dir, named by
    * `rel` with `/` as `+`, so a sweep tells a whole bucket from a tail.
    */
  private def bakOf(container: String, rel: String) =
    new Path(bakDirOf(container), rel.replace('/', '+'))

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
  private def bucketCol(seriesId: Column): Column =
    pmod(crc32(seriesId.cast("binary")), lit(numBuckets.toLong)).cast("int")

  /** Driver-side twin of [[bucketCol]] for partition pruning of id reads. */
  def bucketOf(seriesId: String): Int = {
    val c = new java.util.zip.CRC32
    c.update(seriesId.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.lang.Math.floorMod(c.getValue, numBuckets.toLong).toInt
  }

  /** The stored columns, bucket and segment partitions included: reads pass
    * it to `spark.read` instead of inferring it from a parquet footer, which
    * would cost a Spark job per read.
    */
  private val storedSchema = "series_id STRING, ts BIGINT, value DOUBLE, bucket INT, seg BIGINT"

  /** The container's scan. A container written before segments existed,
    * once mixed with segments, fails Spark's partition discovery here; that
    * failure is rethrown as [[SeriesStore.PreSegmentContainer]].
    */
  private def scan(container: String): DataFrame =
    try spark.read.schema(storedSchema).parquet(containerPath(container))
    catch {
      case e: SparkThrowable if e.getCondition == "CONFLICTING_PARTITION_COLUMN_NAMES" =>
        throw new SeriesStore.PreSegmentContainer(containerPath(container), e.asInstanceOf[Throwable])
    }

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
    * The plan says which buckets the merge rewrites and where each one is
    * cut. A batch that declares nothing is probed: one partition-local pass
    * over it ([[probe]]) learns the buckets it touches, the earliest and
    * latest point in each, and its point count; one listing of the
    * container says which of them are live, and one listing of each live
    * one gives its cut. A live bucket whose part of the batch lies at or
    * after its cut and within two tail spans of it rewrites its tail alone;
    * every other touched bucket is rewritten whole and re-cut. Only the
    * segments being rewritten are read, merged with the batch (sorted once
    * for the last-wins window and the partitioned write), staged once and
    * swapped; the rest of the container is untouched. Each swap, of a tail
    * or of a whole bucket, is rename-checked with a backup — a crash
    * mid-swap never loses data — and the merge is idempotent (re-merging
    * the same batch is a no-op, T4 late/duplicate handling), so a retry
    * after a partial swap converges.
    *
    * Returns the batch's point count and the buckets the merge rewrote,
    * tail-only and whole.
    */
  def merge(container: String, incoming: DataFrame): MergeResult =
    locked(container)(mergeLocked(container, incoming, None))

  /** [[merge]] of a batch that declares what it can hold: rows of
    * `within.seriesIds` with ts in `within.period`, as a collection cycle's
    * re-keyed source read does.
    *
    * When the container's listings show every declared bucket live, with
    * the declared window inside its tail, the declaration settles the plan:
    * each declared bucket rewrites its tail alone, no probe runs, and the
    * batch's point count is observed on the write, so the merge is one job
    * that reads the batch and the tails, sorts and writes. Its width is
    * sized from what the driver has: the tails' bytes, and the batch counted
    * as at most the tails' rows. If the batch turns out empty, nothing is
    * swapped and the result is [[MergeResult.empty]]. Any other declared
    * merge (a new container or bucket, a window before a cut or past two
    * tail spans) is probed like an undeclared one, with the batch persisted
    * for the merge so its source is read once.
    *
    * Either way every row of the batch is checked against the declaration:
    * a row of another series or outside the window fails the merge with
    * [[SeriesStore.UndeclaredRows]], naming the container and the bound,
    * before anything is swapped. Such a row is never dropped.
    */
  def merge(container: String, incoming: DataFrame, within: SeriesStore.Within): MergeResult =
    locked(container)(mergeLocked(container, incoming, Some(within)))

  /** Runs `body` holding the container's in-JVM and cross-process locks. */
  private def locked[T](container: String)(body: => T): T =
    SeriesStore.containerLock(containerPath(container)).synchronized {
      acquireProcessLock(container)
      try body
      finally releaseProcessLock(container)
    }

  /** The batch's distinct buckets, the earliest and latest ts in each, and
    * its row count in one job and no exchange: each partition emits its
    * bucket set, per-bucket bounds and row count, the driver folds them. A
    * persisted batch is filled by this pass, so the merge's write reads the
    * cache instead of the source.
    */
  private def probe(newData: DataFrame): SeriesStore.Probe = {
    val n = numBuckets
    val parts = newData.select("bucket", "ts").as(SeriesStore.BucketTs).mapPartitions { it =>
      val seen = new java.util.BitSet(n)
      val lo = Array.fill(n)(Long.MaxValue)
      val hi = Array.fill(n)(Long.MinValue)
      var points = 0L
      it.foreach { case (b, ts) =>
        seen.set(b)
        if (ts < lo(b)) lo(b) = ts
        if (ts > hi(b)) hi(b) = ts
        points += 1
      }
      Iterator.single((seen.toLongArray, points, lo, hi))
    }(SeriesStore.ProbeEncoder).collect()
    val buckets = new java.util.BitSet(n)
    val lo = Array.fill(n)(Long.MaxValue)
    val hi = Array.fill(n)(Long.MinValue)
    parts.foreach { case (bits, _, l, h) =>
      buckets.or(java.util.BitSet.valueOf(bits))
      for (b <- 0 until n) { lo(b) = math.min(lo(b), l(b)); hi(b) = math.max(hi(b), h(b)) }
    }
    SeriesStore.Probe(parts.map(_._2).sum, buckets.stream().toArray.toSeq, lo, hi)
  }

  /** `rows` with every row checked against the declaration `w`: a row of a
    * series `w` does not name, or with ts outside its window, raises an
    * error naming the container and the bound. The window is given per
    * bucket as array literals, like each row's cut, so the check compiles
    * to the same code whatever the window (a primitive literal is inlined
    * into the generated code, and a new window would compile it again).
    */
  private def bounded(container: String, rows: DataFrame, w: SeriesStore.Within): DataFrame = {
    val lo = Array.fill(numBuckets)(Long.MaxValue)
    val hi = Array.fill(numBuckets)(Long.MinValue)
    if (w.period.startNs < w.period.endNs)
      w.seriesIds.foreach { id =>
        lo(bucketOf(id)) = w.period.startNs
        hi(bucketOf(id)) = w.period.endNs - 1
      }
    def ofBucket(a: Array[Long]) =
      GraftBridge.column(Literal.create(a, ArrayType(LongType, containsNull = false))).getItem(col("bucket"))
    val ids = GraftBridge.column(Literal.create(w.seriesIds.distinct, ArrayType(StringType, containsNull = false)))
    val inside = array_contains(ids, col("series_id")) &&
      col("ts") >= ofBucket(lo) && col("ts") <= ofBucket(hi)
    rows.withColumn("ts", when(inside, col("ts")).otherwise(raise_error(format_string(
      s"${undeclaredTag(container)} row (%s, %s) lies outside the batch's declaration: " +
        s"${w.seriesIds.distinct.size} series within [${w.period.startNs}, ${w.period.endNs})",
      col("series_id"), col("ts")))))
  }

  private def undeclaredTag(container: String) = s"merge into ${containerPath(container)}:"

  /** Runs `body`, turning a raise of the [[bounded]] check into the named
    * error.
    */
  private def checked[T](container: String)(body: => T): T =
    try body
    catch {
      case e: Exception =>
        Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).collectFirst {
          case s: SparkThrowable if s.getCondition == "USER_RAISED_EXCEPTION" &&
              Option(s.getMessageParameters.get("errorMessage")).exists(_.startsWith(undeclaredTag(container))) =>
            s.getMessageParameters.get("errorMessage")
        }.fold(throw e)(msg => throw new SeriesStore.UndeclaredRows(msg, e))
    }

  /** Merges are serialized per container within the JVM (the reference's
    * DtsServer serializes them in its server process) AND across drivers by
    * the best-effort [[acquireProcessLock]] lock file; at cluster scale the
    * container maps to a table format whose transaction log replaces both.
    */
  private def mergeLocked(container: String, incoming: DataFrame,
      within: Option[SeriesStore.Within]): MergeResult = {
    sweepStaging(container)
    val target = new Path(containerPath(container))
    val seriesId = col("series_id").cast("string")
    val keyed = incoming.select(seriesId.as("series_id"), col("ts").cast("long").as("ts"),
      col("value").cast("double").as("value"), bucketCol(seriesId).as("bucket"))
    val newData = within.fold(keyed)(bounded(container, keyed, _))

    // Bounded rewrite: only the buckets the batch can touch. A declaration
    // settles them when each declared bucket is live and the window fits its
    // tail; otherwise the probe learns them with each one's earliest and
    // latest point, and of those only the live ones hold old rows, a live one
    // whose batch fits its tail rewriting the tail alone.
    val live = liveBuckets(container)
    val cuts = scala.collection.mutable.Map.empty[Int, Option[Long]]
    def cutOf(b: Int) = cuts.getOrElseUpdate(b, tailCut(container, b))
    val settled = within.flatMap { w =>
      val bs = w.seriesIds.map(bucketOf).distinct.sorted
      Option.when(bs.nonEmpty && bs.forall(b => live(b) &&
        cutOf(b).exists(SeriesStore.fitsTail(_, w.period.startNs, w.period.endNs - 1))))(bs)
    }
    // an unsettled declared batch is read twice, by the probe and the write
    // (persisting plans it, which can evaluate a local batch's check)
    val cached = within.isDefined && settled.isEmpty
    if (cached) checked(container)(newData.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    try {
      val (buckets, tailOnly, recut, cut, probedPoints) = settled match {
        case Some(bs) =>
          val cut = new Array[Long](numBuckets)
          bs.foreach(b => cut(b) = cutOf(b).get)
          (bs, bs, Seq.empty[Int], cut, None)
        case None =>
          val probed = checked(container)(probe(newData))
          if (probed.buckets.isEmpty) return MergeResult.empty
          val (tailOnly, recut) = probed.buckets.partition(b =>
            live(b) && cutOf(b).exists(SeriesStore.fitsTail(_, probed.lo(b), probed.hi(b))))
          val cut = new Array[Long](numBuckets)
          tailOnly.foreach(b => cut(b) = cutOf(b).get)
          recut.foreach(b => cut(b) = SeriesStore.recut(probed.lo(b), probed.hi(b)))
          (probed.buckets, tailOnly, recut, cut, Some(probed.points))
      }

      // The old rows: only the directories being rewritten are listed and read.
      val root = containerPath(container)
      val old = recut.filter(live).map(b => s"$root/bucket=$b") ++
        tailOnly.map(b => s"$root/bucket=$b/seg=${cut(b)}")
      // Each row's generation (old 0, new 1) and segment: its bucket's tail
      // at or after the bucket's cut, the base below it.
      val cutOfRow = GraftBridge.column(Literal.create(cut, ArrayType(LongType, containsNull = false)))
        .getItem(col("bucket"))
      def tagged(rows: DataFrame, gen: Int) = rows.select(col("series_id"), col("ts"), col("value"),
        col("bucket"), lit(gen).as("__gen"),
        when(col("ts") >= cutOfRow, cutOfRow).otherwise(lit(SeriesStore.BaseSeg)).as("seg"))
      // a settled batch is counted on the write, in the job that writes it
      val observed = Observation()
      val nw = tagged(if (probedPoints.isDefined) newData
        else newData.observe(observed, count(lit(1)).as("points")), 1)
      val batch =
        if (old.isEmpty) nw
        else tagged(spark.read.schema(storedSchema).option("basePath", root).parquet(old: _*), 0)
          .unionByName(nw)
      // The merge's width follows the rows it merges — the old segments',
      // estimated from their bytes, and the batch's: probed, or for a
      // settled batch at most its tails' rows. A short window into its
      // tails is one task with no exchange: the coalesced rows satisfy the
      // window's clustering, so the sort, the window and the write run in the
      // job that reads them (every further job and write task pays a fixed
      // cost, mostly deserializing the job's Hadoop conf). A backfill or a
      // large re-cut takes one exchange, hash on bucket, which clusters every
      // (bucket, seg, series_id, ts) group of the window (seg is a function of
      // bucket and ts); its width is pinned, not left to AQE, whose coalescing
      // judges by shuffle bytes alone. Either way the window's sort is the
      // write's (bucket, seg, series_id, ts) file order. value.desc as
      // secondary key: if one batch carries duplicate (series_id, ts) rows the
      // survivor is still deterministic.
      val oldRows = old.iterator.map(d => fs.getContentSummary(new Path(d)).getLength).sum /
        SeriesStore.MinBytesPerRow
      val width = SeriesStore.widthOf(Sessions.partsOf(spark), probedPoints.getOrElse(oldRows) + oldRows)
      val w = Window.partitionBy("bucket", "seg", "series_id", "ts")
        .orderBy(col("__gen").desc, col("value").desc)
      val merged = (if (width == 1) batch.coalesce(1) else batch.repartition(width, col("bucket")))
        .withColumn("__rn", row_number().over(w))
        .where(col("__rn") === 1)
        .drop("__rn", "__gen")

      // Parquet can't be rewritten in place while being read: stage the merged
      // segments to a tmp sibling ([[sweepStaging]] has cleared it). A failed
      // write leaves no staging behind.
      val tmp = tmpDirOf(container)
      try checked(container)(merged.write.mode(SaveMode.Overwrite).partitionBy("bucket", "seg").parquet(tmp.toString))
      catch { case e: Exception => fs.delete(tmp, true); throw e }
      val points = probedPoints.getOrElse(observed.get("points").asInstanceOf[Long])
      if (points == 0) {
        // a settled batch that held nothing: its tails are staged unchanged
        fs.delete(tmp, true)
        return MergeResult.empty
      }

      // Swap each rewritten tail or bucket directory. Every rename is checked;
      // on failure the backup is restored. Backups live in the sibling
      // `.__bak` dir, never inside the container: a hard crash mid-swap leaves
      // recoverable state that [[sweepStaging]] repairs, and no reader ever
      // discovers a backup as a partition.
      fs.mkdirs(target)
      fs.mkdirs(bakDirOf(container))
      val tail = tailOnly.toSet
      buckets.foreach { b =>
        val rel = if (tail(b)) s"bucket=$b/seg=${cut(b)}" else s"bucket=$b"
        val src = new Path(tmp, rel)
        val dst = new Path(target, rel)
        val bak = bakOf(container, rel)
        if (!fs.exists(src)) {
          // every bucket rewritten has a row at or after its cut — the
          // batch's, or a settled bucket's old tail — so a staged tail or
          // bucket is never empty: fail loudly.
          throw new java.io.IOException(s"merge: staged segment missing: $src")
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
      fs.delete(bakDirOf(container), true)
      fs.delete(tmp, true)
      MergeResult(points, tailOnly, recut)
    } finally if (cached) newData.unpersist()
  }

  /** Repair state left by a merge that died mid-swap (process crash, not
    * just an in-process rename failure). For each backup — a whole bucket
    * or a tail: if its live counterpart is MISSING the crash hit between the
    * two renames and the backup is the only copy — restore it; if the
    * counterpart exists the swap completed — the backup is a stale
    * duplicate, drop it. Stale `.__tmp` staging is always safe to delete
    * (its content is re-derivable from the container + the batch, which
    * the failed caller must retry).
    */
  private def sweepStaging(container: String): Unit = {
    val target = new Path(containerPath(container))
    val bakRoot = bakDirOf(container)
    if (fs.exists(bakRoot)) {
      fs.listStatus(bakRoot).filter(_.getPath.getName.startsWith("bucket=")).foreach { st =>
        val dst = new Path(target, st.getPath.getName.replace('+', '/'))
        if (!fs.exists(dst)) {
          fs.mkdirs(dst.getParent)
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
    // the process lock too: the backups may belong to ANOTHER driver's
    // in-flight merge — repairing under its feet would clobber the swap.
    // Waiting out the holder is correct: its own completion clears the
    // backup dir, making this sweep a no-op.
    if (fs.exists(bakDirOf(container))) locked(container)(sweepStaging(container))
}

/** What one [[SeriesStore.merge]] did: the incoming batch's point count,
  * the buckets whose tail alone it rewrote and the buckets it rewrote whole
  * and re-cut, each ascending. The driver decides both from its listings
  * and the probe or the batch's declaration, so they cost no job.
  */
final case class MergeResult(points: Long, tailOnly: Seq[Int], recut: Seq[Int]) {
  /** Every bucket the merge rewrote, ascending. */
  def buckets: Seq[Int] = (tailOnly ++ recut).sorted
}

object MergeResult {
  /** The result of merging an empty batch. */
  val empty: MergeResult = MergeResult(0L, Nil, Nil)
}

object SeriesStore {
  /** What a batch declares it can hold: rows of `seriesIds` with ts in
    * `period` — the store ids and the window of a collection cycle.
    */
  final case class Within(seriesIds: Seq[String], period: Period)

  /** A container written before segments existed: data files directly
    * under a `bucket=N`. The store neither merges into it nor reads it once
    * it is mixed with segments; delete it and merge again.
    */
  final class PreSegmentContainer(container: String, cause: Throwable = null)
    extends IllegalStateException(s"container $container holds data files directly under a " +
      "bucket directory, the layout from before segments; delete it and merge again", cause)

  /** A declared batch held a row outside its declaration: the message names
    * the container, the row and the bound. Nothing was swapped.
    */
  final class UndeclaredRows(message: String, cause: Throwable)
    extends IllegalArgumentException(message, cause)

  /** About how much time a tail holds after a re-cut: a batch within two
    * spans of its bucket's cut rewrites the tail alone, so a sliding-window
    * collection rewrites a bucket whole about once a span.
    */
  private val TailSpan: Long = Period.Day

  /** The base segment's name: the least ts, as it holds every point below
    * its bucket's cut.
    */
  private val BaseSeg: Long = Long.MinValue

  /** Whether a bucket's part of a batch, spanning [lo, hi], fits the tail
    * at `cut`: at or after the cut and within two tail spans of it (a span
    * that overflows does not fit).
    */
  private def fitsTail(cut: Long, lo: Long, hi: Long): Boolean = {
    val d = hi - cut
    lo >= cut && d >= 0 && d <= 2 * TailSpan
  }

  /** The cut of a bucket rewritten whole for a batch spanning [lo, hi]: a
    * tail span before the batch's latest point, or its earliest if later.
    */
  private def recut(lo: Long, hi: Long): Long = {
    val d = hi - lo
    if (d >= 0 && d <= TailSpan) lo else hi - TailSpan
  }

  /** Rows a merge task sorts and writes: on a local core about 40 ms of
    * work, about a task's fixed cost. And a floor on the stored bytes
    * of a row (a point takes about 15 in a sorted segment), so old
    * segments' rows are over- rather than under-estimated from their bytes.
    */
  private val RowsPerTask = 20000L
  private val MinBytesPerRow = 8L

  /** A merge's width for about `rows` rows: one task per [[RowsPerTask]],
    * within [1, `maxWidth`].
    */
  private def widthOf(maxWidth: Int, rows: Long): Int =
    math.max(1L, math.min(maxWidth.toLong, (rows + RowsPerTask - 1) / RowsPerTask)).toInt

  /** What [[SeriesStore.probe]] learns of a batch: its row count, its
    * buckets ascending, and the earliest and latest ts in each bucket.
    */
  private final case class Probe(points: Long, buckets: Seq[Int], lo: Array[Long], hi: Array[Long])

  /** The probe's input and per-partition (bucket bit set, row count,
    * earliest and latest ts per bucket) encoders, derived once per JVM
    * instead of reflected on every merge.
    */
  private val BucketTs = Encoders.tuple(Encoders.scalaInt, Encoders.scalaLong)
  private val ProbeEncoder = Encoders.product[(Array[Long], Long, Array[Long], Array[Long])]

  // JVM-wide per-container-path lock table, shared by every store instance
  private val locks = new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private[ts] def containerLock(path: String): Object =
    locks.computeIfAbsent(path, _ => new Object)
}
