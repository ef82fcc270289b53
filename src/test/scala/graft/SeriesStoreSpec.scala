package graft

import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.spark.sql.functions.col

import graft.ts.{MergeResult, SeriesStore}
import graft.ts.model.Period

/** Golden merge-store semantics, mirroring the reference's
  * weather/test/test_dtss_host.py:102-134: store [1,2,3], then extension
  * [4,5,6] starting at t=3 with overwrite_on_write=False → reading back
  * yields [1,2,3,4,5,6]; a sibling container is untouched. Plus the
  * crash-safety contract of the two-rename container swap.
  */
class SeriesStoreSpec extends SparkSpec {
  import spark.implicits._

  private val S = Period.Second
  private val id = "shyft://test/eftas-sen/stua/temperature"

  private def series(vals: Seq[Double], t0: Long): org.apache.spark.sql.DataFrame =
    vals.zipWithIndex.map { case (v, i) => (id, (t0 + i) * S, v) }
      .toDF("series_id", "ts", "value")

  test("golden merge: extension chunk unions onto the stored axis") {
    val store = new SeriesStore(spark, tmpDir("graft-golden"), numBuckets = 2)
    store.merge("c1", series(Seq(1, 2, 3), t0 = 0))
    store.merge("c2", series(Seq(1, 2, 3), t0 = 0)) // sibling container
    store.merge("c1", series(Seq(4, 5, 6), t0 = 3))

    val got = store.read("c1").orderBy("ts").collect().map(r => (r.getLong(1) / S, r.getDouble(2)))
    assert(got.toSeq == Seq(0L -> 1.0, 1L -> 2.0, 2L -> 3.0, 3L -> 4.0, 4L -> 5.0, 5L -> 6.0))

    // the second container keeps its original [1,2,3] (test_dtss_host.py:131-134)
    val other = store.read("c2").orderBy("ts").collect().map(_.getDouble(2))
    assert(other.toSeq == Seq(1.0, 2.0, 3.0))
  }

  test("merge is last-wins on colliding timestamps and idempotent") {
    val store = new SeriesStore(spark, tmpDir("graft-lastwins"), numBuckets = 2)
    store.merge("c", series(Seq(1, 2, 3), t0 = 0))
    val overlap = series(Seq(20, 30, 40), t0 = 1) // t=1,2 collide; t=3 extends
    store.merge("c", overlap)
    store.merge("c", overlap) // re-merge must be a no-op (T4)

    val got = store.read("c").orderBy("ts").collect().map(r => (r.getLong(1) / S, r.getDouble(2)))
    assert(got.toSeq == Seq(0L -> 1.0, 1L -> 20.0, 2L -> 30.0, 3L -> 40.0))
  }

  test("period read covers [start, end) and filters ids") {
    val store = new SeriesStore(spark, tmpDir("graft-period"), numBuckets = 2)
    store.merge("c", series(Seq(1, 2, 3, 4), t0 = 0))
    val got = store.read("c", Seq(id), Period.ofSeconds(1, 3)).orderBy("ts")
      .collect().map(_.getDouble(2))
    assert(got.toSeq == Seq(2.0, 3.0))
    assert(store.read("c", Seq("shyft://test/other"), Period.ofSeconds(0, 10)).count() == 0)
  }

  test("reads of a missing or empty container return an empty point frame") {
    val store = new SeriesStore(spark, tmpDir("graft-empty"), numBuckets = 2)
    assert(store.read("nope").count() == 0)
    store.ensureContainer("made")
    assert(store.read("made").count() == 0)
    assert(store.read("made", Seq(id), Period.ofSeconds(0, 10)).count() == 0)
  }

  test("merging an empty batch is a no-op") {
    val store = new SeriesStore(spark, tmpDir("graft-noop"), numBuckets = 2)
    store.merge("c", series(Seq(1, 2, 3), t0 = 0))
    store.merge("c", series(Seq(1), t0 = 0).where("value > 999"))
    assert(store.read("c").count() == 3)
    // a missing container stays missing
    store.merge("new", series(Seq(1), t0 = 0).where("value > 999"))
    assert(!store.exists("new"), "an empty batch must not create its container")
    assert(store.read("new").count() == 0)
  }

  test("duplicate points in one batch keep one survivor, into a new or an existing container") {
    val dups = Seq((id, 0L, 1.0), (id, 0L, 5.0), (id, S, 2.0), (id, S, 2.0))
      .toDF("series_id", "ts", "value")
    val want = Seq(0L -> 5.0, 1L -> 2.0) // the largest value of a duplicate wins
    def stored(store: SeriesStore, c: String) =
      store.read(c).orderBy("ts").collect().map(r => (r.getLong(1) / S, r.getDouble(2))).toSeq

    val store = new SeriesStore(spark, tmpDir("graft-dups"), numBuckets = 2)
    store.merge("fresh", dups)
    assert(stored(store, "fresh") == want)
    store.merge("old", series(Seq(7.0), t0 = 9))
    store.merge("old", dups)
    assert(stored(store, "old") == want :+ (9L -> 7.0))
  }

  test("merge rewrites only the buckets the batch touches") {
    val warehouse = tmpDir("graft-bounded")
    val store = new SeriesStore(spark, warehouse, numBuckets = 4)
    // seed series across several buckets
    val seed = (0 until 40).map(i => (s"shyft://c/series-$i", i.toLong * S, i.toDouble))
      .toDF("series_id", "ts", "value")
    val seeded = store.merge("c", seed)
    assert(seeded.points == 40)

    def bucketFiles: Map[String, Set[String]] = {
      val root = new java.io.File(s"$warehouse/c")
      root.listFiles().filter(_.getName.startsWith("bucket="))
        .map(d => d.getName -> d.listFiles().flatMap(seg => seg.list().map(f => s"${seg.getName}/$f")).toSet)
        .toMap
    }
    val before = bucketFiles
    assert(before.size > 1, "seed should span multiple buckets")
    assert(seeded.buckets == before.keys.map(_.stripPrefix("bucket=").toInt).toSeq.sorted)
    // a new container is its bucket directories and nothing else
    val root = new java.io.File(s"$warehouse/c").list().toSeq
    assert(root.forall(_.startsWith("bucket=")), s"container root holds $root")

    // upsert one series → exactly its bucket rewritten
    val one = Seq(("shyft://c/series-0", 1000L * S, 9.9)).toDF("series_id", "ts", "value")
    // its batch lies in the bucket's tail: the tail alone is rewritten
    assert(store.merge("c", one) == MergeResult(1L, Seq(store.bucketOf("shyft://c/series-0")), Nil))
    val after = bucketFiles
    val touched = s"bucket=${store.bucketOf("shyft://c/series-0")}"
    assert(after(touched) != before(touched), "affected bucket must be rewritten")
    (before.keySet - touched).foreach { b =>
      assert(after(b) == before(b), s"unaffected $b must be untouched")
    }
    assert(store.read("c").count() == 41)
  }

  test("concurrent merges on one container serialize and lose nothing") {
    val warehouse = tmpDir("graft-conc")
    val threads = (0 until 4).map { t =>
      new Thread(() => {
        // distinct store instances must still share the container lock
        val store = new SeriesStore(spark, warehouse, numBuckets = 2)
        store.merge("c", series(Seq(t * 10.0), t0 = t))
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join(60000))
    val check = new SeriesStore(spark, warehouse, numBuckets = 2)
    val got = check.read("c").orderBy("ts").collect().map(_.getDouble(2))
    assert(got.toSeq == Seq(0.0, 10.0, 20.0, 30.0))
  }

  test("process death mid-swap: orphaned backup is restored on next read/merge") {
    val warehouse = tmpDir("graft-death")
    val store = new SeriesStore(spark, warehouse, numBuckets = 2)
    store.merge("c", series(Seq(1, 2, 3), t0 = 0))

    // Simulate a crash between rename(dst, bak) and rename(src, dst): the
    // live bucket is gone and its only copy sits in the sibling .__bak dir.
    val root = new java.io.File(s"$warehouse/c")
    val bucket = root.listFiles().filter(_.getName.startsWith("bucket=")).head
    val bakRoot = new java.io.File(s"$warehouse/c.__bak")
    assert(bakRoot.mkdirs())
    val bak = new java.io.File(bakRoot, bucket.getName)
    assert(bucket.renameTo(bak), "test setup: move live bucket to backup")

    // A plain read must restore the backup and see all original rows.
    val got = store.read("c").orderBy("ts").collect().map(_.getDouble(2))
    assert(got.toSeq == Seq(1.0, 2.0, 3.0))
    assert(!bakRoot.exists(), "backup dir must be swept after recovery")
  }

  test("process death post-swap: stale backup is dropped, not double-counted") {
    val warehouse = tmpDir("graft-stale")
    val store = new SeriesStore(spark, warehouse, numBuckets = 2)
    store.merge("c", series(Seq(1, 2, 3), t0 = 0))

    // Simulate a crash between rename(src, dst) and delete(bak): both the
    // live bucket and a stale backup copy exist.
    val root = new java.io.File(s"$warehouse/c")
    val bucket = root.listFiles().filter(_.getName.startsWith("bucket=")).head
    val bakRoot = new java.io.File(s"$warehouse/c.__bak")
    val bakBucket = new java.io.File(bakRoot, bucket.getName)
    assert(bakBucket.mkdirs())
    bucket.listFiles().foreach { f =>
      java.nio.file.Files.copy(f.toPath, new java.io.File(bakBucket, f.getName).toPath)
    }

    // Reads must not double-count, and the stale backup must be swept.
    val got = store.read("c").orderBy("ts").collect().map(_.getDouble(2))
    assert(got.toSeq == Seq(1.0, 2.0, 3.0))
    assert(!bakRoot.exists(), "stale backup dir must be swept")

    // A subsequent merge works on the repaired container.
    store.merge("c", series(Seq(4.0), t0 = 3))
    assert(store.read("c").count() == 4)
  }

  test("failed swap rename restores the backup — no data loss") {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.faulty.impl", classOf[FaultyFs].getName)
    val store = new SeriesStore(spark, "faulty://" + tmpDir("graft-crash"), numBuckets = 2)
    store.merge("c", series(Seq(1, 2, 3), t0 = 0))

    FaultyFs.failNextTmpRename.set(true)
    val e = intercept[java.io.IOException] {
      store.merge("c", series(Seq(4, 5, 6), t0 = 3))
    }
    assert(e.getMessage.contains("previous data restored"))

    // original container contents survive the failed swap
    val got = store.read("c").orderBy("ts").collect().map(_.getDouble(2))
    assert(got.toSeq == Seq(1.0, 2.0, 3.0))

    // and a subsequent healthy merge still works
    FaultyFs.failNextTmpRename.set(false)
    store.merge("c", series(Seq(4, 5, 6), t0 = 3))
    assert(store.read("c").count() == 6)
  }

  test("failed swap rename into a new container fails loudly; a re-merge lands every point once") {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.faulty.impl", classOf[FaultyFs].getName)
    val warehouse = tmpDir("graft-crash-new")
    val store = new SeriesStore(spark, "faulty://" + warehouse, numBuckets = 4)
    val pts = (0 until 20).map(i => (s"shyft://c/s-$i", i.toLong * S, i.toDouble))
      .toDF("series_id", "ts", "value")
    assert(pts.select("series_id").as[String].collect().map(store.bucketOf).distinct.length > 1,
      "the batch should span several buckets")

    // the first bucket goes live, the second rename fails: a partial swap
    FaultyFs.tmpRenamesToPass.set(1)
    FaultyFs.failNextTmpRename.set(true)
    val e = intercept[java.io.IOException](store.merge("c", pts))
    assert(e.getMessage.contains("merge: failed to move") && e.getMessage.contains("into place"),
      e.getMessage)
    FaultyFs.failNextTmpRename.set(false)
    assert(new java.io.File(s"$warehouse/c").list().count(_.startsWith("bucket=")) == 1)

    store.merge("c", pts)
    val got = store.read("c").orderBy("ts").collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == (0 until 20).map(i => (s"shyft://c/s-$i", i.toLong * S, i.toDouble)))
    val left = new java.io.File(warehouse).list().toSeq
    assert(left == Seq("c"), s"staging siblings left behind: $left")
  }

  // ---- the base/tail split of a bucket ----

  private val H = Period.Hour

  /** Hourly points of the spec's series over hours [from, until). */
  private def hourly(from: Int, until: Int, v: Int => Double = _.toDouble) =
    hourlyOf(Seq(id), from, until, v)

  /** Hourly points of `ids` over hours [from, until). */
  private def hourlyOf(ids: Seq[String], from: Int, until: Int, v: Int => Double) =
    ids.flatMap(i => (from until until).map(h => (i, h * H, v(h)))).toDF("series_id", "ts", "value")

  /** Each segment of the series' bucket: its data files' (name, length, mtime). */
  private def segmentsOf(warehouse: String, store: SeriesStore): Map[String, Set[(String, Long, Long)]] =
    new java.io.File(s"$warehouse/c/bucket=${store.bucketOf(id)}").listFiles().toSeq
      .map(seg => seg.getName -> seg.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.length, f.lastModified)).toSet).toMap

  private val BaseSeg = s"seg=${Long.MinValue}"

  private def hoursOf(store: SeriesStore): Seq[(Long, Double)] =
    store.read("c").orderBy("ts").collect().map(r => (r.getLong(1) / H, r.getDouble(2))).toSeq

  test("a backfill is one write: base below a cut a day before its latest point, tail above") {
    val warehouse = tmpDir("graft-seg-backfill")
    val store = new SeriesStore(spark, warehouse, numBuckets = 2)
    val b = store.bucketOf(id)
    assert(store.merge("c", hourly(0, 72)) == MergeResult(72L, Nil, Seq(b)))
    assert(segmentsOf(warehouse, store).keySet == Set(BaseSeg, s"seg=${47 * H}"))
    val byseg = spark.read.parquet(s"$warehouse/c").groupBy("seg").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byseg == Map(Long.MinValue -> 47L, 47 * H -> 25L), byseg)
    assert(hoursOf(store) == (0 until 72).map(h => h.toLong -> h.toDouble))
  }

  test("a tail-only merge leaves the base files byte-identical") {
    val warehouse = tmpDir("graft-seg-tail")
    val store = new SeriesStore(spark, warehouse, numBuckets = 2)
    store.merge("c", hourly(0, 72))
    val before = segmentsOf(warehouse, store)
    Thread.sleep(20) // a rewritten file would carry a later mtime
    // the window overlaps the tail (last-wins at 70, 71) and extends it
    val got = store.merge("c", hourly(70, 74, _ + 100.0))
    assert(got == MergeResult(4L, Seq(store.bucketOf(id)), Nil))
    val after = segmentsOf(warehouse, store)
    assert(after(BaseSeg) == before(BaseSeg), "the base must not be rewritten")
    assert(after.keySet == before.keySet && after(s"seg=${47 * H}") != before(s"seg=${47 * H}"))
    assert(hoursOf(store) ==
      (0 until 70).map(h => h.toLong -> h.toDouble) ++ (70 until 74).map(h => h.toLong -> (h + 100.0)))
  }

  test("a late point below the cut takes the full path and re-cuts; last-wins holds") {
    val warehouse = tmpDir("graft-seg-late")
    val store = new SeriesStore(spark, warehouse, numBuckets = 2)
    store.merge("c", hourly(0, 72))
    val late = hourly(10, 11, _ => 99.0)
    assert(store.merge("c", late) == MergeResult(1L, Nil, Seq(store.bucketOf(id))))
    assert(segmentsOf(warehouse, store).keySet == Set(BaseSeg, s"seg=${10 * H}"))
    assert(hoursOf(store) == (0 until 72).map(h => h.toLong -> (if (h == 10) 99.0 else h.toDouble)))
    // a batch more than two days past the cut re-cuts too
    assert(store.merge("c", hourly(72, 73)).recut == Seq(store.bucketOf(id)))
    assert(segmentsOf(warehouse, store).keySet == Set(BaseSeg, s"seg=${72 * H}"))
    assert(hoursOf(store).size == 73)
  }

  test("a failed tail rename restores the previous tail") {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.faulty.impl", classOf[FaultyFs].getName)
    val store = new SeriesStore(spark, "faulty://" + tmpDir("graft-seg-fail"), numBuckets = 2)
    store.merge("c", hourly(0, 72))
    FaultyFs.failNextTmpRename.set(true)
    val e = intercept[java.io.IOException](store.merge("c", hourly(72, 74)))
    assert(e.getMessage.contains("/seg=") && e.getMessage.contains("previous data restored"),
      e.getMessage)
    assert(hoursOf(store) == (0 until 72).map(h => h.toLong -> h.toDouble))
    assert(store.merge("c", hourly(72, 74)).tailOnly == Seq(store.bucketOf(id)))
    assert(hoursOf(store).size == 74)
  }

  test("process death between moving the old tail aside and the new one in is repaired") {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.faulty.impl", classOf[FaultyFs].getName)
    val warehouse = tmpDir("graft-seg-death")
    val store = new SeriesStore(spark, "faulty://" + warehouse, numBuckets = 2)
    store.merge("c", hourly(0, 72))
    val tail = s"seg=${47 * H}"
    for (repair <- Seq("read", "merge")) {
      FaultyFs.dieOnNextTmpRename.set(true)
      intercept[FaultyFs.Death](store.merge("c", hourly(72, 74)))
      // the live tail is gone; its only copy is the backup
      assert(!segmentsOf(warehouse, store).contains(tail), repair)
      assert(new java.io.File(s"$warehouse/c.__bak").list().toSeq ==
        Seq(s"bucket=${store.bucketOf(id)}+$tail"))
      if (repair == "read")
        assert(hoursOf(store) == (0 until 72).map(h => h.toLong -> h.toDouble))
      else {
        store.merge("c", hourly(72, 74))
        assert(hoursOf(store).size == 74)
      }
      assert(segmentsOf(warehouse, store).contains(tail), repair)
      assert(new java.io.File(warehouse).list().toSeq == Seq("c"), repair)
    }
  }

  test("a merge killed after staging, before the swap, leaves every point exactly once") {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.faulty.impl", classOf[FaultyFs].getName)
    val warehouse = tmpDir("graft-seg-staged")
    val store = new SeriesStore(spark, "faulty://" + warehouse, numBuckets = 2)
    store.merge("c", hourly(0, 72))
    FaultyFs.dieOnNextBakRename.set(true)
    intercept[FaultyFs.Death](store.merge("c", hourly(70, 74, _ + 100.0)))
    assert(new java.io.File(s"$warehouse/c.__tmp").exists(), "the staged merge is left behind")
    val pts = store.read("c")
    assert(pts.count() == 72 && pts.select("series_id", "ts").distinct().count() == 72)
    assert(hoursOf(store) == (0 until 72).map(h => h.toLong -> h.toDouble))
    // the retried merge sweeps the staging and lands every point once
    store.merge("c", hourly(70, 74, _ + 100.0))
    assert(hoursOf(store) ==
      (0 until 70).map(h => h.toLong -> h.toDouble) ++ (70 until 74).map(h => h.toLong -> (h + 100.0)))
    assert(new java.io.File(warehouse).list().toSeq == Seq("c"))
  }

  // ---- cross-process merge guard (the lock FILE, not the JVM monitor) ----

  test("second driver holding the lock: merge fails loudly, container intact") {
    val warehouse = tmpDir("graft-xproc")
    val store = new SeriesStore(spark, warehouse, numBuckets = 2,
      lockAcquireTimeoutMs = 500L)
    store.merge("c", series(Seq(1, 2, 3), t0 = 0))

    // simulate another driver's live lock (fresh mtime, foreign token)
    val lock = new java.io.File(s"$warehouse/c.__lock")
    java.nio.file.Files.writeString(lock.toPath, "99999@other-host:0")

    val e = intercept[IllegalStateException] {
      store.merge("c", series(Seq(9.0), t0 = 9))
    }
    assert(e.getMessage.contains(".__lock"), s"error must name the lock: ${e.getMessage}")
    assert(e.getMessage.contains("99999@other-host"), "error must name the holder")
    // no corruption: the container still reads exactly its pre-merge rows
    val got = store.read("c").orderBy("ts").collect().map(_.getDouble(2))
    assert(got.toSeq == Seq(1.0, 2.0, 3.0))
    // the foreign lock was NOT broken (it is live, not stale)
    assert(lock.exists())
    lock.delete()
  }

  test("stale lock of a dead driver is broken and the merge proceeds") {
    val warehouse = tmpDir("graft-xproc-stale")
    val store = new SeriesStore(spark, warehouse, numBuckets = 2,
      lockAcquireTimeoutMs = 5000L, staleLockMs = 1000L)
    store.merge("c", series(Seq(1, 2, 3), t0 = 0))

    val lock = new java.io.File(s"$warehouse/c.__lock")
    java.nio.file.Files.writeString(lock.toPath, "99999@dead-host:0")
    assert(lock.setLastModified(System.currentTimeMillis() - 10000L))

    store.merge("c", series(Seq(4.0), t0 = 3)) // must not time out
    val got = store.read("c").orderBy("ts").collect().map(_.getDouble(2))
    assert(got.toSeq == Seq(1.0, 2.0, 3.0, 4.0))
    assert(!lock.exists(), "lock must be released after the merge")
  }

  test("the lock is held during a merge and released after it") {
    val warehouse = tmpDir("graft-xproc-release")
    val store = new SeriesStore(spark, warehouse, numBuckets = 2)
    store.merge("c", series(Seq(1.0), t0 = 0))
    assert(!new java.io.File(s"$warehouse/c.__lock").exists(),
      "successful merge must release the lock file")
    // and a second merge (re-acquiring a fresh lock) still works
    store.merge("c", series(Seq(2.0), t0 = 1))
    assert(store.read("c").count() == 2)
  }

  /** A second series of the spec, in the other of two buckets. */
  private def otherId(store: SeriesStore): String =
    Iterator.from(0).map(i => s"shyft://test/other-$i").find(store.bucketOf(_) != store.bucketOf(id)).get

  /** Every file under the warehouse: (path, length, mtime). */
  private def filesOf(warehouse: String): Set[(String, Long, Long)] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(new java.io.File(warehouse)).map(f => (f.getPath, f.length, f.lastModified)).toSet
  }

  private def rowsIn(store: SeriesStore, c: String): Seq[(String, Long, Double)] =
    store.read(c).collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq.sorted

  test("a declared merge leaves the rows a probed merge leaves") {
    val probed = new SeriesStore(spark, tmpDir("graft-probed"), numBuckets = 2)
    val declaredWh = tmpDir("graft-declared")
    val declared = new SeriesStore(spark, declaredWh, numBuckets = 2)
    val ids = Seq(id, otherId(declared))
    Seq(probed, declared).foreach(_.merge("c", hourlyOf(ids, 0, 72, _.toDouble)))
    val within = (from: Int, until: Int) => SeriesStore.Within(ids, Period(from * H, until * H))
    // a steady window over both series' tails, overlapping them (last wins)
    // and extending them
    val steady = hourlyOf(ids, 70, 74, _ + 100.0)
    val p = probed.merge("c", steady)
    assert(declared.merge("c", steady, within(70, 74)) == p)
    assert(p.tailOnly.size == 2 && rowsIn(declared, "c") == rowsIn(probed, "c"))
    // a window in which one declared series has no rows: both tails are
    // rewritten, the rows are the probed merge's
    val one = hourlyOf(ids.take(1), 74, 76, _ + 200.0)
    probed.merge("c", one)
    val d = declared.merge("c", one, within(74, 76))
    assert(d.points == 2 && d.tailOnly.size == 2 && d.recut.isEmpty, d)
    assert(rowsIn(declared, "c") == rowsIn(probed, "c"))
    // an empty window: nothing is swapped, into an existing container or a
    // missing one
    val before = filesOf(declaredWh)
    val empty = hourlyOf(ids, 76, 76, _.toDouble)
    assert(declared.merge("c", empty, within(76, 78)) == MergeResult.empty)
    assert(filesOf(declaredWh) == before && rowsIn(declared, "c") == rowsIn(probed, "c"))
    assert(declared.merge("new", empty, within(76, 78)) == MergeResult.empty)
    assert(!declared.exists("new"), "an empty batch must not create its container")
  }

  test("rows outside a declaration fail the merge by name and leave the container untouched") {
    val warehouse = tmpDir("graft-undeclared")
    val store = new SeriesStore(spark, warehouse, numBuckets = 2)
    val other = otherId(store)
    store.merge("c", hourlyOf(Seq(id, other), 0, 72, _.toDouble))
    val before = filesOf(warehouse)
    val within = SeriesStore.Within(Seq(id), Period(70 * H, 74 * H))
    def fails(batch: org.apache.spark.sql.DataFrame, container: String) = {
      val e = intercept[SeriesStore.UndeclaredRows](store.merge(container, batch, within))
      assert(e.getMessage.contains(store.containerPath(container)) &&
        e.getMessage.contains(s"[${70 * H}, ${74 * H})"), e.getMessage)
    }
    // a ts outside the window, into the declared (settled) tail
    fails(hourlyOf(Seq(id), 73, 75, _.toDouble), "c")
    // a series the batch did not declare, inside the window
    fails(hourlyOf(Seq(id, other), 72, 74, _.toDouble), "c")
    assert(filesOf(warehouse) == before)
    assert(rowsIn(store, "c").size == 144)
    // a declaration that cannot settle the plan checks its rows all the same
    fails(hourlyOf(Seq(id), 73, 75, _.toDouble), "new")
    assert(!store.exists("new"))
  }

  test("a declared merge the declaration cannot settle reads its source once") {
    val store = new SeriesStore(spark, tmpDir("graft-unsettled"), numBuckets = 2)
    store.merge("c", hourly(0, 72))
    val reads = spark.sparkContext.longAccumulator("source rows")
    def counted(from: Int, until: Int) = {
      val a = reads // local so the udf closure captures only the accumulator
      val f = org.apache.spark.sql.functions.udf { (v: Double) => a.add(1L); v }
      hourly(from, until).withColumn("value", f(col("value")))
    }
    // a new container, and a window before the bucket's cut: both probed
    val fresh = store.merge("new", counted(0, 72), SeriesStore.Within(Seq(id), Period(0L, 72 * H)))
    assert(fresh.points == 72 && reads.value == 72L, s"read ${reads.value} rows for 72")
    reads.reset()
    val late = store.merge("c", counted(10, 12), SeriesStore.Within(Seq(id), Period(10 * H, 12 * H)))
    assert(late == MergeResult(2L, Nil, Seq(store.bucketOf(id))))
    assert(reads.value == 2L, s"read ${reads.value} rows for 2")
    assert(hoursOf(store) == (0 until 72).map(h => h.toLong -> h.toDouble))
  }

  test("a container from before segments fails merge and read by name, every file in place") {
    val warehouse = tmpDir("graft-presegment")
    val store = new SeriesStore(spark, warehouse, numBuckets = 2)
    val other = otherId(store)
    // one bucket in today's layout, the other with its files directly under
    // bucket=N, as a merge before segments wrote it
    store.merge("c", hourlyOf(Seq(other), 0, 4, _.toDouble))
    hourlyOf(Seq(id), 0, 4, _.toDouble).coalesce(1).write
      .parquet(s"$warehouse/c/bucket=${store.bucketOf(id)}")
    val before = filesOf(warehouse)
    def named(body: => Any) = {
      val e = intercept[SeriesStore.PreSegmentContainer](body)
      assert(e.getMessage.contains(store.containerPath("c")) &&
        e.getMessage.contains("delete it and merge again"), e.getMessage)
    }
    named(store.merge("c", hourly(4, 6)))
    named(store.merge("c", hourly(4, 6), SeriesStore.Within(Seq(id), Period(4 * H, 6 * H))))
    named(store.read("c"))
    named(store.read("c", Seq(id), Period(0L, 6 * H)))
    assert(filesOf(warehouse) == before)
  }
}

/** Local filesystem that fails the next rename whose source is a `.__tmp`
  * staging dir (a staged bucket or tail) — injects the exact failure mode
  * SeriesStore.merge must survive (the second rename of a swap).
  * `tmpRenamesToPass` lets that many such renames succeed first, so the
  * failure can land mid-swap. `dieOnNextTmpRename` and `dieOnNextBakRename`
  * throw [[FaultyFs.Death]] instead, at the rename into place or at the
  * move aside into `.__bak`: the merge gets no chance to restore, as when
  * its process dies there.
  */
class FaultyFs extends RawLocalFileSystem {
  override def getScheme: String = "faulty"
  override def getUri: java.net.URI = java.net.URI.create("faulty:///")
  override def rename(src: Path, dst: Path): Boolean = {
    // match only the swap (tmp-staged bucket or tail dir → live container),
    // not the parquet committer's own renames inside the staging dir
    val intoPlace = src.toString.matches(".*\\.__tmp/bucket=\\d+(/seg=-?\\d+)?$")
    if (intoPlace && FaultyFs.dieOnNextTmpRename.getAndSet(false) ||
        dst.toString.contains(".__bak/") && FaultyFs.dieOnNextBakRename.getAndSet(false))
      throw new FaultyFs.Death(s"$src -> $dst")
    if (FaultyFs.failNextTmpRename.get() && intoPlace &&
        FaultyFs.tmpRenamesToPass.getAndUpdate(n => math.max(0, n - 1)) == 0) {
      FaultyFs.failNextTmpRename.set(false)
      false
    } else super.rename(src, dst)
  }
}

object FaultyFs {
  val failNextTmpRename = new java.util.concurrent.atomic.AtomicBoolean(false)
  val tmpRenamesToPass = new java.util.concurrent.atomic.AtomicInteger(0)
  val dieOnNextTmpRename = new java.util.concurrent.atomic.AtomicBoolean(false)
  val dieOnNextBakRename = new java.util.concurrent.atomic.AtomicBoolean(false)

  /** Stands for the merging process dying at a rename. */
  final class Death(at: String) extends RuntimeException(s"simulated process death at rename $at")
}
