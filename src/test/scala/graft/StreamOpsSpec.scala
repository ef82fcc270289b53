package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{col, explode, lit, size, slice, transform, when}
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.StreamOps
import graft.streaming.StreamOps.PointIn
import graft.ts.SeriesStore
import graft.ts.model.Period

/** Structured-Streaming analogs of the reference's micro-batch loop:
  * foreachBatch collection merges each batch with last-wins semantics, and
  * the keyed-state operators carry their state across micro-batches and
  * equal their batch operators on a batch frame.
  */
class StreamOpsSpec extends SparkSpec {
  import spark.implicits._

  private val S = Period.Second

  test("collectStream: micro-batches merge into the store with last-wins reconciliation") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[PointIn]
    val store = new SeriesStore(spark, tmpDir("graft-stream"), numBuckets = 2)
    val q = StreamOps.collectStream(in.toDF(), store, "c", triggerMs = 50)
    try {
      in.addData(PointIn("s", 0 * S, 1.0), PointIn("s", 1 * S, 2.0))
      q.processAllAvailable()
      assert(store.read("c").count() == 2)
      // second batch overlaps t=1 (late duplicate) and extends t=2
      in.addData(PointIn("s", 1 * S, 20.0), PointIn("s", 2 * S, 30.0))
      q.processAllAvailable()
      val got = store.read("c").orderBy("ts").collect()
        .map(r => (r.getLong(1) / S, r.getDouble(2)))
      assert(got.toSeq == Seq(0L -> 1.0, 1L -> 20.0, 2L -> 30.0))
    } finally q.stop()
  }

  test("dedupStream drops duplicates within and across micro-batches") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[PointIn]
    val q = StreamOps.dedupStream(in.toDF(), watermark = "1 hour")
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      in.addData(PointIn("s", 1 * S, 1.0), PointIn("s", 1 * S, 1.0), PointIn("s", 2 * S, 2.0))
      q.processAllAvailable()
      // cross-batch duplicate at t=2 plus a fresh point; a CONFLICTING
      // value at t=3 is not a duplicate and must survive (the store's
      // last-wins merge resolves it downstream)
      in.addData(PointIn("s", 2 * S, 2.0), PointIn("s", 3 * S, 3.0), PointIn("s", 3 * S, 30.0))
      q.processAllAvailable()
      val got = spark.table("dedup_out").orderBy("ts", "value").collect()
        .map(r => (r.getAs[Long]("ts") / S, r.getAs[Double]("value")))
      assert(got.toSeq == Seq(1L -> 1.0, 2L -> 2.0, 3L -> 3.0, 3L -> 30.0))
    } finally q.stop()
  }

  test("lineDedupStream keeps first occurrence per line key within and across batches") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val docs = in.toDF().toDF("doc_id", "text")
    val q = StreamOps.lineDedupStream(docs)
      .writeStream.format("memory").queryName("line_dedup_out")
      .outputMode("append").start()
    def table() = spark.table("line_dedup_out").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    try {
      // "shared line" appears twice in one batch: the (doc_id, line_no)-
      // minimal slot (doc 1, line 1) wins; "  Shared LINE  " normalizes to
      // the same key (lower + trim) and is a duplicate, not a new line
      in.addData((1L, "alpha beta\nshared line"), (2L, "  Shared LINE  \ngamma"))
      q.processAllAvailable()
      val b1 = table()
      assert(b1 == Set((1L, 0, "alpha beta"), (1L, 1, "shared line"),
        (2L, 1, "gamma")))
      // batch 2: a seen key re-arrives (dropped by the cross-batch state),
      // a fresh line lands (kept), an empty slot is screened out
      in.addData((3L, "shared line\n\nnew line"))
      q.processAllAvailable()
      assert(table() == b1 + ((3L, 2, "new line")))
    } finally q.stop()
  }

  test("scoreStream scores documents on ingest with the frozen model, batch-parity") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dims = 8
    val model = ((-1, 0.25, 0.0, 1.0) +:
      (0 until dims).map(b => (b, 0.2 * (b + 1), 0.1 * b, 1.0 + 0.5 * b)))
      .toDF("b", "w", "mu", "sd")
    val in = MemoryStream[(Long, String)]
    val q = graft.pipeline.TextOps.logregScoreFrozen(in.toDF().toDF("doc_id", "text"), model)
      .writeStream.format("memory").queryName("clf_score_out")
      .outputMode("append").start()
    try {
      // a no-token doc is screened at ingest, exactly like the batch face
      in.addData((1L, "alpha beta gamma"), (2L, "!!! ---"))
      q.processAllAvailable()
      in.addData((3L, "beta beta delta"))
      q.processAllAvailable()
      val got = spark.table("clf_score_out").collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getBoolean(2))).toSet
      // exact batch parity by construction: the operator is a stateless
      // narrow map, so the streamed scores ARE the batch scores
      val batch = graft.pipeline.TextOps.logregScoreFrozen(
        Seq((1L, "alpha beta gamma"), (2L, "!!! ---"), (3L, "beta beta delta"))
          .toDF("doc_id", "text"), model)
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getBoolean(2))).toSet
      assert(got == batch && got.map(_._1) == Set(1L, 3L))
    } finally q.stop()
  }

  test("watchdog restarts a crashed query; the retried batch lands") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[PointIn]
    val failFirst = new java.util.concurrent.atomic.AtomicBoolean(true)
    val merged = new java.util.concurrent.atomic.AtomicInteger(0)
    val wd = new StreamOps.StreamWatchdog(spark, () =>
      in.toDF().writeStream.outputMode("append")
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          if (failFirst.getAndSet(false)) throw new RuntimeException("boom")
          merged.addAndGet(batch.count().toInt); ()
        }
        .start(), maxRestarts = 3)
    val q = wd.startWatched()
    try {
      in.addData(PointIn("s", 0, 1.0))
      intercept[Exception] { q.processAllAvailable() } // first run crashes
      val deadline = System.currentTimeMillis() + 30000
      while ((wd.restarts < 1 || (wd.query eq q) || !wd.query.isActive) &&
        System.currentTimeMillis() < deadline) Thread.sleep(50)
      assert(wd.restarts == 1, "exactly one restart after the crash")
      val q2 = wd.query
      assert((q2 ne q) && q2.isActive, "a fresh query must be running")
      q2.processAllAvailable()
      assert(merged.get() >= 1, "the failed batch must be reprocessed after restart")
      // clean stop: no further restart
      q2.stop()
      q2.awaitTermination(30000)
      Thread.sleep(200) // give the listener bus a beat
      assert(wd.restarts == 1, "a clean stop must not restart")
    } finally {
      wd.close()
      if (wd.query != null && wd.query.isActive) wd.query.stop()
    }
  }

  test("watchdog holds the restart factory's failure and leaves no query running") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[PointIn]
    val starts = new java.util.concurrent.atomic.AtomicInteger(0)
    val wd = new StreamOps.StreamWatchdog(spark, () => {
      if (starts.incrementAndGet() > 1)
        throw new IllegalArgumentException("checkpoint in use")
      in.toDF().writeStream.queryName("wd_restart_failure").outputMode("append")
        .foreachBatch { (_: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          throw new RuntimeException("boom")
        }
        .start()
    }, maxRestarts = 3)
    val q = wd.startWatched()
    try {
      in.addData(PointIn("s", 0, 1.0))
      intercept[Exception] { q.processAllAvailable() } // the first run crashes
      val deadline = System.currentTimeMillis() + 30000
      while (wd.restartFailure.isEmpty && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      assert(wd.restartFailure.map(_.getMessage).contains("checkpoint in use"),
        wd.restartFailure)
      org.apache.spark.sql.GraftBridge.drainListenerBus(spark.sparkContext, 30000)
      // one restart was tried and failed; nothing is left to restart
      assert(wd.restarts == 1 && starts.get() == 2, s"${wd.restarts} restarts, ${starts.get()} starts")
      assert((wd.query eq q) && !q.isActive, "the crashed query stays the current one")
      assert(!spark.streams.active.exists(_.name == "wd_restart_failure"),
        "no query of the watched factory may be left running")
    } finally {
      wd.close()
      if (q.isActive) q.stop()
    }
  }

  test("watchdog keeps the watched query's last progress and ignores other queries") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val watched = MemoryStream[PointIn]
    val other = MemoryStream[PointIn]
    val wd = new StreamOps.StreamWatchdog(spark, () =>
      watched.toDF().writeStream.format("memory").queryName("wd_progress_watched")
        .outputMode("append").start())
    assert(wd.lastProgress.isEmpty, "no progress before the first batch")
    val q = wd.startWatched()
    val unwatched = other.toDF().writeStream.format("memory").queryName("wd_progress_other")
      .outputMode("append").start()
    def await(cond: => Boolean): Unit = {
      val deadline = System.currentTimeMillis() + 30000
      while (!cond && System.currentTimeMillis() < deadline) Thread.sleep(20)
    }
    try {
      watched.addData(PointIn("s", 0, 1.0), PointIn("s", S, 2.0))
      q.processAllAvailable()
      watched.addData(PointIn("s", 2 * S, 3.0))
      q.processAllAvailable()
      await(wd.lastProgress.exists(_.batchId == 1L))
      val got = wd.lastProgress.get
      val second = q.recentProgress.find(_.batchId == 1L).get
      assert(got == StreamOps.StreamProgress(1L, 1L, second.batchDuration), got)

      // a batch of another query reaches the listener but not the snapshot
      other.addData(Seq.tabulate(5)(i => PointIn("o", i * S, i.toDouble)): _*)
      unwatched.processAllAvailable()
      org.apache.spark.sql.GraftBridge.drainListenerBus(spark.sparkContext, 30000)
      assert(wd.lastProgress.contains(got), wd.lastProgress)
    } finally {
      wd.close()
      q.stop()
      unwatched.stop()
    }
  }

  test("nearDupStream: batch face == minhashNearDups; pairs span micro-batches") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docsDf = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")

    // batch face: exact parity with the batch operator
    val reference = rowsOf(graft.pipeline.Dedup.minhashNearDups(docsDf))
    assert(rowsOf(StreamOps.nearDupStream(docsDf).toDF()) == reference)
    assert(reference.nonEmpty, "fixture must contain near-dups")

    // streaming face: two micro-batches split mid-corpus must converge to
    // the same pair set, pairing across the split through bucket state
    val docs = docsDf.collect().map(r => (r.getLong(0), r.getString(1)))
    val cut = 250L
    val in = MemoryStream[(Long, String)]
    val out = StreamOps.nearDupStream(in.toDS().toDF("doc_id", "text"))
    val q = out.writeStream.format("memory").queryName("near_dups")
      .outputMode("append").trigger(Trigger.ProcessingTime(50)).start()
    try {
      in.addData(docs.filter(_._1 < cut).toIndexedSeq)
      q.processAllAvailable()
      in.addData(docs.filter(_._1 >= cut).toIndexedSeq)
      q.processAllAvailable()
      val got = rowsOf(spark.table("near_dups"))
      assert(got == reference)
      // the split actually exercised cross-batch state: the fixture has
      // pairs straddling the cut (guard the test's own power)
      val straddling = spark.table("near_dups")
        .where($"id_a" < cut && $"id_b" >= cut).count()
      assert(straddling > 0, "no pair straddles the micro-batch split")
    } finally q.stop()
  }

  test("semanticDupStream: batch face == embeddingNearDups on frozen cells; pairs span micro-batches") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.pipeline.Similarity
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding")
    val centsDf = graft.core.Lineage.truncate(
      Similarity.kmeansCentroids(e, k = 4, iters = 1))
    val cents = centsDf.collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toSeq)).toSeq

    // batch face: exact parity with embeddingNearDups over the same cells
    val cells = e.join(
      Similarity.assignToCentroids(e, centsDf).select("vec_id", "cluster"),
      "vec_id")
    val reference = rowsOf(
      Similarity.embeddingNearDups(cells, threshold = 0.4, cellCol = "cluster"))
    assert(reference.nonEmpty, "fixture must contain semantic near-dups")
    assert(rowsOf(StreamOps.semanticDupStream(e, cents, 0.4).toDF()) == reference)

    // streaming face: a mid-corpus split must converge to the same pair
    // set, pairing across the split through cell state
    val rows = e.collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toSeq))
    val cut = 250L
    val in = MemoryStream[(Long, Seq[Float])]
    val out = StreamOps.semanticDupStream(
      in.toDS().toDF("vec_id", "embedding"), cents, 0.4)
    val q = out.writeStream.format("memory").queryName("sem_dups")
      .outputMode("append").trigger(Trigger.ProcessingTime(50)).start()
    try {
      in.addData(rows.filter(_._1 < cut).toIndexedSeq)
      q.processAllAvailable()
      in.addData(rows.filter(_._1 >= cut).toIndexedSeq)
      q.processAllAvailable()
      assert(rowsOf(spark.table("sem_dups")) == reference)
      val straddling = spark.table("sem_dups")
        .where($"id_a" < cut && $"id_b" >= cut).count()
      assert(straddling > 0, "no pair straddles the micro-batch split")
    } finally q.stop()
  }

  test("annServeStream: batch face == ivfPqAdcTopKFrozen; queries answered per micro-batch from the frozen index") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.pipeline.Similarity
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val n = e.count()
    val (cells, cb, cd) = Similarity.ivfPqTrain(e, m = 2, kc = 4, iters = 1)
    val (ceF, cbF, cdF) = Similarity.ivfPqFreeze(cells, cb, cd, s"spec-$n",
      tmpDir("graft-stream-ann"))
    val queries = e.where(col("vec_id") < 6).select("vec_id", "embedding")

    // batch face: exact parity with the frozen batch server (same frozen
    // files, same probe/ADC/rank arithmetic)
    val reference = rowsOf9(Similarity.ivfPqAdcTopKFrozen(
      queries, ceF, cbF, cdF, topK = 3, nprobe = 2))
    assert(reference.nonEmpty, "fixture must produce ANN hits")
    assert(rowsOf9(StreamOps.annServeStream(queries, ceF, cbF, cdF,
        topK = 3, nprobe = 2).toDF()) == reference)

    // streaming face: queries arriving across micro-batches are each
    // answered from the frozen index; the union must equal the batch run
    val qRows = queries.collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toSeq))
    val in = MemoryStream[(Long, Seq[Float])]
    val out = StreamOps.annServeStream(
      in.toDS().toDF("vec_id", "embedding"), ceF, cbF, cdF,
      topK = 3, nprobe = 2)
    val q = out.toDF().writeStream.format("memory").queryName("ann_hits")
      .outputMode("append").trigger(Trigger.ProcessingTime(50)).start()
    try {
      in.addData(qRows.filter(_._1 < 3).toIndexedSeq)
      q.processAllAvailable()
      val afterFirst = spark.table("ann_hits").count()
      assert(afterFirst > 0, "first micro-batch must already be served")
      in.addData(qRows.filter(_._1 >= 3).toIndexedSeq)
      q.processAllAvailable()
      assert(rowsOf9(spark.table("ann_hits")) == reference)
    } finally q.stop()

    // serving-side geometry guard survives the streaming wrap: wrong
    // query width must raise, not return garbage ranks
    val badQ = queries.selectExpr("vec_id", "slice(embedding, 1, 7) as embedding")
    val err = intercept[Exception] {
      StreamOps.annServeStream(badQ, ceF, cbF, cdF,
        topK = 3, nprobe = 2).toDF().count()
    }
    // the GUARD must be what raised — an unrelated analysis/runtime
    // failure must not pass this test (Spark wraps the executor-side
    // IllegalArgumentException, so match on the guard text through the
    // cause chain rendering)
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(err).exists(_.contains("must equal the frozen model's")),
      s"expected the serving dimension guard, got: ${messages(err).mkString(" | ")}")
  }

  test("annServeStream: many-candidates group (nprobe = all cells) folds " +
    "incrementally and stays bit-equal to the batch server") {
    import graft.pipeline.Similarity
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val (cells, cb, cd) = Similarity.ivfPqTrain(e, m = 2, kc = 4, iters = 1)
    val (ceF, cbF, cdF) = Similarity.ivfPqFreeze(cells, cb, cd,
      s"spec-many-${e.count()}", tmpDir("graft-stream-ann-many"))
    // nprobe = every cell → each query's candidate group is the ENTIRE
    // code table (n·m rows) — the shape the incremental fold exists for:
    // the group function must stream it without materializing, and the
    // result must still be the batch server's exact rows
    val np = ceF.count().toInt
    val queries = e.where(col("vec_id") < 3).select("vec_id", "embedding")
    val reference = rowsOf9(Similarity.ivfPqAdcTopKFrozen(
      queries, ceF, cbF, cdF, topK = 5, nprobe = np))
    assert(reference.nonEmpty)
    assert(rowsOf9(StreamOps.annServeStream(queries, ceF, cbF, cdF,
        topK = 5, nprobe = np).toDF()) == reference,
      "corpus-wide candidate groups must fold to the batch server's rows")
    // mis-shaped frozen cells (wrong centroid width) must fail loudly at
    // construction, not silently truncate the probe fold
    val badCells = ceF.select(col("cell"), slice(col("centroid"), 1, 7).as("centroid"))
    val g = intercept[IllegalArgumentException] {
      StreamOps.annServeStream(queries, badCells, cbF, cdF,
        topK = 5, nprobe = np)
    }
    assert(g.getMessage.contains("every frozen cell centroid"))
  }

  test("crawlRateStream: windowed per-domain fetch counts accumulate " +
    "across micro-batches; batch face == WebOps.crawlRate") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val H = 3600000L * 1000000L // one hour in ns
    // 4 fetches of hot.com in hour 0 (over the 2-cap), 1 in hour 1,
    // 2 of cold.com in hour 0 (at the cap, not over)
    val fetches = Seq(
      (1L, 0L * H + 1000000L, "http://www.hot.com/a"),
      (2L, 0L * H + 2000000L, "http://hot.com/b"),
      (3L, 0L * H + 3000000L, "http://sub.hot.com/c"),
      (4L, 0L * H + 4000000L, "http://hot.com/d"),
      (5L, 1L * H + 1000000L, "http://hot.com/e"),
      (6L, 0L * H + 5000000L, "http://cold.com/a"),
      (7L, 0L * H + 6000000L, "http://cold.com/b"))
    def rowsOfDf(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .toSet
    val batch = rowsOfDf(graft.pipeline.WebOps.crawlRate(
      fetches.toDF("event_id", "ts", "url"), 3600000L, 2))
    assert(batch == Set(
      ("hot.com", 0L, 4L, true), ("hot.com", 3600000L, 1L, false),
      ("cold.com", 0L, 2L, false)))
    // streaming kernel in batch mode == the batch face
    assert(rowsOfDf(StreamOps.crawlRateStream(
      fetches.toDF("event_id", "ts", "url"), 3600000L, 2, "1 minute"))
      == batch)
    // streaming: the same fetches split across two micro-batches; in
    // Update mode the LAST emission per (domain, window) is the answer
    val in = MemoryStream[(Long, Long, String)]
    val q = StreamOps.crawlRateStream(
        in.toDS().toDF("event_id", "ts", "url"), 3600000L, 2, "1 minute")
      .writeStream.outputMode("update").format("memory")
      .queryName("crawl_rate_stream").start()
    try {
      in.addData(fetches.take(3).toIndexedSeq)
      q.processAllAvailable()
      in.addData(fetches.drop(3).toIndexedSeq)
      q.processAllAvailable()
    } finally q.stop()
    val last = spark.table("crawl_rate_stream").collect().zipWithIndex
      .groupBy(t => (t._1.getString(0), t._1.getLong(1)))
      .map { case (k, rs) =>
        val r = rs.maxBy(_._2)._1
        (k._1, k._2, r.getLong(2), r.getBoolean(3))
      }.toSet
    assert(last == batch,
      "cross-batch window state must converge to the batch rows")
  }

  test("blocklistStream drops blocked docs at ingest across micro-batches " +
    "== batch blocklistFilter") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = Seq(
      (1L, "http://ok.com/a"),
      (2L, "http://www.bad.co.uk/a"),
      (3L, "http://ok.com/private/x?utm_source=r"),
      (4L, "http://ok.com/public/y"),
      (5L, "http://sub.bad.co.uk/b"))
    val bl = Seq(
      ("domain", "bad.co.uk"),
      ("prefix", "http://ok.com/private/")).toDF("kind", "pattern")
    val batchRef = graft.pipeline.WebOps
      .blocklistFilter(docs.toDF("doc_id", "url"), bl)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val in = MemoryStream[(Long, String)]
    val out = graft.pipeline.WebOps.blocklistFilter(in.toDS().toDF("doc_id", "url"), bl)
      .select("doc_id", "canonical_url", "domain")
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("blocklist_stream").start()
    try {
      in.addData(docs.take(3).toIndexedSeq)
      q.processAllAvailable()
      in.addData(docs.drop(3).toIndexedSeq)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("blocklist_stream").collect()
      .map(_.getLong(0)).toSet
    assert(got == batchRef && got == Set(1L, 4L),
      "stream survivors must equal the batch gate's survivors")
  }

  test("robotsStream: REP verdicts on a stream == batch robotsEval") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rules = Seq(
      ("ex.com", "disallow", "/a/1"),
      ("ex.com", "allow", "/a/13")).toDF("domain", "directive", "path_prefix")
    val docs = Seq(
      (1L, "http://ex.com/a/1"),
      (2L, "http://ex.com/a/13"),
      (3L, "http://ex.com/b"),
      (4L, "http://www.ex.com/a/12"))
    val batchRef = graft.pipeline.WebOps
      .robotsEval(docs.toDF("doc_id", "url"), rules)
      .select("doc_id", "allowed", "matched_prefix").collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(1), r.getString(2)))).toMap
    val in = MemoryStream[(Long, String)]
    val out = graft.pipeline.WebOps.robotsEval(in.toDS().toDF("doc_id", "url"), rules)
      .select("doc_id", "allowed", "matched_prefix")
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("robots_stream").start()
    try {
      in.addData(docs.take(2).toIndexedSeq)
      q.processAllAvailable()
      in.addData(docs.drop(2).toIndexedSeq)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("robots_stream").collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(1), r.getString(2)))).toMap
    assert(got == batchRef, "stream verdicts must equal the batch face")
    assert(got(1L) == ((false, "/a/1")) && got(2L) == ((true, "/a/13")))
  }

  test("fetchScheduleStream continues the politeness recurrence across " +
    "micro-batches == batch fetchSchedule") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val delay = 100L
    val fetches = Seq(
      (1L, "http://a.com/1", 1000L),
      (2L, "http://a.com/2", 1010L),
      (3L, "http://b.com/1", 1000L),
      (4L, "http://a.com/3", 1500L),   // arrives in batch 2
      (5L, "http://a.com/4", 1400L),
      (6L, "http://b.com/2", 2000L))
    def toDf(rows: Seq[(Long, String, Long)]) =
      rows.map { case (id, u, ms) => (id, u, ms * 1000000L) }
        .toDF("event_id", "url", "ts")
    val batchRef = graft.pipeline.WebOps
      .fetchSchedule(toDf(fetches), delayMs = delay)
      .select("event_id", "fetch_rank", "scheduled_ms", "wait_ms")
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    // batch face: one invocation per domain from empty state
    val batchGot = StreamOps.fetchScheduleStream(toDf(fetches),
        delayMs = delay)
      .toDF().select("event_id", "fetch_rank", "scheduled_ms", "wait_ms")
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(batchGot == batchRef, "batch face must equal WebOps.fetchSchedule")
    // streaming: later batches carry higher ids (the growing crawl queue)
    val in = MemoryStream[(Long, String, Long)]
    val out = StreamOps.fetchScheduleStream(
      in.toDS().select(col("_1").as("event_id"), col("_2").as("url"),
        (col("_3") * 1000000L).as("ts")), delayMs = delay).toDF()
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("fetch_sched_stream").start()
    try {
      in.addData(fetches.take(3).toIndexedSeq)
      q.processAllAvailable()
      in.addData(fetches.drop(3).toIndexedSeq)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("fetch_sched_stream")
      .select("event_id", "fetch_rank", "scheduled_ms", "wait_ms")
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got == batchRef,
      "cross-batch recurrence must equal the batch recompute")
  }

  test("urlDedupStream: refetches across micro-batches collapse onto one " +
    "canonical identity; batch face == WebOps.urlDedup") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val urls = Seq(
      (10L, "https://www.ex.com/p?id=3&utm_source=a"),
      (11L, "HTTPS://WWW.Ex.COM:443/p?id=3"),
      (12L, "https://www.ex.com/p/?fbclid=z&id=3"),
      (13L, "https://www.ex.com/p?id=3#frag"),
      (20L, "https://www.ex.com/p?id=4"))
    // batch face: one batch from empty state IS the batch operator
    val batchGot = StreamOps.urlDedupStream(urls.toDF("doc_id", "url"))
      .toDF().collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val batchRef = graft.pipeline.WebOps.urlDedup(urls.toDF("doc_id", "url"))
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(batchGot == batchRef, "batch face must equal WebOps.urlDedup")
    // streaming face: later batches deliver refetches with LOWER ids —
    // the keeper tightens and the count accumulates across batches
    val in = MemoryStream[(Long, String)]
    val out = StreamOps.urlDedupStream(in.toDS().toDF("doc_id", "url"))
    val q = out.writeStream.outputMode("update").format("memory")
      .queryName("url_dedup_stream").start()
    try {
      in.addData(urls.drop(2).toIndexedSeq) // ids 12, 13, 20 first
      q.processAllAvailable()
      in.addData(urls.take(2).toIndexedSeq) // then 10, 11 (earlier fetches)
      q.processAllAvailable()
    } finally q.stop()
    // last emission per key is the running answer == the batch answer
    val last = spark.table("url_dedup_stream").collect()
      .zipWithIndex
      .groupBy(_._1.getString(0))
      .map { case (k, rs) =>
        val r = rs.maxBy(_._2)._1
        k -> ((r.getLong(1), r.getLong(2)))
      }
    assert(last == batchRef,
      "cross-batch state must converge to the batch identity rows")
  }

  test("convDedupStream: conversations across micro-batches collapse onto " +
    "one rendered identity; batch face == ChatOps.conversationDedup") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.pipeline.ChatOps
    val turns = Seq(
      (10L, 0, "user", "hi"), (10L, 1, "assistant", "hello"),
      (12L, 0, "user", "hi"), (12L, 1, "assistant", "hello"),
      (11L, 0, "user", "hi"), (11L, 1, "assistant", "hello there"))
      .toDF("conv_id", "turn_no", "role", "content")
    val rendered = ChatOps.renderChat(turns).select("conv_id", "text")
    val batchGot = StreamOps.convDedupStream(rendered).toDF().collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val batchRef = ChatOps.conversationDedup(turns).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(batchGot == batchRef,
      "batch face must equal ChatOps.conversationDedup")
    // streaming face: a later batch delivers a copy with a LOWER id —
    // the keeper tightens and the copy count accumulates across batches
    val renderedRows = rendered.collect()
      .map(r => (r.getLong(0), r.getString(1))).toIndexedSeq
    val in = MemoryStream[(Long, String)]
    val out = StreamOps.convDedupStream(in.toDS().toDF("conv_id", "text"))
    val q = out.writeStream.outputMode("update").format("memory")
      .queryName("conv_dedup_stream").start()
    try {
      in.addData(renderedRows.filter(_._1 != 10L))
      q.processAllAvailable()
      in.addData(renderedRows.filter(_._1 == 10L))
      q.processAllAvailable()
    } finally q.stop()
    val last = spark.table("conv_dedup_stream").collect().zipWithIndex
      .groupBy(_._1.getString(0))
      .map { case (k, rs) =>
        val r = rs.maxBy(_._2)._1
        k -> ((r.getLong(1), r.getLong(2)))
      }
    assert(last == batchRef,
      "cross-batch state must converge to the batch identity rows")
  }

  test("pqEncodeStream: batch face == pqEncodeFrozen; micro-batches append " +
    "to the frozen codes relation") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.pipeline.Similarity
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val boot = e.where(col("vec_id") % 3 =!= 0)
    val batch = e.where(col("vec_id") % 3 === 0)
    val (cb, cd) = Similarity.pqTrain(boot, m = 2, kc = 4, iters = 1)
    val base = tmpDir("graft-stream-pqadd")
    val modelId = s"spec-add-${boot.count()}"
    val (cbF, _) = Similarity.pqFreeze(cb, cd, modelId, base)

    // batch face: the streaming encode must land on exactly the batch
    // maintenance rows (the same argmin kernel)
    val reference = rowsOf(Similarity.pqEncodeFrozen(batch, cbF)
      .select("vec_id", "subspace", "cluster", "dist"))
    assert(reference.nonEmpty)
    assert(rowsOf(StreamOps.pqEncodeStream(batch, cbF)
        .select("vec_id", "subspace", "cluster", "dist")) == reference,
      "stream encode kernel must equal pqEncodeFrozen bit-for-bit")

    // streaming face: vectors arriving across micro-batches, appended to
    // the frozen codes relation via the foreachBatch sink — the read-back
    // under this model's partition must hold bootstrap + ingested codes
    val before = spark.read.parquet(s"$base/codes")
      .where(col("model_id") === modelId).count()
    val rows = batch.select(col("vec_id"),
        transform(col("embedding"), _.cast("double")).as("embedding"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toSeq))
    val in = MemoryStream[(Long, Seq[Double])]
    val q = StreamOps.pqEncodeAppendSink(
      in.toDS().toDF("vec_id", "embedding"), cbF, base, modelId,
      triggerMs = 50)
    try {
      in.addData(rows.filter(_._1 % 2 == 0).toIndexedSeq)
      q.processAllAvailable()
      in.addData(rows.filter(_._1 % 2 == 1).toIndexedSeq)
      q.processAllAvailable()
    } finally q.stop()
    val after = spark.read.parquet(s"$base/codes")
      .where(col("model_id") === modelId)
    assert(after.count() == before + reference.size,
      "sink must append exactly the ingested batch's codes")
    // ingested codes are indistinguishable from batch-encoded ones, and
    // the appended rows carry the frozen relation's exact schema (the
    // dist diagnostic must NOT fork the schema against bootstrap rows)
    assert(after.columns.sorted.toSeq
      == Seq("cluster", "model_id", "subspace", "vec_id"))
    val ingested = after.where(col("vec_id") % 3 === 0)
      .select("vec_id", "subspace", "cluster")
    assert(rowsOf(ingested) == rowsOf(Similarity.pqEncodeFrozen(batch, cbF)
      .select("vec_id", "subspace", "cluster")))
    // at-least-once replay: foreachBatch re-fires with the SAME batch id
    // after a failure — re-committing it must not duplicate code rows
    // (per-batch deterministic file names, delete-then-rename)
    val replayRows = rows.filter(_._1 % 2 == 1).toIndexedSeq
    StreamOps.pqEncodeAppendBatch(
      replayRows.toDF("vec_id", "embedding"), cbF, base, modelId,
      batchId = 1L)
    val replayed = spark.read.parquet(s"$base/codes")
      .where(col("model_id") === modelId)
    assert(replayed.count() == before + reference.size,
      "replaying a committed batch id must be a no-op on row counts")
    assert(replayed.groupBy("vec_id", "subspace").count()
      .where(col("count") > 1).count() == 0,
      "no (vec_id, subspace) may appear twice after a replay")
    // geometry guard survives the stream kernel
    val bad = batch.selectExpr("vec_id", "slice(embedding, 1, 7) as embedding")
    val err = intercept[Exception] {
      StreamOps.pqEncodeStream(bad, cbF).count()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(err).exists(_.contains("must equal the frozen")),
      s"expected the encode dimension guard, got: ${messages(err).mkString(" | ")}")
  }

  test("intervalJoinStream: stream-stream join parity with the batch operator") {
    import org.apache.spark.sql.functions._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val NS = 1_000_000_000L
    // modern time base: the initial stream watermark is epoch 0, and rows
    // AT the watermark are dropped as late — epoch-adjacent event times
    // would silently discard the ts=0 rows (observed: 2 dropped, 0 joined)
    val B = 1704067200L * NS // 2024-01-01
    // (user, id, ts): purchase at click+3600s is INCLUSIVE; 4000s is out
    val clickRows = Seq((1L, 10L, B), (1L, 11L, B + 100 * NS), (2L, 20L, B))
    val buyRows = Seq((1L, 100L, B + 50 * NS), (1L, 101L, B + 4000 * NS),
      (2L, 200L, B + 3600 * NS))
    val clicks = MemoryStream[(Long, Long, Long)]
    val buys = MemoryStream[(Long, Long, Long)]
    def withTime(df: org.apache.spark.sql.DataFrame, ns: String, t: String) =
      df.withColumn(t, timestamp_micros(expr(s"$ns div 1000")))
    val joined = graft.ops.IntervalJoin.intervalJoinStream(
      withTime(clicks.toDF().toDF("user_id", "click_id", "click_ns"), "click_ns", "click_time"),
      withTime(buys.toDF().toDF("user_id", "purchase_id", "purchase_ns"), "purchase_ns", "purchase_time"),
      "user_id", "click_time", "purchase_time", "1 hour", "2 hours")
    val q = joined.select("click_id", "purchase_id")
      .writeStream.format("memory").queryName("ij_out").outputMode("append").start()
    try {
      clicks.addData(clickRows: _*)
      buys.addData(buyRows: _*)
      q.processAllAvailable()
      val got = spark.table("ij_out").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val batch = graft.ops.IntervalJoin.intervalJoin(
        clickRows.toDF("user_id", "click_id", "click_ns"),
        buyRows.toDF("user_id", "purchase_id", "purchase_ns"),
        "user_id", "click_ns", "purchase_ns", 3600 * NS)
        .select("click_id", "purchase_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == batch, s"stream $got vs batch $batch")
      assert(got == Set(10L -> 100L, 20L -> 200L), got.toString)
    } finally q.stop()
  }

  test("ewmaStream: exact recursion across micro-batches; late points dropped") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[PointIn]
    val q = StreamOps.ewmaStream(in.toDS(), alpha = 0.5)
      .writeStream.format("memory").queryName("ewma_out")
      .outputMode("append").start()
    try {
      in.addData(PointIn("a", 1 * S, 4.0), PointIn("a", 2 * S, 8.0))
      q.processAllAvailable()
      // second batch: state must carry y=6.0 forward; the t=1 retro point
      // and the NaN sample must both be dropped
      in.addData(PointIn("a", 3 * S, 10.0), PointIn("a", 1 * S, 99.0),
        PointIn("a", 4 * S, Double.NaN))
      q.processAllAvailable()
      val got = spark.table("ewma_out").orderBy("ts").collect()
        .map(r => (r.getAs[Long]("ts") / S, r.getAs[Double]("ewma")))
      // y1 = 4; y2 = .5·4 + .5·8 = 6; y3 = .5·6 + .5·10 = 8
      assert(got.toSeq == Seq(1L -> 4.0, 2L -> 6.0, 3L -> 8.0))
    } finally q.stop()
  }

  test("ewmaStream parity under the RocksDB state store backend") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val in = MemoryStream[PointIn]
      val q = StreamOps.ewmaStream(in.toDS(), alpha = 0.5)
        .writeStream.format("memory").queryName("ewma_rocks")
        .outputMode("append").start()
      try {
        in.addData(PointIn("a", 1 * S, 4.0), PointIn("a", 2 * S, 8.0))
        q.processAllAvailable()
        in.addData(PointIn("a", 3 * S, 10.0), PointIn("a", 1 * S, 99.0),
          PointIn("a", 4 * S, Double.NaN))
        q.processAllAvailable()
        // identical recursion to the default-backend test: y1=4, y2=6, y3=8
        val got = spark.table("ewma_rocks").orderBy("ts").collect()
          .map(r => (r.getAs[Long]("ts") / S, r.getAs[Double]("ewma")))
        assert(got.toSeq == Seq(1L -> 4.0, 2L -> 6.0, 3L -> 8.0))
        // prove the backend actually engaged: RocksDB publishes its own
        // state-operator custom metrics
        val metrics = q.lastProgress.stateOperators.flatMap(
          _.customMetrics.keySet().toArray(Array.empty[String]))
        assert(metrics.exists(_.toLowerCase.contains("rocksdb")),
          s"expected rocksdb state metrics, got ${metrics.mkString(",")}")
      } finally q.stop()
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  // ProcessingTimeTimeout makes shouldRunAnotherBatch unconditionally true:
  // the query schedules batches forever (by design — timeouts can always
  // fire), so processAllAvailable NEVER quiesces on these queries. The
  // eviction tests therefore poll the sink instead of draining the query.
  private def eventually(what: String, timeoutMs: Long = 20000L)(cond: => Boolean): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!cond) {
      assert(System.currentTimeMillis() < deadline, s"timed out waiting for: $what")
      Thread.sleep(100)
    }
  }

  test("ewmaStream idle eviction: an evicted series restarts its recursion") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[PointIn]
    val q = StreamOps.ewmaStream(in.toDS(), alpha = 0.5, idleTimeoutMs = Some(300L))
      .writeStream.format("memory").queryName("ewma_evict")
      .outputMode("append").trigger(Trigger.ProcessingTime(100))
      .start()
    try {
      def rows() = spark.table("ewma_evict").collect()
        .map(r => (r.getAs[Long]("ts") / S, r.getAs[Double]("ewma"))).toSeq
      in.addData(PointIn("a", 10 * S, 4.0))
      eventually("first point lands")(rows().contains(10L -> 4.0))
      Thread.sleep(1000) // well past the 300 ms idle window; batches churn
      // series a was evicted: a RETROACTIVE point (ts < the old lastTs) is
      // accepted and restarts the recursion at y0 = its value — retained
      // state would have dropped it as late
      in.addData(PointIn("a", 5 * S, 100.0))
      eventually("retro point restarts the series")(rows().contains(5L -> 100.0))
      assert(rows().toSet == Set(10L -> 4.0, 5L -> 100.0))
    } finally q.stop()
  }

  test("kmvStream: batch face == kmvDistinct; sketch refines across micro-batches") {
    import graft.pipeline.Sketches
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val events = spark.read.parquet(s"$sfDir/events.parquet")
    val reference = rowsOf(
      Sketches.kmvDistinct(events, 64, Seq("event_type"), "user_id"))
    assert(rowsOf(StreamOps.kmvStream(events, 64, "event_type", "user_id")
      .toDF().withColumnRenamed("grp", "event_type")) == reference)

    // streaming face: the k-min merge is associative, so the post-split
    // estimate must equal the batch sketch over the union of both batches
    val b1 = (0 until 50).map(i => ("g", s"a$i"))
    val b2 = (0 until 60).map(i => ("g", s"b$i"))
    val in = MemoryStream[(String, String)]
    val q = StreamOps.kmvStream(in.toDS().toDF("grp", "v"), 16, "grp", "v")
      .writeStream.format("memory").queryName("kmv_stream")
      .outputMode("append").trigger(Trigger.ProcessingTime(50)).start()
    try {
      in.addData(b1)
      q.processAllAvailable()
      in.addData(b2)
      q.processAllAvailable()
      val got = spark.table("kmv_stream").collect()
        .map(r => (r.getAs[Long]("n_kept"), r.getAs[Long]("kth_min"),
          r.getAs[Double]("est_distinct"))).toSet
      def batchRow(data: Seq[(String, String)]) = {
        val r = Sketches.kmvDistinct(data.toDF("grp", "v"), 16, Seq("grp"), "v")
          .collect().head
        (r.getAs[Long]("n_kept"), r.getAs[Long]("kth_min"),
          r.getAs[Double]("est_distinct"))
      }
      // first emission sketches batch 1 alone; second the union
      assert(got == Set(batchRow(b1), batchRow(b1 ++ b2)),
        s"got $got")
    } finally q.stop()
  }

  test("cmsStream: batch face == cmsSketch; counters accumulate across micro-batches") {
    import graft.pipeline.Sketches
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(explode(graft.pipeline.TextOps.tokens(col("text"))).as("term"))
    val reference = rowsOf(Sketches.cmsSketch(docs, "term"))
    assert(rowsOf(StreamOps.cmsStream(docs, "term").toDF()) == reference)

    // streaming face: counter addition is associative — after both batches
    // every re-emitted cell matches the batch sketch over the union
    val b1 = Seq("a", "a", "b")
    val b2 = Seq("a", "c", "c")
    val in = MemoryStream[String]
    val q = StreamOps.cmsStream(in.toDS().toDF("v"), "v", d = 2, w = 8)
      .writeStream.format("memory").queryName("cms_stream")
      .outputMode("append").trigger(Trigger.ProcessingTime(50)).start()
    try {
      in.addData(b1)
      q.processAllAvailable()
      in.addData(b2)
      q.processAllAvailable()
      // latest emission per cell (micro-batch id not exposed: max cnt wins,
      // counters only grow)
      val got = spark.table("cms_stream").collect()
        .map(r => (r.getAs[Int]("j"), r.getAs[Long]("bucket"), r.getAs[Long]("cnt")))
        .groupBy(t => (t._1, t._2)).map { case (_, v) => v.maxBy(_._3) }.toSet
      val want = Sketches.cmsSketch((b1 ++ b2).toDF("v"), "v", d = 2, w = 8)
        .collect().map(r => (r.getAs[Int]("j"), r.getAs[Long]("bucket"),
          r.getAs[Long]("cnt"))).toSet
      assert(got == want, s"got $got want $want")
    } finally q.stop()
  }

  test("hllStream: batch face == hllDistinct; register merge refines across micro-batches") {
    import graft.pipeline.Sketches
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val events = spark.read.parquet(s"$sfDir/events.parquet")
    val reference = rowsOf(
      Sketches.hllDistinct(events, 10, Seq("event_type"), "user_id"))
    assert(rowsOf(StreamOps.hllStream(events, 10, "event_type", "user_id")
      .toDF().withColumnRenamed("grp", "event_type")) == reference)

    // streaming face: register max-merge is associative, so the post-split
    // estimate must equal the batch sketch over the union of both batches
    val b1 = (0 until 50).map(i => ("g", s"a$i"))
    val b2 = (0 until 60).map(i => ("g", s"b$i"))
    val in = MemoryStream[(String, String)]
    val q = StreamOps.hllStream(in.toDS().toDF("grp", "v"), 10, "grp", "v")
      .writeStream.format("memory").queryName("hll_stream")
      .outputMode("append").trigger(Trigger.ProcessingTime(50)).start()
    try {
      in.addData(b1)
      q.processAllAvailable()
      in.addData(b2)
      q.processAllAvailable()
      val got = spark.table("hll_stream").collect()
        .map(r => (r.getAs[Long]("n_registers_hit"),
          r.getAs[Double]("est_distinct"))).toSet
      def batchRow(data: Seq[(String, String)]) = {
        val r = Sketches.hllDistinct(data.toDF("grp", "v"), 10, Seq("grp"), "v")
          .collect().head
        (r.getAs[Long]("n_registers_hit"), r.getAs[Double]("est_distinct"))
      }
      // first emission sketches batch 1 alone; second the union
      assert(got == Set(batchRow(b1), batchRow(b1 ++ b2)), s"got $got")
    } finally q.stop()
  }

  test("quantileStream: batch face == quantileSketch; sample merge refines across micro-batches") {
    import graft.pipeline.Sketches
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val events = spark.read.parquet(s"$sfDir/events.parquet")
    val reference = rowsOf(Sketches.quantileSketch(
      events, 64, Seq("event_type"), "event_id", "value"))
    assert(rowsOf(
      StreamOps.quantileStream(events, 64, "event_type", "event_id", "value")
        .toDF().withColumnRenamed("grp", "event_type")) == reference)

    // streaming face: bottom-k-by-hash merge is associative — after both
    // batches the emitted estimates equal the batch sketch of the union
    val b1 = (0 until 50).map(i => ("g", i.toLong, i * 2.0))
    val b2 = (50 until 120).map(i => ("g", i.toLong, i * 2.0))
    val in = MemoryStream[(String, Long, Double)]
    val q = StreamOps.quantileStream(
        in.toDS().toDF("grp", "rid", "x"), 16, "grp", "rid", "x")
      .writeStream.format("memory").queryName("quantile_stream")
      .outputMode("append").trigger(Trigger.ProcessingTime(50)).start()
    try {
      in.addData(b1)
      q.processAllAvailable()
      in.addData(b2)
      q.processAllAvailable()
      val got = spark.table("quantile_stream").collect()
        .map(r => (r.getAs[Double]("q"), r.getAs[Long]("n_sample"),
          r.getAs[Double]("est_q"))).toSet
      def batchRows(data: Seq[(String, Long, Double)]) =
        Sketches.quantileSketch(data.toDF("grp", "rid", "x"), 16,
            Seq("grp"), "rid", "x").collect()
          .map(r => (r.getAs[Double]("q"), r.getAs[Long]("n_sample"),
            r.getAs[Double]("est_q"))).toSet
      assert(got == batchRows(b1) ++ batchRows(b1 ++ b2), s"got $got")
    } finally q.stop()
  }

  test("kmvStream idle eviction: an evicted group restarts its sketch") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(String, String)]
    val q = StreamOps.kmvStream(in.toDS().toDF("grp", "v"), 8, "grp", "v",
      idleTimeoutMs = Some(300L))
      .writeStream.format("memory").queryName("kmv_evict")
      .outputMode("append").trigger(Trigger.ProcessingTime(100)).start()
    try {
      def rows() = spark.table("kmv_evict").collect()
        .map(r => r.getAs[Long]("n_kept")).toSeq
      in.addData((0 until 6).map(i => ("g", s"v$i")))
      eventually("first sketch lands")(rows().contains(6L))
      Thread.sleep(1000) // past the 300 ms idle window; state evicts
      in.addData(Seq(("g", "fresh")))
      // a retained sketch would report 7; the evicted group restarts at 1
      eventually("restarted sketch lands")(rows().contains(1L))
      assert(!rows().contains(7L), s"state survived eviction: ${rows()}")
    } finally q.stop()
  }

  test("nearDupStream idle eviction: a forgotten bucket misses the later dup") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ta = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val in = MemoryStream[(Long, String)]
    val q = StreamOps.nearDupStream(in.toDS().toDF("doc_id", "text"),
      idleTimeoutMs = Some(300L))
      .writeStream.format("memory").queryName("nd_evict")
      .outputMode("append").trigger(Trigger.ProcessingTime(100))
      .start()
    try {
      def inputRows() = q.recentProgress.map(_.numInputRows).sum
      in.addData((1L, ta))
      eventually("doc 1 ingested")(inputRows() >= 1)
      Thread.sleep(1000) // doc 1's bucket state evicts
      in.addData((2L, ta)) // exact dup of the forgotten doc
      eventually("doc 2 ingested")(inputRows() >= 2)
      Thread.sleep(500) // grace: any pair emission would have landed
      // the documented recency-window trade: the pair goes undetected
      assert(spark.table("nd_evict").isEmpty,
        "evicted bucket must forget doc 1 (the documented trade)")
    } finally q.stop()
  }

  test("semanticDupStream idle eviction: a forgotten cell misses the later dup") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val v = Seq(0.7f, 0.7f, 0.1f, 0.0f)
    val cents = Seq((0L, Seq(1.0, 0.0, 0.0, 0.0)), (1L, Seq(0.0, 0.0, 0.0, 1.0)))
    val in = MemoryStream[(Long, Seq[Float])]
    val q = StreamOps.semanticDupStream(in.toDS().toDF("vec_id", "embedding"),
      cents, threshold = 0.9, idleTimeoutMs = Some(300L))
      .writeStream.format("memory").queryName("sd_evict")
      .outputMode("append").trigger(Trigger.ProcessingTime(100))
      .start()
    try {
      def inputRows() = q.recentProgress.map(_.numInputRows).sum
      in.addData((1L, v))
      eventually("vec 1 ingested")(inputRows() >= 1)
      Thread.sleep(1000) // vec 1's cell state evicts
      in.addData((2L, v)) // exact dup of the forgotten vector
      eventually("vec 2 ingested")(inputRows() >= 2)
      Thread.sleep(500)
      assert(spark.table("sd_evict").isEmpty,
        "evicted cell must forget vec 1 (the documented trade)")
    } finally q.stop()
  }

  test("windowedStats groups into tumbling event-time windows") {
    import org.apache.spark.sql.functions._
    val pts = Seq(("s", 10 * S, 1.0), ("s", 20 * S, 5.0), ("s", 70 * S, 3.0))
      .toDF("series_id", "ts", "value")
    val got = StreamOps.windowedStats(pts, "1 minute", "1 minute")
      .select(col("series_id"), unix_micros(col("window.start")).as("w"),
        col("min_value"), col("max_value"), col("n_points"))
      .orderBy("w").collect()
    assert(got.length == 2)
    assert(got(0).getAs[Long]("n_points") == 2L && got(0).getAs[Double]("max_value") == 5.0)
    assert(got(1).getAs[Long]("n_points") == 1L && got(1).getAs[Double]("min_value") == 3.0)
  }
  test("cdcStream: micro-batch splits converge; composes to Cdc.latestState") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[StreamOps.CdcIn]
    val q = StreamOps.cdcStream(in.toDF(), idCol = "id", payloadCol = "payload")
      .writeStream.format("memory").queryName("cdc_out")
      .outputMode("append").start()
    try {
      in.addData(StreamOps.CdcIn(1L, Some("a2"), 2L, "U"),
        StreamOps.CdcIn(2L, Some("b"), 1L, "I"))
      q.processAllAvailable()
      // batch 2: a LATE lower-seq version for id 1 (must not regress) and
      // a delete for id 2
      in.addData(StreamOps.CdcIn(1L, Some("a1"), 1L, "U"),
        StreamOps.CdcIn(2L, None, 3L, "D"))
      q.processAllAvailable()
      val finalById = spark.table("cdc_out").collect()
        .map(r => (r.getAs[Long]("doc_id"),
          (r.getAs[Long]("seq"), r.getAs[String]("op"), Option(r.getAs[String]("text")))))
        .groupBy(_._1).map { case (id, xs) => id -> xs.map(_._2).maxBy(t => (t._1, t._2)) }
      assert(finalById == Map(
        1L -> ((2L, "U", Some("a2"))),
        2L -> ((3L, "D", None))), s"got $finalById")
    } finally q.stop()

    // batch frame: the stream face's fold + a base join IS Cdc.latestState
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("doc_id", "text")
    val log = Seq((1L, "a2", 1L, "U"), (1L, "a3", 2L, "U"),
      (2L, null.asInstanceOf[String], 1L, "D"), (4L, "d", 1L, "I"))
      .toDF("doc_id", "text", "seq", "op")
    val latest = StreamOps.cdcStream(log).toDF()
      .select(col("doc_id"), col("op").as("__op"), col("text").as("__p"))
    val composed = base.join(latest, Seq("doc_id"), "full_outer")
      .where(col("__op").isNull || col("__op") =!= "D")
      .select(col("doc_id"),
        when(col("__op").isNotNull, col("__p")).otherwise(col("text")).as("text"))
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("text"))).toSet
    val direct = graft.ops.Cdc.latestState(base, log)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("text"))).toSet
    assert(composed == direct)
  }

  test("dedupWindowStream: late earlier event takes over its cell; equals firstPerWindow on the union") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val h = 3600L * 1000000000L
    val in = MemoryStream[StreamOps.DwIn]
    // DwIn.window_start is recomputed by the op from ts; feed raw rows
    val q = StreamOps.dedupWindowStream(
      in.toDF().select("user_id", "event_type", "ts", "event_id"), h)
      .writeStream.format("memory").queryName("dw_out")
      .outputMode("append").start()
    try {
      in.addData(StreamOps.DwIn(10L, "click", 0L, 500L, 3L),
        StreamOps.DwIn(10L, "click", 0L, 800L, 4L))
      q.processAllAvailable()
      // batch 2: a LATE event EARLIER in the same window must take over,
      // plus a different window
      in.addData(StreamOps.DwIn(10L, "click", 0L, 100L, 9L),
        StreamOps.DwIn(10L, "click", 0L, h + 5L, 5L))
      q.processAllAvailable()
      val last = spark.table("dw_out").collect()
        .map(r => ((r.getAs[Long]("user_id"), r.getAs[String]("event_type"),
          r.getAs[Long]("window_start")),
          (r.getAs[Long]("first_ts"), r.getAs[Long]("first_event_id"),
            r.getAs[Long]("n_suppressed"))))
        .groupBy(_._1).map { case (k, xs) => k -> xs.map(_._2).maxBy(_._3) }
      assert(last((10L, "click", 0L)) == ((100L, 9L, 2L)), s"$last")
      assert(last((10L, "click", h)) == ((h + 5L, 5L, 0L)))
    } finally q.stop()

    // batch frame: the stream face equals Sessionize.firstPerWindow
    val events = Seq((1L, "click", 100L, 10L), (2L, "click", 100L, 10L),
      (3L, "click", 500L, 10L), (4L, "view", 200L, 11L))
      .toDF("event_id", "event_type", "ts", "user_id")
    assert(rowsOf(StreamOps.dedupWindowStream(events, h).toDF()
        .select("user_id", "event_type", "window_start", "first_ts",
          "first_event_id", "n_suppressed")) ==
      rowsOf(graft.ops.Sessionize.firstPerWindow(events, h)
        .select("user_id", "event_type", "window_start", "first_ts",
          "first_event_id", "n_suppressed")))
  }

  test("sessionStream: sessions straddle micro-batches; batch face == Sessionize.sessions") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val gap = 1000L
    val in = MemoryStream[StreamOps.SessIn]
    val q = StreamOps.sessionStream(in.toDF(), gap)
      .writeStream.format("memory").queryName("sess_out")
      .outputMode("append").start()
    try {
      // batch 1: user 1 opens session 1 (ts 0..100)
      in.addData(StreamOps.SessIn(1L, 0L, 1L), StreamOps.SessIn(1L, 100L, 2L))
      q.processAllAvailable()
      // batch 2: ts 900 extends session 1 (gap from 100 is 800 <= 1000);
      // ts 5000 closes it and opens session 2
      in.addData(StreamOps.SessIn(1L, 900L, 3L), StreamOps.SessIn(1L, 5000L, 4L))
      q.processAllAvailable()
      // latest-per-(user, idx) wins, closed rows are final
      val last = spark.table("sess_out").collect()
        .map(r => ((r.getAs[Long]("user_id"), r.getAs[Long]("session_idx")),
          (r.getAs[Long]("start_ns"), r.getAs[Long]("end_ns"),
            r.getAs[Long]("n_events"))))
        .groupBy(_._1).map { case (k, xs) => k -> xs.map(_._2).maxBy(_._3) }
      assert(last((1L, 1L)) == ((0L, 900L, 3L)), s"$last")
      assert(last((1L, 2L)) == ((5000L, 5000L, 1L)), s"$last")
    } finally q.stop()

    // batch face: one frame == the batch sessionizer row for row
    val events = Seq(
      (1L, 0L, 1L), (1L, 500L, 2L), (1L, 5000L, 3L), (1L, 5100L, 4L),
      (2L, 10L, 5L), (2L, 4000L, 6L),
      (3L, 7L, 7L)) // tie coverage: same-ts ids order by event_id
      .toDF("user_id", "ts", "event_id")
    assert(rowsOf(StreamOps.sessionStream(events, gap).toDF()) ==
      rowsOf(graft.ops.Sessionize.sessions(events, gap)
        .select("user_id", "session_idx", "start_ns", "end_ns",
          "duration_ns", "n_events")))
  }

  test("every idle-timeout operator rejects a non-positive idleTimeoutMs at construction") {
    val docs = Seq((1L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val vecs = Seq((1L, Seq(1.0, 0.0))).toDF("vec_id", "embedding")
    val vals = Seq(("g", 1L, 1.0)).toDF("grp", "key", "v")
    val log = Seq((1L, "a", 1L, "I")).toDF("doc_id", "text", "seq", "op")
    val events = Seq((1L, "click", 0L, 1L)).toDF("user_id", "event_type", "ts", "event_id")
    val ops: Seq[(String, Option[Long] => Any)] = Seq(
      "ewmaStream" -> (t => StreamOps.ewmaStream(Seq(PointIn("s", 0L, 1.0)).toDS(),
        idleTimeoutMs = t)),
      "nearDupStream" -> (t => StreamOps.nearDupStream(docs, idleTimeoutMs = t)),
      "lineDedupStream" -> (t => StreamOps.lineDedupStream(docs, idleTimeoutMs = t)),
      "semanticDupStream" -> (t => StreamOps.semanticDupStream(vecs,
        Seq((0L, Seq(1.0, 0.0))), 0.9, idleTimeoutMs = t)),
      "hllStream" -> (t => StreamOps.hllStream(vals, 10, "grp", "v", idleTimeoutMs = t)),
      "kmvStream" -> (t => StreamOps.kmvStream(vals, 8, "grp", "v", idleTimeoutMs = t)),
      "quantileStream" -> (t => StreamOps.quantileStream(vals, 8, "grp", "key", "v",
        idleTimeoutMs = t)),
      "cdcStream" -> (t => StreamOps.cdcStream(log, idleTimeoutMs = t)),
      "dedupWindowStream" -> (t => StreamOps.dedupWindowStream(events, 1000L,
        idleTimeoutMs = t)),
      "sessionStream" -> (t => StreamOps.sessionStream(events, 1000L, idleTimeoutMs = t)))
    for ((name, build) <- ops; t <- Seq(0L, -1L)) {
      val e = intercept[IllegalArgumentException](build(Some(t)))
      assert(e.getMessage.contains("idleTimeoutMs must be positive"), s"$name($t): $e")
    }
    // the same inputs build with a positive timeout: the rejection above
    // is the timeout check, not a schema problem of the table's inputs
    ops.foreach { case (_, build) => build(Some(1000L)) }
  }

  /** `vec` with its first element replaced by NaN. */
  private def nanFirst(vec: Column): Column =
    transform(vec, (x, i) => when(i === 0, lit(Float.NaN)).otherwise(x))

  test("semanticDupStream drops the vectors the argmin kernel assigns no cell, " +
    "as the batch face does") {
    import graft.pipeline.Similarity
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding")
    val centsDf = graft.core.Lineage.truncate(
      Similarity.kmeansCentroids(e, k = 4, iters = 1))
    val cents = centsDf.collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toSeq)).toSeq
    // a truncated copy of vector 0 (near-identical to it on the shared
    // prefix) and a copy of vector 1 with a NaN element: the kernel
    // assigns neither a cell
    val d = e.select(size(col("embedding"))).head().getInt(0)
    val extra = e.where(col("vec_id") === 0)
      .select(lit(100000L).as("vec_id"),
        slice(col("embedding"), 1, d - 1).as("embedding"))
      .unionByName(e.where(col("vec_id") === 1)
        .select(lit(100001L).as("vec_id"), nanFirst(col("embedding")).as("embedding")))
    val corpus = e.unionByName(extra)
    val cells = corpus.join(
      Similarity.assignToCentroids(corpus, centsDf).select("vec_id", "cluster"),
      "vec_id")
    val reference = rowsOf(
      Similarity.embeddingNearDups(cells, threshold = 0.4, cellCol = "cluster"))
    assert(reference.nonEmpty)
    assert(rowsOf(StreamOps.semanticDupStream(corpus, cents, 0.4).toDF()) == reference)
  }

  test("pqEncodeStream encodes a vector with a NaN element as pqEncodeFrozen does") {
    import graft.pipeline.Similarity
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val (cb, cd) = Similarity.pqTrain(e.where(col("vec_id") % 3 =!= 0), m = 2,
      kc = 4, iters = 1)
    val (cbF, _) = Similarity.pqFreeze(cb, cd, "spec-nan",
      tmpDir("graft-stream-pqnan"))
    val nanVec = e.where(col("vec_id") === 3)
      .select(col("vec_id"), nanFirst(col("embedding")).as("embedding"))
    val reference = rowsOf(Similarity.pqEncodeFrozen(nanVec, cbF)
      .select("vec_id", "subspace", "cluster", "dist"))
    // the NaN slice has no argmin: its subspace gets a null code
    assert(reference.size == 2 && reference.exists(_(2) == "null"), s"$reference")
    assert(rowsOf(StreamOps.pqEncodeStream(nanVec, cbF)
      .select("vec_id", "subspace", "cluster", "dist")) == reference)
  }
}
