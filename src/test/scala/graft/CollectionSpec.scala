package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, udf}

import graft.etl.{AbsolutePeriod, CollectionTask, RelativePeriod, ServiceManager}
import graft.ts.{Evaluate, HeartbeatSource, MockSource, SeriesSource, SeriesStore}
import graft.ts.model.{Period, TsInfo}

/** Collection-loop semantics, mirroring the reference's
  * weather/test/test_data_collection_task.py:66-106 (incremental growth:
  * two consecutive windows → contiguous 7200-point axis with exact
  * endpoints) plus the single-evaluation and supervision contracts.
  */
class CollectionSpec extends SparkSpec {

  private val S = Period.Second

  private def mkTask(store: SeriesStore, windowS: Long): CollectionTask = {
    val ev = new Evaluate(Map("mock1" -> new MockSource("mock1")))
    new CollectionTask("t", ev, store, "cont",
      readIds = Seq("mock1://n/1"),
      storeIds = Seq("shyft://cont/n"),
      period = RelativePeriod(windowS * S))
  }

  test("incremental collection grows 3600 → 7200 contiguous points") {
    val store = new SeriesStore(spark, tmpDir("graft-grow"), numBuckets = 2)
    val task = mkTask(store, windowS = 3600)

    task.collectOnce(spark, nowNs = 3600 * S)
    assert(task.healthy, s"first collect failed: ${task.lastError}")
    assert(store.read("cont").count() == 3600)
    // health of the last batch: a fresh container counts it in its write
    assert(task.lastBatchPoints == 3600)
    assert(task.lastSuccessNs == 3600 * S)
    assert(task.lastLatencyMs > 0.0)

    task.collectOnce(spark, nowNs = 7200 * S)
    // into the existing container's tail the write observes the batch
    assert(task.lastBatchPoints == 3600)
    assert(task.lastSuccessNs == 7200 * S)
    val pts = store.read("cont")
    assert(pts.count() == 7200)
    val ts = pts.agg(org.apache.spark.sql.functions.min("ts"),
      org.apache.spark.sql.functions.max("ts")).collect()(0)
    assert(ts.getLong(0) == 0L)               // axis start
    assert(ts.getLong(1) == 7199 * S)         // axis end (1 s resolution)
    // contiguity: n distinct timestamps == span/dt + 1
    assert(pts.select("ts").distinct().count() == 7200)
  }

  test("re-keying is the positional zip: a read id listed twice feeds each store id once") {
    val store = new SeriesStore(spark, tmpDir("graft-zip"), numBuckets = 2)
    val ev = new Evaluate(Map("mock1" -> new MockSource("mock1")))
    val task = new CollectionTask("zip", ev, store, "cont",
      readIds = Seq("mock1://n/1", "mock1://n/1"),
      storeIds = Seq("shyft://cont/a", "shyft://cont/b"),
      period = RelativePeriod(60 * S))
    task.collectOnce(spark, nowNs = 60 * S)
    assert(task.healthy, s"collect failed: ${task.lastError}")
    task.collectOnce(spark, nowNs = 60 * S)
    assert(task.lastBatchPoints == 120, "each ordinal's 60 points, no cross product")
    val perId = store.read("cont").groupBy("series_id").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perId == Map("shyft://cont/a" -> 60L, "shyft://cont/b" -> 60L))
  }

  test("overlapping windows reconcile idempotently (late/duplicate handling)") {
    val store = new SeriesStore(spark, tmpDir("graft-overlap"), numBuckets = 2)
    val task = mkTask(store, windowS = 60)
    task.collectOnce(spark, nowNs = 60 * S)  // [0, 60)
    task.collectOnce(spark, nowNs = 90 * S)  // [30, 90) — 30 s overlap
    assert(store.read("cont").count() == 90) // union, not 120
  }

  test("one collect evaluates the read pipeline exactly once per row") {
    val acc = spark.sparkContext.longAccumulator("reads")
    val counting = new SeriesSource {
      val name = "cnt"
      def read(s: SparkSession, ids: Seq[String], period: Period): DataFrame = {
        val a = acc // local so the udf closure captures only the accumulator
        val f = udf { (v: Double) => a.add(1L); v }
        new HeartbeatSource().read(s, ids, period).withColumn("value", f(col("value")))
      }
      def find(s: SparkSession, query: String): Seq[TsInfo] = Seq.empty
    }
    val store = new SeriesStore(spark, tmpDir("graft-once"), numBuckets = 2)
    val task = new CollectionTask("once", new Evaluate(Map("cnt" -> counting)),
      store, "c", Seq("cnt://x/1"), Seq("shyft://c/x"), AbsolutePeriod(0L, 60 * S))
    task.collectOnce(spark, nowNs = 0L)
    assert(task.healthy, s"collect failed: ${task.lastError}")
    assert(store.read("c").count() == 60)
    assert(acc.value == 60L, s"pipeline evaluated ${acc.value} rows for 60 inputs — double evaluation")
  }

  test("a window with no readings is a no-op collection") {
    val store = new SeriesStore(spark, tmpDir("graft-empty-window"), numBuckets = 2)
    val ev = new Evaluate(Map("mock1" -> new MockSource("mock1")))
    val empty = new CollectionTask("empty", ev, store, "cont", Seq("mock1://n/1"),
      Seq("shyft://cont/n"), AbsolutePeriod(60 * S, 60 * S))
    empty.collectOnce(spark, nowNs = 0L)
    assert(empty.healthy, s"empty collect failed: ${empty.lastError}")
    assert(!store.exists("cont"), "an empty window must not create the container")

    mkTask(store, windowS = 60).collectOnce(spark, nowNs = 60 * S)
    empty.collectOnce(spark, nowNs = 0L)
    assert(empty.healthy && empty.batchesOk == 2)
    assert(empty.lastBatchPoints == 0)
    assert(store.read("cont").count() == 60)
  }

  test("an interrupt in the source propagates out of collectOnce") {
    val interrupted = new SeriesSource {
      val name = "intr"
      def read(s: SparkSession, ids: Seq[String], period: Period): DataFrame =
        throw new InterruptedException("collector stopped")
      def find(s: SparkSession, query: String): Seq[TsInfo] = Seq.empty
    }
    val store = new SeriesStore(spark, tmpDir("graft-intr"), numBuckets = 2)
    val task = new CollectionTask("intr", new Evaluate(Map("intr" -> interrupted)),
      store, "c", Seq("intr://x/1"), Seq("shyft://c/x"), AbsolutePeriod(0L, 10 * S))
    intercept[InterruptedException](task.collectOnce(spark, nowNs = 0L))
    assert(task.batchesOk == 0)
  }

  test("runForever drives tick and health-check on a real clock until stopped") {
    val store = new SeriesStore(spark, tmpDir("graft-forever"), numBuckets = 2)
    val task = mkTask(store, windowS = 10)
    val mgr = new ServiceManager(spark, Seq(task -> (1L << 60))) // fires once
    val t = new Thread(() => mgr.runForever(
      pollNs = 20L * 1000 * 1000, healthCheckEveryNs = 40L * 1000 * 1000))
    t.start()
    val deadline = System.currentTimeMillis() + 30000
    while (task.batchesOk == 0 && System.currentTimeMillis() < deadline) Thread.sleep(50)
    mgr.stop()
    t.join(10000)
    assert(!t.isAlive, "runForever must exit after stop()")
    assert(task.batchesOk >= 1)
  }

  test("period can be built from a calendar date in a zone") {
    // the reference's backfill start: Calendar('Europe/Oslo').time(2019, 3, 1)
    assert(Period.atDate(2019, 3, 1) == 1551398400L * S)
    assert(Period.atDate(2019, 3, 1, "Europe/Oslo") == 1551394800L * S)
  }

  test("service manager: failing task is unhealthy, health check restarts it") {
    val flaky = new SeriesSource {
      val name = "flaky"
      var calls = 0
      def read(s: SparkSession, ids: Seq[String], period: Period): DataFrame = {
        calls += 1
        if (calls == 1) throw new RuntimeException("transient source outage")
        new HeartbeatSource().read(s, ids, period)
      }
      def find(s: SparkSession, query: String): Seq[TsInfo] = Seq.empty
    }
    val store = new SeriesStore(spark, tmpDir("graft-flaky"), numBuckets = 2)
    val task = new CollectionTask("flaky", new Evaluate(Map("flaky" -> flaky)),
      store, "c", Seq("flaky://x/1"), Seq("shyft://c/x"), AbsolutePeriod(0L, 10 * S))
    val mgr = new ServiceManager(spark, Seq(task -> (300 * S)))

    assert(mgr.tick(0L) == Seq("flaky")) // fires, fails, swallowed
    assert(!task.healthy)
    assert(mgr.tick(10 * S).isEmpty)     // not due again yet
    assert(mgr.healthCheck(10 * S) == Seq("flaky")) // restart fires the task
    assert(task.healthy)
    assert(store.read("c").count() == 10)
  }

  test("service manager health: one snapshot per task, a failing task's error and restarts") {
    val down = new SeriesSource {
      val name = "down"
      def read(s: SparkSession, ids: Seq[String], period: Period): DataFrame =
        throw new RuntimeException("source outage")
      def find(s: SparkSession, query: String): Seq[TsInfo] = Seq.empty
    }
    val store = new SeriesStore(spark, tmpDir("graft-health"), numBuckets = 2)
    val ok = mkTask(store, windowS = 60)
    val bad = new CollectionTask("bad", new Evaluate(Map("down" -> down)),
      store, "d", Seq("down://x/1"), Seq("shyft://d/x"), AbsolutePeriod(0L, 10 * S))
    val mgr = new ServiceManager(spark, Seq(ok -> (300 * S), bad -> (300 * S)))
    assert(mgr.health().map(h => (h.name, h.lastBatchPoints, h.lastError, h.restarts)) ==
      Seq(("t", 0L, None, 0L), ("bad", 0L, None, 0L)))

    mgr.tick(60 * S)
    mgr.healthCheck(70 * S)
    mgr.healthCheck(80 * S)
    val Seq(good, failing) = mgr.health()
    assert(good.name == "t" && good.lastBatchPoints == 60 && good.lastSuccessNs == 60 * S &&
      good.lastLatencyMs > 0.0 && good.lastError.isEmpty && good.restarts == 0)
    assert(failing.name == "bad" && failing.lastSuccessNs == 0L && failing.restarts == 2)
    assert(failing.lastError.map(_.getMessage).contains("source outage"))
  }
}
