package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{QueryExecution, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.core.Tables
import graft.etl.{AbsolutePeriod, CollectionPeriod, CollectionTask, RelativePeriod, ServiceManager}
import graft.pipeline.Dedup
import graft.ts.{Evaluate, SeriesStore}
import graft.ts.model.Period

/** Physical-plan shape assertions: the scale properties the operators claim
  * (filter/projection pushdown to the parquet scan, broadcast of small
  * sides, bucket partition pruning) must actually appear in the plan, not
  * just in scaladoc.
  */
class PlanSpec extends SparkSpec {
  import spark.implicits._

  private def planOf(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  private object Aqe extends AdaptiveSparkPlanHelper

  /** Shuffle exchanges of a physical plan, inside adaptive query stages too. */
  private def shuffles(plan: SparkPlan): Seq[ShuffleExchangeExec] =
    Aqe.collect(plan) { case e: ShuffleExchangeExec => e }

  /** Join operators of a physical plan, inside adaptive query stages too. */
  private def joins(plan: SparkPlan): Int =
    Aqe.collect(plan) { case j: BaseJoinExec => j }.size

  /** Evaluations of the expression printed as `name` across a physical
    * plan's operators, inside adaptive query stages too. A reused exchange
    * is a leaf, so the subtree it reuses counts once.
    */
  private def evaluations(plan: SparkPlan, name: String): Int =
    Aqe.collect(plan) { case p =>
      p.expressions.map(_.collect { case e if e.prettyName == name => e }.size).sum
    }.sum

  /** The Spark jobs `body` runs and the SQL executions it completes.
    * Listener events arrive asynchronously but in order, so a marker query
    * run after `body` closes the window.
    */
  private def observe(body: => Unit): (Int, Seq[QueryExecution]) = {
    val markerDesc = "plan-spec-marker"
    val marker = spark.range(1)
    val jobs = new AtomicInteger(0)
    val plans = new ConcurrentLinkedQueue[QueryExecution]()
    val closed = new CountDownLatch(1)
    val jobListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (!Option(e.properties).exists(_.getProperty("spark.job.description") == markerDesc))
          jobs.incrementAndGet()
    }
    val planListener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (qe eq marker.queryExecution) closed.countDown() else plans.add(qe)
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(planListener)
    try {
      body
      spark.sparkContext.setJobDescription(markerDesc)
      try marker.collect() finally spark.sparkContext.setJobDescription(null)
      assert(closed.await(60, TimeUnit.SECONDS), "listener bus did not deliver the marker")
    } finally {
      spark.listenerManager.unregister(planListener)
      spark.sparkContext.removeSparkListener(jobListener)
    }
    (jobs.get(), plans.asScala.toSeq)
  }

  /** A netatmo source over the test events and every id of one station
    * (two modules), for the whole time range.
    */
  private def netatmoFixture() = {
    val t = Tables(spark, sfDir)
    val cat = graft.sources.Netatmo.catalog(graft.sources.Netatmo.rawConfig(t.eventsUs))
    val src = new graft.sources.NetatmoSource(cat,
      t.eventsUs.select("user_id", "event_type", "ts", "value"), s"$sfDir/events.parquet")
    val uid = cat.limit(1).collect()(0).getAs[Long]("user_id")
    val rows = cat.where(col("user_id") === uid).select("source_id", "module_name", "data_type").collect()
    (src, uid, rows.toSeq.map(r => (r.getString(0), r.getString(1), r.getString(2))),
      Period(Long.MinValue / 2, Long.MaxValue / 2))
  }

  test("filters push down to the parquet scan") {
    val df = SparkEntry.queries("q4_filter")(spark, sfDir)
    val plan = planOf(df)
    assert(plan.contains("PushedFilters: ["), plan.linesIterator.take(20).mkString("\n"))
    assert(plan.contains("GreaterThan(l_quantity,45.0)"))
    // the second filter may fall past the toString elision; DataFilters
    // lists it un-truncated
    assert(plan.contains("(l_discount#") && plan.contains("> 0.05)"),
      "discount filter not pushed into the scan")
  }

  test("projection prunes the scan to referenced columns only") {
    val df = Tables(spark, sfDir).lineitem.select("l_orderkey", "l_quantity")
    val scanLine = planOf(df).linesIterator.find(_.contains("ReadSchema")).get
    assert(scanLine.contains("l_orderkey") && scanLine.contains("l_quantity"))
    assert(!scanLine.contains("l_comment") && !scanLine.contains("l_extendedprice"),
      s"scan reads more columns than projected: $scanLine")
  }

  test("dimension joins broadcast the small side") {
    val plan = planOf(SparkEntry.queries("q3_broadcast_dims")(spark, sfDir))
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
  }

  test("evaluate's ordinal restore adds no join and no exchange") {
    val (src, _, ids, all) = netatmoFixture()
    // a repeated id fans out to both of its ordinals without a join
    val plan = new Evaluate(Map("netatmo" -> src))
      .evaluate(spark, ids.map(_._1) :+ ids.head._1, all).queryExecution.executedPlan
    assert(shuffles(plan).isEmpty && joins(plan) == 0, plan.toString.take(3000))
  }

  test("store reads prune to the requested ids' bucket partitions") {
    val store = new SeriesStore(spark, tmpDir("graft-prune"), numBuckets = 8)
    val pts = (0 until 64).map(i => (s"shyft://c/s-$i", i.toLong, i.toDouble))
      .toDF("series_id", "ts", "value")
    store.merge("c", pts)
    val df = store.read("c", Seq("shyft://c/s-0"), Period(0L, Long.MaxValue / 2))
    val plan = planOf(df)
    val bucket = store.bucketOf("shyft://c/s-0")
    // partition filter on the bucket directory column must reach the scan
    assert(plan.contains("PartitionFilters"), plan.take(2000))
    assert(plan.contains(s"bucket#") && plan.contains(s"= $bucket") ||
      plan.contains(s"bucket = $bucket") || plan.contains(s"IN ($bucket)") ||
      plan.contains(s"isin($bucket)") || plan.contains(s"($bucket)"),
      s"no bucket pruning predicate found for bucket $bucket:\n" +
        plan.linesIterator.filter(_.contains("Partition")).mkString("\n"))
    // and the ts range predicate must be pushed to the row groups
    assert(plan.contains("GreaterThanOrEqual(ts,0)"))
  }

  test("netatmo pagination is a DataSource V2 scan with per-block partitions") {
    val t = Tables(spark, sfDir)
    val cat = graft.sources.Netatmo.catalog(graft.sources.Netatmo.rawConfig(t.eventsUs))
    val eventsPoints = t.eventsUs.select("user_id", "event_type", "ts", "value")
    val src = new graft.sources.NetatmoSource(cat, eventsPoints,
      s"$sfDir/events.parquet", blockSize = 16)
    val row = cat.limit(1).collect()(0)
    val types = cat.where(col("user_id") === row.getAs[Long]("user_id") &&
        col("module_name") === row.getAs[String]("module_name"))
      .select("data_type").collect().map(_.getString(0)).toSeq
    val df = src.getMeasurements(row.getAs[Long]("user_id"), types,
      Period(Long.MinValue / 2, Long.MaxValue / 2))
    // the paginated fetch is a V2 BatchScan, not a driver loop
    assert(planOf(df).contains("BatchScan graft_netatmo"), planOf(df).take(2000))
    // block offsets became input partitions: >1 block at blockSize=16
    val scanRdd = df.select("ts").distinct()
    assert(scanRdd.count() > 16, "fixture should span multiple blocks")
    val v2 = spark.read.format("graft-netatmo")
      .option("path", s"$sfDir/events.parquet")
      .option("userId", row.getAs[Long]("user_id"))
      .option("types", types.mkString(","))
      .option("blockSize", 16)
      .load()
    assert(v2.rdd.getNumPartitions > 1, "each block must be its own partition")
  }

  test("netatmo fetch and read plan no exchange and no join") {
    val (src, uid, ids, all) = netatmoFixture()
    val modules = ids.groupBy(_._2)
    assert(modules.size == 2, s"fixture station should carry two modules: $ids")
    modules.values.foreach { mod =>
      val plan = src.getMeasurements(uid, mod.map(_._3), all).queryExecution.executedPlan
      assert(shuffles(plan).isEmpty && joins(plan) == 0, plan.toString.take(3000))
    }
    val read = src.read(spark, ids.map(_._1), all).queryExecution.executedPlan
    assert(shuffles(read).isEmpty && joins(read) == 0, read.toString.take(3000))
  }

  test("a second netatmo read runs no Spark job: the catalog is bound once") {
    val (src, _, ids, all) = netatmoFixture()
    val (first, _) = observe(src.read(spark, ids.map(_._1), all))
    assert(first > 0, "the first read binds the catalog with a Spark job")
    val (second, _) = observe(src.read(spark, ids.map(_._1), all))
    assert(second == 0, s"second read ran $second jobs")
  }

  test("a collection cycle into an existing container runs at most 3 jobs") {
    val (src, _, ids, all) = netatmoFixture()
    val store = new SeriesStore(spark, tmpDir("graft-cycle-jobs"), numBuckets = 4)
    val task = new CollectionTask("cycle", new Evaluate(Map("netatmo" -> src)), store, "c",
      ids.map(_._1), ids.map { case (_, m, dt) => s"shyft://c/$m/$dt" },
      AbsolutePeriod(all.startNs, all.endNs))
    // the first cycle binds the catalog and creates the container
    task.collectOnce(spark, nowNs = 1L)
    assert(task.healthy, s"first cycle failed: ${task.lastError}")
    // the probe, the merge's shuffle stage (when the batch is large enough
    // to spread) and its write; the health fields come from these jobs and
    // add none
    val (jobs, _) = observe(task.collectOnce(spark, nowNs = 2L))
    assert(task.healthy, s"second cycle failed: ${task.lastError}")
    assert(jobs <= 3, s"a collection cycle ran $jobs jobs")
    assert(task.lastBatchPoints > 0 && task.lastSuccessNs == 2L && task.lastLatencyMs > 0.0)
  }

  /** A store backfilled with the fixture station's whole history, and a
    * task collecting the last 12 hours before `nowNs`, which lie in every
    * bucket's tail; and the station's last ts.
    */
  private def steadyFixture(dir: String): (CollectionTask, Long) = {
    val (src, uid, ids, all) = netatmoFixture()
    val lastTs = Tables(spark, sfDir).eventsUs.where(col("user_id") === uid)
      .agg(max("ts")).collect()(0).getLong(0)
    val store = new SeriesStore(spark, tmpDir(dir), numBuckets = 4)
    def task(name: String, period: CollectionPeriod) =
      new CollectionTask(name, new Evaluate(Map("netatmo" -> src)), store, "c",
        ids.map(_._1), ids.map { case (_, m, dt) => s"shyft://c/$m/$dt" }, period)
    val backfill = task("backfill", AbsolutePeriod(all.startNs, all.endNs))
    backfill.collectOnce(spark, nowNs = 1L)
    assert(backfill.healthy && backfill.lastMerge.tailOnly.isEmpty && backfill.lastMerge.recut.nonEmpty)
    (task("steady", RelativePeriod(12 * Period.Hour)), lastTs)
  }

  test("a steady-state cycle rewrites only tails and runs 1 job") {
    val (steady, lastTs) = steadyFixture("graft-cycle-steady")
    val (jobs, plans) = observe(steady.collectOnce(spark, nowNs = lastTs + 1))
    assert(steady.healthy, s"steady cycle failed: ${steady.lastError}")
    // its batch declares its window, which lies in every declared bucket's
    // tail: no probe and no persist, one job that fetches the pages, reads
    // the tails, sorts and writes, in one task with no exchange
    assert(jobs == 1, s"a steady-state cycle ran $jobs jobs")
    val writes = plans.map(_.executedPlan)
      .filter(p => Aqe.find(p)(_.isInstanceOf[DataWritingCommandExec]).nonEmpty)
    assert(writes.size == 1 && shuffles(writes.head).isEmpty, writes.map(_.toString.take(3000)))
    val merged = steady.lastMerge
    assert(merged.points > 0 && merged.tailOnly.nonEmpty && merged.recut.isEmpty, merged)
    val Seq(health) = new ServiceManager(spark, Seq(steady -> 1L)).health()
    assert(health.lastMerge == merged)
  }

  test("a second steady-state cycle compiles no generated class") {
    val (steady, lastTs) = steadyFixture("graft-cycle-codegen")
    steady.collectOnce(spark, nowNs = lastTs + 1)
    assert(steady.healthy, s"first steady cycle failed: ${steady.lastError}")
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    // a later window: new bounds, the same generated code
    steady.collectOnce(spark, nowNs = lastTs + 1 + 5 * Period.Minute)
    assert(steady.healthy, s"second steady cycle failed: ${steady.lastError}")
    assert(steady.lastMerge.recut.isEmpty, steady.lastMerge)
    val more = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled
    assert(more == 0, s"the second steady cycle compiled $more classes")
  }

  test("a second open of a table runs no job; a table rewritten in place is inferred again") {
    val dir = tmpDir("graft-tables")
    Seq((1L, "a")).toDF("k", "v").write.parquet(s"$dir/t.parquet")
    val (first, _) = observe(assert(Tables(spark, dir)("t").columns.toSeq == Seq("k", "v")))
    assert(first > 0, "the first open infers the schema with a Spark job")
    val (second, _) = observe(Tables(spark, dir)("t"))
    assert(second == 0, s"a second open ran $second jobs")

    Seq((2.5, 7, "b")).toDF("x", "y", "z").write.mode("overwrite").parquet(s"$dir/t.parquet")
    val t = Tables(spark, dir)("t")
    assert(t.columns.toSeq == Seq("x", "y", "z") && t.collect().toSeq.map(_.toSeq) == Seq(Seq(2.5, 7, "b")))
  }

  test("a collection cycle plans each module's pages in one driver pass") {
    val (src, _, ids, all) = netatmoFixture()
    val modules = ids.map(_._2).distinct.size
    assert(modules == 2, s"fixture station should carry two modules: $ids")
    val store = new SeriesStore(spark, tmpDir("graft-cycle-passes"), numBuckets = 4)
    val task = new CollectionTask("passes", new Evaluate(Map("netatmo" -> src)), store, "c",
      ids.map(_._1), ids.map { case (_, m, dt) => s"shyft://c/$m/$dt" },
      AbsolutePeriod(all.startNs, all.endNs))
    task.collectOnce(spark, nowNs = 1L)
    val before = graft.sources.NetatmoV2.planningPasses.get()
    task.collectOnce(spark, nowNs = 2L)
    assert(task.healthy, s"second cycle failed: ${task.lastError}")
    val passes = graft.sources.NetatmoV2.planningPasses.get() - before
    assert(passes == modules, s"a collection cycle made $passes page-planning passes")
  }

  test("a merge sorts once; a small one has no exchange, a larger one hashes on bucket") {
    val store = new SeriesStore(spark, tmpDir("graft-merge-plan"), numBuckets = 4)
    def pts(t0: Long) = (t0 until t0 + 16).map(t => (s"shyft://c/s-${t % 5}", t, t.toDouble))
      .toDF("series_id", "ts", "value")
    /** The merge's write plan, after checking that the merge ran `jobs`
      * jobs and one write, and that the write sorts once.
      */
    def mergePlan(container: String, batch: org.apache.spark.sql.DataFrame, jobs: Int): SparkPlan = {
      val (ran, plans) = observe(store.merge(container, batch))
      assert(ran == jobs, s"a merge into container $container ran $ran jobs")
      val writes = plans.map(_.executedPlan)
        .filter(p => Aqe.find(p)(_.isInstanceOf[DataWritingCommandExec]).nonEmpty)
      assert(writes.size == 1, s"expected one write, got ${writes.size}")
      val plan = writes.head
      assert(Aqe.collect(plan) { case s: SortExec => s }.size == 1, plan.toString.take(3000))
      plan
    }
    store.merge("c", pts(0L))
    // into an existing or a new container alike: the probe, then one job
    // that reads, sorts and writes
    for ((container, total) <- Seq("c" -> (16 + 8), "new" -> 16)) {
      val plan = mergePlan(container, pts(8L), jobs = 2)
      assert(shuffles(plan).isEmpty, plan.toString.take(3000))
      assert(store.read(container).count() == total)
    }
    // a larger merge spreads: the probe, the shuffle stage and the write
    val big = spark.range(30000L).select(
      concat(lit("shyft://c/s-"), (col("id") % 5).cast("string")).as("series_id"),
      col("id").as("ts"), col("id").cast("double").as("value"))
    val ex = shuffles(mergePlan("big", big, jobs = 3))
    assert(ex.size == 1)
    ex.head.outputPartitioning match {
      case h: HashPartitioning =>
        assert(h.numPartitions == 2 && h.expressions.map(_.sql).mkString.contains("bucket"), h.toString)
      case other => fail(s"merge exchange is not hashed on bucket: $other")
    }
    assert(store.read("big").count() == 30000L)
  }

  test("a second netatmo find runs no job that derives the catalog") {
    val (src, _, ids, _) = netatmoFixture()
    val (first, _) = observe(src.find(spark, ids.head._1))
    val (second, plans) = observe(src.find(spark, ids.last._1))
    // the catalog's derivation aggregates the events with collect_list
    def derivesCatalog(qe: QueryExecution) = qe.analyzed.toString.contains("collect_list")
    assert(!plans.exists(derivesCatalog), plans.map(_.analyzed.toString.take(2000)).mkString("\n"))
    // one query: the measurement's modal delta
    assert(plans.size == 1, s"a second find ran ${plans.size} queries")
    assert(second == 2 && first > second, s"first find ran $first jobs, the second $second")
  }

  test("sessionize is a single shuffle: rollup reuses the window partitioning") {
    val plan = planOf(SparkEntry.queries("events_sessionize")(spark, sfDir))
    val shuffles = plan.linesIterator.count(_.contains("Exchange"))
    assert(shuffles == 1, s"expected 1 Exchange, got $shuffles:\n${plan.take(3000)}")
  }

  test("dup-span gram stream tokenizes once: the rejoin reuses the exchange") {
    // dupGramStarts repartitions the (id, pos, gh) gram stream on gh so the
    // duplicate-count aggregate and the rejoin probe hang off ONE exchange;
    // without the ReusedExchange the corpus is tokenized/shingled/hashed
    // twice (measured 2.3x wall time at sf0.1)
    for (q <- Seq("text_dup_spans", "text_dup_coverage")) {
      val df = SparkEntry.queries(q)(spark, sfDir)
      // AQE decides exchange reuse at runtime: the reuse node only appears
      // in the FINAL adaptive plan, so execute THIS QueryExecution before
      // inspecting (count() would build and run a different one)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      // AQE prints the dedup either as ReusedExchange or ReusedQueryStage
      // depending on which consumer materializes first
      assert(plan.contains("ReusedExchange") || plan.contains("ReusedQueryStage"),
        s"$q lost the shared gram exchange:\n${plan.take(3000)}")
    }
  }

  test("bloom probe broadcasts the word map; the gram stream never shuffles to it") {
    val plan = planOf(SparkEntry.queries("bloom_decontaminate")(spark, sfDir))
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
  }

  test("chunking is map-only: no shuffle anywhere in the plan") {
    val plan = planOf(SparkEntry.queries("text_chunks")(spark, sfDir))
    assert(!plan.contains("Exchange"), plan.take(3000))
  }

  test("audio decode family is map-only: encode→decode chains ride the scan") {
    for (q <- Seq("audio_features", "audio_resample", "audio_chunks", "audio_fingerprint")) {
      val plan = planOf(SparkEntry.queries(q)(spark, sfDir))
      assert(!plan.contains("Exchange"), s"$q:\n${plan.take(3000)}")
    }
  }

  test("video container walk is map-only: per-clip frame streams never shuffle") {
    for (q <- Seq("video_frames", "video_keyframes")) {
      val plan = planOf(SparkEntry.queries(q)(spark, sfDir))
      assert(!plan.contains("Exchange"), s"$q:\n${plan.take(3000)}")
    }
  }

  test("deterministic sampling pushes nothing but a scan filter: no shuffle") {
    val plan = planOf(SparkEntry.queries("sample_fraction")(spark, sfDir))
    assert(!plan.contains("Exchange"), plan.take(3000))
  }

  test("resample is one shuffle with map-side partial aggregation") {
    val plan = planOf(SparkEntry.queries("ts_resample")(spark, sfDir))
    val shuffles = plan.linesIterator.count(_.contains("Exchange"))
    assert(shuffles == 1, s"expected 1 Exchange, got $shuffles:\n${plan.take(3000)}")
    // partial_avg before the exchange = map-side combine
    assert(plan.contains("partial_avg") || plan.contains("HashAggregate"),
      plan.take(3000))
  }

  test("interpolate has no join: grid and samples meet in one sorted union window") {
    val plan = planOf(SparkEntry.queries("ts_interpolate")(spark, sfDir))
    assert(!plan.contains("Join"), plan.take(3000))
  }

  test("stratified sampling gets WindowGroupLimit pushdown: map-side quota prune") {
    val plan = planOf(SparkEntry.queries("sample_stratified")(spark, sfDir))
    assert(plan.contains("WindowGroupLimit"), plan.take(3000))
  }

  test("KMV sketch gets WindowGroupLimit pushdown: <= k hashes per group per map partition") {
    // the bounded-shuffle property that justifies the sketch at scale: the
    // rank-k filter must prune each map partition's candidate hashes BEFORE
    // the window shuffle, so the exchange carries O(k·partitions) per group
    val plan = planOf(SparkEntry.queries("sketch_kmv")(spark, sfDir))
    assert(plan.contains("WindowGroupLimit"), plan.take(3000))
  }

  test("inverted index gets WindowGroupLimit pushdown on its rank window") {
    // the posting-list cap must prune map-side BEFORE the term shuffle; a
    // second (unordered) window over the term key would block this
    val plan = planOf(SparkEntry.queries("text_inverted_index")(spark, sfDir))
    assert(plan.contains("WindowGroupLimit"), plan.take(3000))
  }

  test("weighted sampling is a bounded top-n, not a global sort") {
    val plan = planOf(SparkEntry.queries("sample_weighted")(spark, sfDir))
    assert(plan.contains("TakeOrderedAndProject"), plan.take(3000))
    assert(!plan.contains("Exchange"), plan.take(3000))
  }

  test("anomaly scoring is one shuffle: moments from an unordered window frame") {
    val plan = planOf(SparkEntry.queries("ts_anomaly")(spark, sfDir))
    val shuffles = plan.linesIterator.count(_.contains("Exchange"))
    assert(shuffles == 1, s"expected 1 Exchange, got $shuffles:\n${plan.take(3000)}")
    assert(!plan.contains("Join"), plan.take(3000))
  }

  test("ewma is one shuffle: the bounded frame rides the series sort") {
    val plan = planOf(SparkEntry.queries("ts_ewma")(spark, sfDir))
    val shuffles = plan.linesIterator.count(_.contains("Exchange"))
    assert(shuffles == 1, s"expected 1 Exchange, got $shuffles:\n${plan.take(3000)}")
    assert(!plan.contains("Join"), plan.take(3000))
  }

  test("changepoint is one shuffle: all three window passes share the series key") {
    val plan = planOf(SparkEntry.queries("ts_changepoint")(spark, sfDir))
    val shuffles = plan.linesIterator.count(_.contains("Exchange"))
    assert(shuffles == 1, s"expected 1 Exchange, got $shuffles:\n${plan.take(3000)}")
    assert(!plan.contains("Join"), plan.take(3000))
  }

  test("interval join is a key-partitioned join, never a nested-loop pair scan") {
    val plan = planOf(SparkEntry.queries("events_interval_join")(spark, sfDir))
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      plan.take(3000))
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin")
      || plan.contains("BroadcastHashJoin"), plan.take(3000))
  }

  test("gopher rules are map-only: every feature rides the scan") {
    val plan = planOf(SparkEntry.queries("text_gopher_rules")(spark, sfDir))
    assert(!plan.contains("Exchange"), plan.take(3000))
  }

  test("temperature mixing broadcasts metadata-scale quotas to the rank fill") {
    val plan = planOf(SparkEntry.queries("sample_mixture")(spark, sfDir))
    assert(plan.contains("BroadcastExchange"), plan.take(3000))
    // no single-partition exchange of the DOCUMENT stream: the only
    // SinglePartition subplans are the census fold (rows = #sources)
    val single = plan.linesIterator.filter(_.contains("SinglePartition")).toSeq
    assert(single.size <= 2, s"unexpected global collapse:\n${single.mkString("\n")}")
  }

  test("autocorr is one shuffle: the (series, lag) groupBy reuses the series sort") {
    val plan = planOf(SparkEntry.queries("ts_autocorr")(spark, sfDir))
    val shuffles = plan.linesIterator.count(_.contains("Exchange"))
    assert(shuffles == 1, s"expected 1 Exchange, got $shuffles:\n${plan.take(3000)}")
    assert(!plan.contains("Join"), plan.take(3000))
  }

  test("dimension stats aggregate partial: the shuffle carries per-dim rows only") {
    val plan = planOf(SparkEntry.queries("vec_dim_stats")(spark, sfDir))
    val shuffles = plan.linesIterator.count(_.contains("Exchange"))
    assert(shuffles == 1, s"expected 1 Exchange, got $shuffles:\n${plan.take(3000)}")
    assert(plan.contains("HashAggregate"), plan.take(3000))
  }

  test("ohlc is one shuffle: min_by/max_by combine map-side like any min/max") {
    val plan = planOf(SparkEntry.queries("ts_ohlc")(spark, sfDir))
    val shuffles = plan.linesIterator.count(_.contains("Exchange"))
    assert(shuffles == 1, s"expected 1 Exchange, got $shuffles:\n${plan.take(3000)}")
    assert(plan.contains("HashAggregate") || plan.contains("SortAggregate"),
      plan.take(3000))
  }

  test("top terms get WindowGroupLimit pushdown on the slice rank") {
    val plan = planOf(SparkEntry.queries("text_top_terms")(spark, sfDir))
    assert(plan.contains("WindowGroupLimit"), plan.take(3000))
  }

  test("sequence packing broadcasts the shard prefixes; no corpus-wide window") {
    val plan = planOf(SparkEntry.queries("pack_sequences")(spark, sfDir))
    assert(plan.contains("BroadcastExchange"), plan.take(3000))
    // the only single-partition exchange feeds the #shards-row prefix scan,
    // never the document stream: that subplan must sit below an aggregate
    // of the shard key, which the full corpus window variant would not have
    assert(plan.contains("SinglePartition"), plan.take(3000))
  }

  test("k-means assignment is a zero-shuffle narrow map (literal-centroid argmin kernel)") {
    val plan = planOf(SparkEntry.queries("vec_kmeans")(spark, sfDir))
    // centroids enter the single-pass ArgminSqDist kernel as literals
    // (metadata-scale by contract — they were broadcast before, i.e.
    // driver-collected anyway), so the assignment is one projection: no
    // candidate-row explosion, no join, no aggregate, no Window
    assert(plan.toLowerCase.contains("argminsqdist"), plan.take(3000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    assert(!plan.contains("partial_min(struct(dist"), plan.take(3000))
  }

  test("pre-bucketed tables join with NO shuffle (co-located join)") {
    // the bucketing story for repeated joins on one key at 100 TB: pay the
    // shuffle once at write time, join shuffle-free forever after
    val docs = Tables(spark, sfDir).documents.select("doc_id", "lang", "n_chars")
    spark.sql("DROP TABLE IF EXISTS g_buck_a")
    spark.sql("DROP TABLE IF EXISTS g_buck_b")
    docs.write.bucketBy(4, "doc_id").sortBy("doc_id").saveAsTable("g_buck_a")
    docs.select("doc_id", "n_chars").write.bucketBy(4, "doc_id").sortBy("doc_id")
      .saveAsTable("g_buck_b")
    // hint the LEFT SIDE before joining so the planner picks sort-merge
    // (a post-join hint is ignored and a broadcast join would legitimately
    // skip the bucketed read entirely)
    val joined = spark.table("g_buck_a").hint("merge")
      .join(spark.table("g_buck_b"), "doc_id")
    val plan = planOf(joined)
    assert(plan.contains("SortMergeJoin"), plan.take(2000))
    assert(!plan.contains("Exchange"),
      s"bucketed join should not shuffle:\n${plan.take(3000)}")
  }

  test("global plan lint: no query ever plans a CartesianProduct") {
    // every registered query, planned (not executed) against the smallest
    // fixture: an accidental unkeyed join anywhere in the surface would
    // materialize |L|x|R| rows at scale. (Metadata-scale crossJoin(
    // broadcast(agg)) plans as BroadcastNestedLoopJoin, which is fine and
    // bounded; CartesianProduct is the shuffle-side pair explosion.)
    val offenders = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      val plan = planOf(SparkEntry.queries(name)(spark, sfDir))
      if (plan.contains("CartesianProduct")) Some(name) else None
    }
    assert(offenders.isEmpty, s"CartesianProduct in: ${offenders.mkString(", ")}")
  }

  test("signature kernels evaluate once per row: never in scan filters or generators") {
    // regression pin for the round-9 find: a .where(sig.isNotNull) above a
    // signature projection gets pushed into the FileScan, where the kernel
    // re-evaluates per row just for the null check; and CollapseProject
    // could inline a single-reference kernel into an explode lambda, where
    // HOF semantics re-evaluate it once per emitted element. Both shapes
    // double (or band-multiply) the hottest per-row cost in the repo.
    val kernels = Seq("minhashsig", "simhashsigwide")
    var kernelSeen = false
    for (name <- Seq("dedup_minhash", "dedup_simhash", "dedup_clusters")) {
      val plan = planOf(SparkEntry.queries(name)(spark, sfDir))
      for (line <- plan.linesIterator; k <- kernels if line.contains(k)) {
        kernelSeen = true
        assert(!line.contains("FileScan"),
          s"$name: kernel $k inside a scan's pushed filters:\n${line.trim}")
        assert(!line.contains(s"isnotnull($k"),
          s"$name: kernel $k re-evaluated in a null-check filter:\n${line.trim}")
        assert(!line.contains("Generate"),
          s"$name: kernel $k inlined into a generator lambda:\n${line.trim}")
      }
    }
    assert(kernelSeen, "lint never saw a kernel line — pattern names are stale")
  }

  test("the near-dup verify shingles each candidate side once and signs each document at most twice") {
    // the candidate subplan appears once, so the signature kernel runs on
    // the band self-join's two sides only; the shingle kernel runs once per
    // pair side, and never inside a join condition, where a score filter
    // pushed into the pair join would evaluate it a second time
    val sf001 = s"${new java.io.File(sfDir).getParent}/sf0.01"
    var checked = 0
    for (q <- Seq("dedup_minhash", "dedup_containment", "dedup_cross", "dedup_clusters",
        "dedup_incremental", "graph_pagerank")) {
      val (_, plans) = observe(SparkEntry.queries(q)(spark, sf001).collect())
      for (plan <- plans.map(_.executedPlan)) {
        val inJoins = Aqe.collect(plan) { case j: BaseJoinExec =>
          j.condition.toSeq.flatMap(_.collect { case e if e.prettyName == "shinglestrings" => e })
        }.flatten
        assert(inJoins.isEmpty, s"$q: shingle kernel in a join condition:\n$plan")
        checked += evaluations(plan, "shinglestrings")
      }
      if (q == "dedup_minhash" || q == "dedup_containment") {
        val plan = plans.last.executedPlan
        assert(evaluations(plan, "minhashsig") <= 2, s"$q:\n$plan")
        assert(evaluations(plan, "shinglestrings") == 2, s"$q:\n$plan")
      }
    }
    assert(checked > 0, "lint never saw the shingle kernel — its name is stale")
  }

  test("the near-dup verify scores each candidate pair once") {
    // a score filter over a projected score is pushed below the
    // projection and scores every pair a second time; the score comes out
    // of a one-row generator instead, so each kernel sits in one operator
    val sf001 = s"${new java.io.File(sfDir).getParent}/sf0.01"
    for ((q, kernels) <- Seq(
        "dedup_minhash" -> Seq("sortedarrayjaccard"),
        "dedup_containment" -> Seq("sortedarrayjaccard", "array_intersect"))) {
      val (_, plans) = observe(SparkEntry.queries(q)(spark, sf001).collect())
      val plan = plans.last.executedPlan
      for (k <- kernels)
        assert(evaluations(plan, k) == 1, s"$q: $k evaluated ${evaluations(plan, k)} times:\n$plan")
    }
  }

  test("dedup_minhash at sf0.01 builds with no job and runs at most 4") {
    val sf001 = s"${new java.io.File(sfDir).getParent}/sf0.01"
    Tables(spark, sf001).documents // the first open infers the schema with a job
    var df: DataFrame = null
    val (built, _) = observe { df = SparkEntry.queries("dedup_minhash")(spark, sf001) }
    val (ran, _) = observe(df.collect())
    assert(built == 0 && ran <= 4, s"dedup_minhash: $built jobs to build, $ran to run")
  }

  test("prefix-sum operators never run a corpus-scale single-partition window") {
    // the sharded scan's contract: the only unpartitioned window is the
    // metadata-scale shard-prefix pass (one row per shard), so every
    // per-row Window node must carry a partition spec. We assert the
    // row-scale sort before a window is keyed (no global `Sort [.. ASC]`
    // feeding a Window without hash partitioning of the corpus frame):
    // each plan has exactly ONE single-partition exchange, and it sits on
    // the shard-aggregate side (grouped budget plans have one per group
    // scope too — bounded by groups, not rows).
    for (name <- Seq("pack_sequences", "layout_compaction", "sample_token_budget")) {
      val plan = planOf(SparkEntry.queries(name)(spark, sfDir))
      val single = plan.linesIterator.count(_.contains("Exchange SinglePartition"))
      assert(single <= 1, s"$name: $single single-partition exchanges:\n${plan.take(3000)}")
      assert(plan.contains("Window ["), s"$name: expected a window pass")
    }
  }

  test("KS drift walks the CDF sharded: no single-partition exchange at all") {
    // both window passes key on (grp[, shard]); the shard-prefix pass is
    // partitioned by grp — nothing in the plan may collapse the value
    // walk to one task regardless of value cardinality
    val plan = planOf(SparkEntry.queries("profile_ks_drift")(spark, sfDir))
    val single = plan.linesIterator.count(_.contains("Exchange SinglePartition"))
    assert(single == 0, s"profile_ks_drift: $single single-partition exchanges:\n${plan.take(3000)}")
    assert(plan.contains("Window ["), "expected the sharded CDF windows")
  }

  test("epoch shuffle ranks within shards: no single-partition exchange") {
    val plan = planOf(SparkEntry.queries("export_epoch_shuffle")(spark, sfDir))
    val single = plan.linesIterator.count(_.contains("Exchange SinglePartition"))
    assert(single == 0, s"export_epoch_shuffle: $single single-partition exchanges:\n${plan.take(3000)}")
  }

  test("key skew's only unpartitioned window sits on the bounded top-N rows") {
    // ranking happens AFTER the limit — the single-partition exchange is
    // bounded by topN, never by the key cardinality
    val plan = planOf(SparkEntry.queries("profile_key_skew")(spark, sfDir))
    val single = plan.linesIterator.count(_.contains("Exchange SinglePartition"))
    assert(single <= 2, s"profile_key_skew: $single single-partition exchanges:\n${plan.take(3000)}")
    assert(plan.contains("TakeOrdered") || plan.contains("GlobalLimit"),
      "the top-N prune must precede the rank window")
  }

  test("quantile sketch gets WindowGroupLimit pushdown: <= k rows per group per map partition") {
    // the bounded-synopsis property: the rank-k sample filter must prune
    // each map partition BEFORE the window shuffle, exactly like KMV
    val plan = planOf(SparkEntry.queries("sketch_quantile")(spark, sfDir))
    assert(plan.contains("WindowGroupLimit"), plan.take(3000))
  }

  test("PQ scoring broadcasts the metadata sides; the code table is never the build input of a shuffle join") {
    // the ADC scale claim: per-query distance tables (|q|·kc rows) and
    // centroid tables broadcast; corpus-scale frames only ever stream
    // through BroadcastHashJoins on the scoring path
    val plan = planOf(SparkEntry.queries("sim_pq_topk")(spark, sfDir))
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    assert(!plan.contains("SortMergeJoin"), plan.take(3000))
  }

  test("bernoulli thinning is map-only: no shuffle, no join") {
    val plan = planOf(SparkEntry.queries("sample_importance")(spark, sfDir))
    assert(!plan.contains("Exchange"), plan.take(3000))
    assert(!plan.contains("Join"), plan.take(3000))
  }

  test("whole-stage codegen covers the relational anchors") {
    val df = SparkEntry.queries("q1_agg")(spark, sfDir)
    df.collect() // AQE finalizes the plan on execution
    val plan = planOf(df)
    // "*(n)" stage markers = operators fused into whole-stage codegen
    assert(plan.contains("*(1)") || plan.contains("WholeStageCodegen"), plan.take(2000))
  }
  test("bloom semi-join: the pre-filter is a scan-side predicate, no early shuffle") {
    val t = Tables(spark, sfDir)
    val big = t.lineitem.select("l_orderkey", "l_linenumber", "l_partkey")
    val small = t.part.where(col("p_size") === 1)
      .select(col("p_partkey").as("l_partkey"))
    val cand = graft.ops.BloomJoin.bloomCandidates(big, small, "l_partkey")
    // the candidate side is pure scan + filter: zero exchanges
    assert(!planOf(cand).contains("Exchange"), planOf(cand).take(3000))
  }

  test("cdc latestState: one shuffle for the per-id window (join broadcasts or reuses)") {
    val base = Tables(spark, sfDir).documents.select("doc_id", "text")
    val log = base.where(col("doc_id") % 3 === 0)
      .select(col("doc_id"), col("text"), lit(1L).as("seq"), lit("U").as("op"))
    val df = graft.ops.Cdc.latestState(base, log)
    df.collect() // let AQE finalize (it may broadcast the latest side)
    val plan = planOf(df)
    // the window must partial-sort inside its own exchange; the full-outer
    // join adds at most its two side exchanges — never a resort of the
    // window output
    val windows = plan.linesIterator.count(_.trim.startsWith("Window"))
    assert(windows <= 1, s"expected a single window pass: ${plan.take(3000)}")
  }

  test("skipgrams partial-aggregates before the pair shuffle") {
    val df = graft.pipeline.TextOps.skipgrams(
      Tables(spark, sfDir).documents, window = 2)
    val plan = planOf(df)
    // partial_count before the exchange, final after: map-side combine
    assert(plan.contains("partial_count") || plan.contains("HashAggregate"),
      plan.take(3000))
    val shuffles = plan.linesIterator.count(_.contains("Exchange"))
    assert(shuffles == 1, s"expected 1 Exchange (pair key), got $shuffles")
  }

  test("winnow fingerprints: one spread exchange, then the scan kernel — no sort, no window") {
    val df = graft.pipeline.TextOps.winnowFingerprints(
      Tables(spark, sfDir).documents)
    val plan = planOf(df)
    // the only exchange is the deliberate id-spread before the kernel;
    // the old gram-explode + rolling-window-MIN shape is gone entirely
    val shuffles = plan.linesIterator.count(_.contains("Exchange"))
    assert(shuffles == 1, s"expected only the spread exchange, got $shuffles: ${plan.take(3000)}")
    assert(!plan.contains("Sort ") && !plan.contains("Window"),
      s"no sort/window belongs in the kernelized winnow: ${plan.take(3000)}")
  }

  test("text CDC chunker: one spread exchange, then the scan kernel — no join, no sort") {
    val df = graft.pipeline.TextCdc.cdcChunks(Tables(spark, sfDir).documents)
    val plan = planOf(df)
    // the only exchange is the deliberate id-spread (small parquet would
    // otherwise serialize the per-char kernel on one core)
    val shuffles = plan.linesIterator.count(_.contains("Exchange"))
    assert(shuffles == 1, s"expected only the spread exchange, got $shuffles: ${plan.take(3000)}")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("BroadcastHashJoin"))
    assert(!plan.contains("Sort "), "no sort belongs in the chunker")
  }

  test("k-center round is one scan: map-side distance + TakeOrdered(1), no shuffle join") {
    // reproduce what one kCenters round plans: literal centers, min-dist,
    // argmax via orderBy(...).limit(1)
    val emb = Tables(spark, sfDir).embeddings
    val c = Array.fill(64)(0.1)
    val round = emb
      .select(col("vec_id").cast("long").as("id"),
        transform(col("embedding"), _.cast("double")).as("v"))
      .withColumn("d", lit(1.0) - graft.pipeline.Similarity.cosine(
        col("v"), array(c.map(lit).toSeq: _*)))
      .orderBy(col("d").desc, col("id").asc).limit(1)
    val plan = planOf(round)
    assert(plan.contains("TakeOrderedAndProject"),
      s"argmax must be a TakeOrdered, not a global sort: ${plan.take(3000)}")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("BroadcastHashJoin"),
      "the round must not join")
  }

  test("fuzzy join: variant fan-out stays map-side; one hash join on the variant key") {
    val master = Tables(spark, sfDir).customer
      .select(col("c_custkey").as("id"), col("c_name").as("name"))
    val df = graft.ops.FuzzyJoin.editJoin(master, master, "id", "name", "id", "name")
    df.collect() // finalize AQE
    val plan = planOf(df)
    // explode(sequence) never shuffles; every join is a hash equi-join on
    // the variant key (AQE may plan it broadcast at this SF) — the
    // quadratic shapes must never appear
    val equiJoins = plan.linesIterator.count(l =>
      l.contains("SortMergeJoin") || l.contains("BroadcastHashJoin") ||
        l.contains("ShuffledHashJoin"))
    assert(equiJoins >= 1, s"expected the variant equi-join: ${plan.take(3000)}")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"fuzzy join must never go quadratic: ${plan.take(3000)}")
  }

  test("ljungBox is one shuffle: every window and both aggregations share the series key") {
    val plan = planOf(SparkEntry.queries("ts_ljungbox")(spark, sfDir))
    val shuffles = plan.linesIterator.count(_.contains("Exchange"))
    assert(shuffles == 1, s"expected 1 Exchange, got $shuffles:\n${plan.take(3000)}")
    assert(!plan.contains("Join"), plan.take(3000))
  }

  test("saxMotifs is three shuffles: resample key, series re-key for the lead window, word census") {
    // (series, bucket) partitioning does not co-locate a series, so the
    // window re-key after the resample is inherent, and the census key is
    // the word — each stage partial-aggregates map-side first
    val plan = planOf(SparkEntry.queries("ts_motifs")(spark, sfDir))
    val shuffles = plan.linesIterator.count(_.contains("Exchange"))
    assert(shuffles == 3, s"expected 3 Exchanges, got $shuffles:\n${plan.take(3000)}")
    assert(!plan.contains("Join"), plan.take(3000))
  }

  test("random projection is map-only: the projection kernel rides the scan in codegen") {
    val plan = planOf(SparkEntry.queries("vec_rp")(spark, sfDir))
    assert(!plan.contains("Exchange"), s"map-only, got:\n${plan.take(3000)}")
    assert(plan.contains("rpproject(") && !plan.contains("element_at"), plan.take(3000))
    // the "*(n)" stage marker is how executedPlan.toString shows a
    // WholeStageCodegen span
    assert(plan.contains("*(1)"), plan.take(3000))
  }

  test("graph operators symmetrize the near-dup graph in one pass over the pair pipeline") {
    // a self-union of the pair list runs the whole pair pipeline (the
    // candidate join and the shingle-set verify) once per branch; the
    // symmetric edge materialization must run exactly the pair list's joins
    // (both counted in the final adaptive plan of an executed query)
    val (_, pairPlans) = observe(
      Dedup.minhashNearDups(Tables(spark, sfDir).documents).collect())
    val pairJoins = pairPlans.map(qe => joins(qe.executedPlan)).max
    assert(pairJoins > 0)
    for (q <- Seq("graph_pagerank", "graph_labelprop")) {
      val (_, plans) = observe(SparkEntry.queries(q)(spark, sfDir))
      val most = plans.map(qe => joins(qe.executedPlan)).max
      assert(most == pairJoins, s"$q: a construction plan runs $most joins, " +
        s"the pair list $pairJoins")
    }
  }

  test("graph_pagerank at sf0.01 builds with at most 6 jobs") {
    // the pair pipeline materialized once by the symmetric checkpoint,
    // whose edge count is observed on that job; a small graph then ranks
    // in one task
    val sf001 = s"${new java.io.File(sfDir).getParent}/sf0.01"
    val (jobs, _) = observe(SparkEntry.queries("graph_pagerank")(spark, sf001))
    assert(jobs <= 6, s"graph_pagerank construction ran $jobs jobs")
  }

  test("rpTopK broadcasts the query side everywhere: no cartesian pair scan") {
    val plan = planOf(SparkEntry.queries("sim_rp_topk")(spark, sfDir))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(plan.contains("BroadcastExchange") ||
      plan.contains("BroadcastNestedLoopJoin"),
      s"query side must broadcast: ${plan.take(3000)}")
  }

  test("sqTopK broadcasts the query side: no cartesian pair scan") {
    val plan = planOf(SparkEntry.queries("sim_sq_topk")(spark, sfDir))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(plan.contains("BroadcastExchange") ||
      plan.contains("BroadcastNestedLoopJoin"),
      s"query side must broadcast: ${plan.take(3000)}")
  }

  test("survival is one corpus-scale shuffle: the user rollup; the curve is metadata algebra") {
    val events = Tables(spark, sfDir).events
    val plan = planOf(graft.ops.Retention.survival(events))
    // user rollup + lifetime rollup + the single-row pack + the broadcast
    // of max-day: everything after the first exchange is metadata-scale.
    // The load-bearing claim: NO window/sort over the event stream.
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    val winLines = plan.linesIterator.filter(_.contains("Window")).toSeq
    assert(winLines.isEmpty, s"no window over events expected:\n$winLines")
  }

  test("cuped is a scan plus reductions: no window, no join back to events") {
    val plan = planOf(SparkEntry.queries("events_cuped")(spark, sfDir))
    assert(!plan.contains("Window"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    // the bounds row rides a broadcast, never a shuffle of events to it
    assert(plan.contains("BroadcastExchange") ||
      plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
  }

  test("minhashJoin: band-keyed equi-join only — no cartesian pair scan anywhere") {
    val physical = SparkEntry.queries("dedup_cross")(spark, sfDir).queryExecution.executedPlan
    val plan = physical.toString
    assert(!plan.contains("CartesianProduct"),
      "cross-corpus near-dup join degenerated into an all-pairs scan")
    // each side's text is shuffled by one exchange, the spread that feeds
    // both its signatures and its pair join (referenced twice, reused at
    // execution); no other exchange carries text
    val textShuffles = shuffles(physical)
      .filter(_.output.exists(_.dataType == org.apache.spark.sql.types.StringType))
    assert(textShuffles.map(_.canonicalized).distinct.size == 2 && textShuffles.size <= 4,
      plan.take(3000))
  }

  test("silhouette: the k-row codebook broadcasts; vectors shuffle once for the collect") {
    val plan = planOf(SparkEntry.queries("vec_silhouette")(spark, sfDir))
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      plan.take(3000))
    assert(!plan.contains("CartesianProduct"),
      "centroid scoring planned as a cartesian instead of a broadcast")
    assert(!plan.contains("SortMergeJoin"),
      "a corpus-scale shuffle join appeared in a broadcast-only pipeline")
  }

  test("dsirResample: model tables broadcast, top-k is a bounded heap, no shuffle join") {
    val plan = planOf(SparkEntry.queries("sample_dsir")(spark, sfDir))
    // ORDER BY + LIMIT plans as per-partition heaps, never a global sort
    assert(plan.contains("TakeOrderedAndProject"), plan.take(2000))
    // the bucket-model join and the totals row enter as broadcasts
    assert(plan.contains("BroadcastHashJoin"))
    // no corpus-scale shuffle join anywhere in the weight path
    assert(!plan.contains("SortMergeJoin"),
      "dsir planned a shuffle join for a metadata-scale model table")
  }

  test("pqFreeze shards the corpus-scale codes write; codebooks stay single-file") {
    import graft.pipeline.Similarity
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding")
    val (cb, cd) = Similarity.pqTrain(e, m = 2, kc = 2, iters = 1)
    val dir = tmpDir("graft-pq-freeze")
    val n = e.count()
    val (cbF, cdF) = Similarity.pqFreeze(cb, cd, s"planspec-$n", dir)
    def parts(sub: String): Int = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(s"$dir/$sub"))
        .count(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    }
    // the codes relation GROWS WITH THE CORPUS (n·m rows): the freeze
    // shard width is DATA-DERIVED (freezeShards: ~2M rows per file,
    // clamped to [1, shuffle.partitions]) so a large corpus keeps the full
    // AQE-proof parallel width while a small freeze stops scattering its
    // rows across near-empty files (each written file costs a local-FS
    // permission fork on the committer path — file count dominated the
    // freeze at fixture scale). Pin the policy: the file count matches the
    // derived width here, and the clamp endpoints hold.
    assert(parts("codes") == Similarity.freezeShards(spark, n * 2),
      s"codes wrote ${parts("codes")} part file(s) — expected the " +
        s"freezeShards(${n * 2}) width")
    assert(Similarity.freezeShards(spark, 10L) == 1)
    assert(Similarity.freezeShards(spark, 1L << 40) ==
      spark.conf.get("spark.sql.shuffle.partitions").toInt,
      "a corpus-scale freeze must keep the full pinned parallel width")
    assert(parts("codebooks") == 1,
      s"codebooks wrote ${parts("codebooks")} part files — model-scale relation should be one file")
    // read-back completeness: the frozen frames cover the whole model
    assert(cdF.count() == n * 2, "frozen codes must hold n*m rows")
    assert(cbF.count() == 2 * 2, "frozen codebooks must hold m*kc rows")
    assert(cdF.columns.sorted.toSeq == Seq("cluster", "subspace", "vec_id"))
  }

  test("ivfPqFreeze cell-partitions the codes; serving prunes to probed " +
    "cell directories") {
    import graft.pipeline.Similarity
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val (cells, cb, cd) = Similarity.ivfPqTrain(e, m = 2, kc = 2, iters = 1)
    val dir = tmpDir("graft-ivfpq-freeze")
    val n = e.count()
    val (ceF, cdbF, cdsF) = Similarity.ivfPqFreeze(cells, cb, cd,
      s"planspec-$n", dir)
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    def parts(sub: String): Seq[java.io.File] =
      walk(new java.io.File(s"$dir/$sub"))
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    // corpus-scale codes: partitioned by (model_id, cell) — one directory
    // per cell so the serving probe prunes at the directory level — and
    // sharded (no single-task funnel) across the whole relation
    val nCells = e.select("label").distinct().count()
    val codeCellDirs = parts("codes").map(_.getParentFile.getName)
      .filter(_.startsWith("cell=")).distinct
    assert(codeCellDirs.size == nCells,
      s"codes must lay out one cell= directory per corpus cell, got $codeCellDirs")
    assert(parts("codes").size > 1,
      s"codes wrote ${parts("codes").size} part file(s) — corpus-scale write funneled through one task")
    assert(parts("codebooks").size == 1, "codebooks should be one file")
    assert(parts("cells").size == 1, "cells are model-scale — one file")
    assert(cdsF.count() == n * 2, "frozen codes must hold n*m rows")
    assert(ceF.count() == nCells,
      "frozen cells must hold one centroid per corpus cell")
    assert(cdbF.count() == 2 * 2, "frozen codebooks must hold m*kc rows")
    // SERVE-TIME PARTITION PRUNING: one query at nprobe=2 must read only
    // its 2 probed cells' code directories — the static probed-cell IN
    // filter lands in the scan's PartitionFilters, so unprobed cells are
    // never read (the 100 TB nprobe/#cells saving as directory pruning,
    // not a post-scan filter)
    assert(nCells > 2, s"fixture needs >2 cells for a pruning test, got $nCells")
    val serve = Similarity.ivfPqAdcTopKFrozen(
      e.where(col("vec_id") === 0), ceF, cdbF, cdsF, topK = 3, nprobe = 2)
    // the codes scan's SELECTED partition listing (post partition-filter
    // pruning, the thing the executor actually reads) must hold exactly
    // the nprobe probed cell directories — .inputFiles is pre-pushdown
    // and would show all of them
    val codesScans = serve.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
          if s.metadata.get("Location").exists(_.contains("codes")) => s
    }
    assert(codesScans.nonEmpty, "serve plan must scan the frozen codes files")
    val scan = codesScans.head
    assert(scan.selectedPartitions.partitionCount == 2,
      s"codes scan selected ${scan.selectedPartitions.partitionCount} cell " +
        "partitions — expected exactly nprobe=2 (directory pruning)")
    val scanStr = scan.toString
    assert(scanStr.contains("PartitionFilters") && scanStr.contains("cell"),
      "probed-cell restriction must reach the codes scan as a partition filter")
  }

  test("the train-inline PQ rows train through pqTrain and run fewer jobs") {
    // one spread table trains every subspace at once, and the frozen
    // scorer they feed reads its codebooks once (counts at sf0.001)
    Tables(spark, sfDir).embeddings // the first open infers the schema with a job
    for ((q, most) <- Seq("vec_pq" -> 7, "sim_pq_topk" -> 12,
        "sim_pq_rerank" -> 14, "sim_ivfpq_topk" -> 18)) {
      val (ran, plans) = observe(SparkEntry.queries(q)(spark, sfDir).collect())
      assert(ran <= most, s"$q ran $ran jobs, expected at most $most")
      // the encode runs each of the m = 2 subspaces' argmin kernel once
      // per vector (a generator's input gets no subexpression elimination)
      val plan = plans.last.executedPlan
      assert(evaluations(plan, "argminsqdist") == 2, s"$q:\n$plan")
    }
  }

  test("Bench's row counters equal observe's counts, stay with their row and add no job") {
    val rows = Seq("graph_pagerank", "sim_rp_topk")
    val fns = rows.map(SparkEntry.queries)
    fns.foreach(_(spark, sfDir).count()) // warm, as Bench's warm-up pass does
    val counters = new Bench.RowCounters
    spark.sparkContext.addSparkListener(counters)
    val (measured, _) = try observe {
      rows.zip(fns).foreach { case (r, fn) => Bench.timeRow(spark, sfDir, fn, Some(r)) }
      Bench.timeRow(spark, sfDir, fns.head, None) // unattributed: counted nowhere
      counters.drain(spark)
    } finally spark.sparkContext.removeSparkListener(counters)
    val layers = counters.layers
    assert(layers.keySet == rows.toSet, layers)
    val jobs = rows.zip(fns).map { case (r, fn) =>
      val (built, _) = observe(fn(spark, sfDir))
      val (all, _) = observe(fn(spark, sfDir).count())
      val l = layers(r)
      assert(l.constructionJobs == built && l.jobs == all, s"$r: $l vs $built built, $all in all")
      assert(l.stages >= 1 && l.tasks >= l.stages && l.taskMs >= 0, s"$r: $l")
      all
    }
    assert(measured == jobs.sum + jobs.head, s"measured rows ran $measured jobs, $jobs unmeasured")
  }
}
