package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.etl.{CollectionTask, RelativePeriod}
import graft.sources.{Netatmo, NetatmoSource}
import graft.ts.{Evaluate, Identifiers, SeriesSource, SeriesStore}
import graft.ts.model.{Period, TsInfo}

/** The collector's device API: `Stations` stations, each with the four
  * measurement types below at a 5-minute cadence from `T0`, about 1% of
  * readings missing. `Netatmo.rawConfig` puts a station's types, by
  * alphabetical rank, alternately on its Main unit and its Outdoor module,
  * so Main carries CO2 and Noise, Outdoor Humidity and Temperature.
  */
object CollectData {
  val Stations = 1
  val Types: Seq[String] = Seq("CO2", "Humidity", "Noise", "Temperature")
  val StepNs: Long = 5L * Period.Minute
  val T0: Long = 1704067200L * Period.Second // 2024-01-01T00:00Z
  val BackfillEnd: Long = T0 + 30 * Period.Day
  val Readings: Int = (30 + 4) * 288
  val Container = "netatmo"

  def module(t: Int): String = if (t % 2 == 0) "Main" else "Outdoor"
  def ts(k: Int): Long = T0 + k * StepNs
  def userId(s: Int): Long = s + 1L
  def storeId(s: Int, t: Int): String =
    Identifiers.storeIdStr(Container, s"Station ${userId(s)}", module(t), Types(t))

  /** Readings of (station, type); NaN marks a missing reading. */
  def readings(seed: Long, s: Int, t: Int): Array[Double] = {
    val rng = SplitMix.stream(seed, 2000000L + s * Types.size + t)
    val base = Seq(450.0, 70.0, 40.0, 5.0)(t)
    val amp = base * (0.05 + 0.1 * rng.nextDouble())
    Array.tabulate(Readings) { k =>
      val v = base + amp * math.sin(2 * math.Pi * k / 288.0) + (rng.nextDouble() - 0.5) * amp * 0.1
      if (rng.nextDouble() < 0.01) Double.NaN else v
    }
  }

  /** What the store must hold for series (s, t) after collecting
    * [T0, end): a point at every reading of the module's time axis, NaN
    * where this type has no reading there.
    */
  def expected(all: IndexedSeq[IndexedSeq[Array[Double]]], s: Int, t: Int, end: Long): Seq[(Long, Double)] = {
    val sameModule = Types.indices.filter(u => module(u) == module(t))
    (0 until Readings).filter(k => ts(k) < end && sameModule.exists(u => !all(s)(u)(k).isNaN))
      .map(k => ts(k) -> all(s)(t)(k))
  }

  val eventSchema: StructType = StructType(Seq(
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("ts", LongType), StructField("value", DoubleType),
    StructField("event_id", LongType)))
}

/** Output check of the final container, on plain values so tests can
  * plant wrong answers: every expected point exactly once, with its value.
  */
object CollectCheck {
  def check(expected: Map[String, Seq[(Long, Double)]], stored: Seq[(String, Long, Double)]): Seq[String] = {
    val errs = Seq.newBuilder[String]
    val byKey = stored.groupBy(p => (p._1, p._2))
    byKey.collect { case (k, ps) if ps.size > 1 => k }.take(3)
      .foreach(k => errs += s"point $k stored ${byKey(k).size} times")
    val want = expected.toSeq.flatMap { case (id, ps) => ps.map { case (t, v) => (id, t) -> v } }.toMap
    (want.keySet -- byKey.keySet).take(3).foreach(k => errs += s"point $k missing")
    (byKey.keySet -- want.keySet).take(3).foreach(k => errs += s"point $k not in the source")
    want.iterator.filter { case (k, v) =>
      byKey.get(k).exists(ps => !ps.forall(p => p._3 == v || (p._3.isNaN && v.isNaN)))
    }.take(3).foreach { case (k, v) => errs += s"point $k value ${byKey(k).map(_._3)} != $v" }
    errs.result()
  }
}

/** collect_merge: one collector re-reads a sliding 30-minute window every
  * 5 minutes of virtual time from the paginated station source and
  * merge-stores it (`CollectionTask.collectOnce`), into a container that
  * holds the 30 days before. It measures the store's write path, the
  * source and the ETL task.
  */
final class CollectMerge extends Workload {
  import CollectData._

  val opRoot = "cycle"

  private var store: SeriesStore = _
  private var task: CollectionTask = _
  private var data: IndexedSeq[IndexedSeq[Array[Double]]] = _
  private var cycle = 0
  private val rewritten = Seq.newBuilder[Int]

  private def nowOf(c: Int): Long = BackfillEnd + c * StepNs

  def setup(ctx: Ctx, rep: Int): Double = {
    val spark = ctx.spark
    val dir = new File(ctx.work, s"collect-$rep")
    data = (0 until Stations).map(s => Types.indices.map(t => readings(ctx.seed, s, t)))
    val rows = for {
      s <- 0 until Stations; k <- 0 until Readings; t <- Types.indices
      v = data(s)(t)(k) if !v.isNaN
    } yield Row(userId(s), Types(t), ts(k), v, ((s * Readings + k) * Types.size + t).toLong)
    val eventsPath = new File(dir, "events").getAbsolutePath
    // one file, sorted like a device API's store, in small row groups so
    // page fetches skip the row groups of other stations and times
    spark.createDataFrame(spark.sparkContext.parallelize(rows, ctx.cores), eventSchema)
      .coalesce(1).sortWithinPartitions("user_id", "ts")
      .write.option("parquet.block.size", 256 * 1024).parquet(eventsPath)
    val events = spark.read.parquet(eventsPath)
    val cat = Netatmo.catalog(Netatmo.rawConfig(events))
    val ids = cat.select("source_id", "store_id").collect().map(r => (r.getString(0), r.getString(1)))
      .sortBy(_._1).toSeq
    val source = new NetatmoSource(cat, events.select("user_id", "event_type", "ts", "value"), eventsPath)
    val traced = new SeriesSource {
      val name = source.name
      def read(s: SparkSession, ids: Seq[String], p: Period): DataFrame =
        ctx.tracer.span("sources.read", build = true)(source.read(s, ids, p))
      def find(s: SparkSession, q: String): Seq[TsInfo] = source.find(s, q)
    }
    val ev = new Evaluate(Map("netatmo" -> traced))
    store = new SeriesStore(spark, new File(dir, "store").getAbsolutePath)
    // the 30-day history, as the source serves it, merged in one batch
    val history = for (s <- 0 until Stations; t <- Types.indices; (ts, v) <- expected(data, s, t, BackfillEnd))
      yield Row(storeId(s, t), ts, v)
    val historyDf = spark.createDataFrame(spark.sparkContext.parallelize(history, ctx.cores),
      graft.ts.model.pointSchema)
    val t0 = System.nanoTime()
    store.merge(Container, historyDf)
    val mergeS = (System.nanoTime() - t0) / 1e9
    task = new CollectionTask("collect", ev, store, Container, ids.map(_._1), ids.map(_._2),
      RelativePeriod(30 * Period.Minute))
    cycle = 0
    mergeS
  }

  /** Points in the batch a cycle at `now` merges. */
  private def batchPoints(now: Long): Long = {
    val ks = (0 until Readings).filter(k => ts(k) >= now - 30 * Period.Minute && ts(k) < now)
    (for (s <- 0 until Stations; t <- Types.indices) yield {
      val sameModule = Types.indices.filter(u => module(u) == module(t))
      ks.count(k => sameModule.exists(u => !data(s)(u)(k).isNaN)).toLong
    }).sum
  }

  private def bucketFiles(): Map[String, Set[String]] = {
    val dir = new File(store.containerPath(Container))
    Option(dir.listFiles()).toSeq.flatten.filter(_.getName.startsWith("bucket="))
      .map(b => b.getName -> Option(b.list()).toSet.flatten).toMap
  }

  private def runCycle(ctx: Ctx): OpRec = {
    cycle += 1
    require(nowOf(cycle) + StepNs <= ts(Readings - 1), "the source has no readings left to collect")
    val now = nowOf(cycle)
    val before = if (ctx.tracer.enabled) bucketFiles() else Map.empty[String, Set[String]]
    val rec = Ops.attempt(s"cycle $cycle")(ctx.tracer.span(opRoot) {
      ctx.tracer.span("etl.collect_once")(task.collectOnce(ctx.spark, now))
      task.lastError.foreach(e => throw new IllegalStateException(s"collectOnce at $now failed", e))
      Done(batchPoints(now), () => Nil)
    })
    if (ctx.tracer.enabled) {
      val after = bucketFiles()
      rewritten += (before.keySet ++ after.keySet).count(b => before.get(b) != after.get(b))
    }
    rec
  }

  def warmup(ctx: Ctx): Seq[OpRec] = Seq.fill(4)(runCycle(ctx))

  def measure(ctx: Ctx, phase: Int): Phase = Ops.closedLoop(ctx, batchOps = 4)(runCycle(ctx))

  def storeBytesPerPoint(ctx: Ctx): Double =
    Workload.dirBytes(new File(store.containerPath(Container))).toDouble /
      store.read(Container).count()

  override def finalCheck(ctx: Ctx): Seq[String] = {
    val end = nowOf(cycle)
    val expected = (for (s <- 0 until Stations; t <- Types.indices)
      yield storeId(s, t) -> CollectData.expected(data, s, t, end)).toMap
    val stored = store.read(Container).collect().toSeq
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    CollectCheck.check(expected, stored)
  }

  def layerMetrics(ctx: Ctx, t: TraceData, phase: Phase): Seq[(String, Double)] = {
    val ops = t.roots(opRoot)
    val req = ops.map(_.id).toSet
    val n = math.max(1, ops.size).toDouble
    val points = math.max(1L, phase.okOps.map(_.points).sum).toDouble
    val jobs = t.jobsIn(req)
    val storeJobs = jobs.filter(_.callSite.contains("SeriesStore.scala"))
    val reads = t.spansIn(req, "sources.read")
    val readSpanIds = reads.map(_.id).toSet
    val pages = t.stagesIn(req).groupBy(s => t.requestOf(s.span)).values
      .map(_.flatMap(_.dataSourceRdds).toMap.values.sum).sum
    val etlDriver = ops.map { op =>
      val once = t.spansIn(Set(op.id), "etl.collect_once")
      once.map(_.ms).sum - t.jobWallMs(t.jobsIn(Set(op.id)))
    }
    val rw = rewritten.result()
    Seq(
      "ts.merge_job_ms_per_cycle" -> ops.map(op => t.jobWallMs(storeJobs.filter(j => t.requestOf(j.span) == op.id))).sum / n,
      "ts.buckets_rewritten_per_cycle" -> (if (rw.isEmpty) 0.0 else rw.sum.toDouble / rw.size),
      // the store's bucket rewrites are the only writes a cycle makes
      "ts.write_bytes_per_point" -> t.stagesIn(req).map(_.outputBytes).sum / points,
      "sources.read_ms_per_cycle" -> reads.map(_.ms).sum / n,
      "sources.driver_jobs_per_cycle" -> jobs.count(j => readSpanIds(j.span)) / n,
      "sources.pages_per_cycle" -> pages / n,
      "etl.driver_ms_per_cycle" -> etlDriver.sum / n,
      "etl.failed_cycles" -> phase.failed.toDouble)
  }
}
