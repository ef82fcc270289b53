package perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.core.Sessions

/** One workload of the benchmark. `setup` makes and writes the inputs once
  * (it runs several times; the last one is measured against) and returns
  * the seconds its store merge took, 0 when it writes no store. `warmup`
  * returns its ops: they are checked and counted, never timed.
  */
trait Workload {
  /** Name of the root span of one op. */
  def opRoot: String
  def setup(ctx: Ctx, rep: Int): Double
  def warmup(ctx: Ctx): Seq[OpRec]
  /** Measured ops of phase 1 (untraced) or 2 (traced). */
  def measure(ctx: Ctx, phase: Int): Phase
  def storeBytesPerPoint(ctx: Ctx): Double
  def layerMetrics(ctx: Ctx, t: TraceData, phase: Phase): Seq[(String, Double)]
  /** Checks of state the whole run leaves behind. */
  def finalCheck(ctx: Ctx): Seq[String] = Nil
}

object Workload {
  def apply(name: String): Workload = name match {
    case "collect_merge"  => new CollectMerge
    case "curation_batch" => new CurationBatch
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(dirBytes).sum else f.length()
}

/** Entry point: `perfbench.Main <workload> <seed> <seconds> <trace 0|1>
  * <source digest> <work dir>`, run from the repository root; every file
  * the run writes goes under the work dir. Prints run metadata and
  * the trace summary to stderr, and as its last stdout line
  * `PERFBENCH {"attempted":..,"failed":..,"metrics":{name: value}}`.
  * Exits 1 when any op failed or any output was wrong.
  */
object Main {
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, digest, workDir) = args
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    System.exit(run(Workload(workload), workload, seedS.toLong, secondsS.toInt, traceS == "1",
      cores, new File(workDir), digest))
  }

  private def run(wl: Workload, name: String, seed: Long, seconds: Int, trace: Boolean,
      cores: Int, work: File, digest: String): Int = {
    val t0 = System.nanoTime()
    val spark = session(s"perfbench-$name", cores, work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val ctx = new Ctx(spark, work, cores, seed, seconds, new Tracer(spark.sparkContext))
    val calBefore = calibrate(spark)

    val reps = (1 to SetupReps).map { rep =>
      val s0 = System.nanoTime()
      val mergeS = wl.setup(ctx, rep)
      val s = (System.nanoTime() - s0) / 1e9
      System.err.println(f"[perfbench] setup $rep/$SetupReps $s%.1f s")
      (s, mergeS)
    }
    val w0 = System.nanoTime()
    val warm = wl.warmup(ctx)
    val warmupS = (System.nanoTime() - w0) / 1e9
    System.err.println(f"[perfbench] warm-up $warmupS%.1f s")
    val setupS = sessionS + Stats.median(reps.map(_._1)) + warmupS

    val plain = wl.measure(ctx, phase = 1)
    if (plain.okOps.isEmpty) {
      System.err.println("[perfbench] no measured op succeeded; no metrics to report")
      return 1
    }
    val e2e = endToEnd(plain, setupS, wl.storeBytesPerPoint(ctx))
    val traced = if (!trace) None else {
      ctx.tracer.start(spark)
      val ph = try wl.measure(ctx, phase = 2) finally ctx.tracer.stop(spark)
      Some(ph -> ctx.tracer.result)
    }
    val finalErrs = wl.finalCheck(ctx)
    finalErrs.take(10).foreach(e => System.err.println(s"[perfbench] WRONG OUTPUT final state: $e"))

    val metrics: Seq[(String, Double)] = traced match {
      case None => e2e
      case Some((ph, t)) =>
        val out = new File(s"perfbench/target/trace-$name-seed$seed.json")
        java.nio.file.Files.writeString(out.toPath, t.toJson)
        System.err.println(s"[perfbench] trace written to $out; layer self time (ms) " +
          Json(t.layerSelfMs))
        Seq(
          "core.session_start_s" -> sessionS,
          "core.warmup_s" -> warmupS,
          "ts.backfill_merge_s" -> Stats.median(reps.map(_._2)),
          "jvm.heap_peak_mb" -> heapPeakMb,
          "trace.op_p50_overhead_ms" -> (Stats.median(ph.okOps.map(_.ms)) - Stats.median(plain.okOps.map(_.ms))),
          "trace.batch_overhead_s" -> (Stats.median(ph.batches) - Stats.median(plain.batches))) ++
          t.execLayerMetrics(t.roots(wl.opRoot), ph.wallS, cores) ++
          wl.layerMetrics(ctx, t, ph)
    }

    val ops = warm ++ plain.ops ++ traced.toSeq.flatMap(_._1.ops)
    val attempted = ops.size
    val failed = ops.count(!_.ok) + (if (finalErrs.nonEmpty) 1 else 0)
    val calAfter = calibrate(spark)
    val confs = Seq("spark.sql.shuffle.partitions", "spark.sql.files.minPartitionNum",
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "spark.sql.adaptive.enabled",
      "spark.sql.adaptive.coalescePartitions.enabled", "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.session.timeZone", "spark.sql.legacy.parquet.nanosAsLong")
      .map(k => k -> spark.conf.getOption(k).getOrElse("<unset>"))
    val meta = ListMap[String, Any](
      "workload" -> name, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "nproc" -> Runtime.getRuntime.availableProcessors(), "spark_cores" -> cores,
      "source_digest" -> digest, "spark_version" -> spark.version,
      "calibration_before_s" -> calBefore, "calibration_after_s" -> calAfter,
      "setup_reps_s" -> reps.map(_._1), "session_start_s" -> sessionS, "warmup_s" -> warmupS,
      "attempted" -> attempted, "failed" -> failed,
      "failed_frac" -> failed.toDouble / math.max(1, attempted),
      "ops_timed" -> plain.okOps.size, "session_confs" -> ListMap.from(confs))
    System.err.println("[perfbench] run " + Json(meta))
    spark.stop()
    println("PERFBENCH " + Json(ListMap("attempted" -> attempted, "failed" -> failed,
      "metrics" -> ListMap.from(metrics))))
    if (failed > 0) System.err.println(s"[perfbench] $failed of $attempted ops failed or were wrong")
    if (failed > 0) 1 else 0
  }

  /** The library's tuned local session, with every file it writes under
    * `work`.
    */
  def session(appName: String, cores: Int, work: File): SparkSession = {
    val spark = Sessions.tune(SparkSession.builder().master(s"local[$cores]").appName(appName)
        .config("spark.local.dir", new File(work, "spark-local").getPath)
        .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
        .config("spark.driver.host", "localhost"),
      shufflePartitions = cores).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def endToEnd(ph: Phase, setupS: Double, storeBytesPerPoint: Double): Seq[(String, Double)] = {
    val lat = ph.okOps.map(_.ms)
    require(lat.nonEmpty, "no op succeeded")
    require(ph.batches.nonEmpty, "no complete batch")
    Seq(
      "setup_s" -> setupS,
      // a run holds a few ops: no percentile above the median has ten
      // samples beyond it, so the median is the only latency reported
      "op_p50_ms" -> Stats.median(lat),
      "ops_per_s" -> Stats.rate(ph.okOps.size, ph.wallS),
      "points_per_s" -> Stats.rate(ph.okOps.map(_.points).sum.toDouble, ph.wallS),
      "batch_s" -> Stats.median(ph.batches),
      "store_bytes_per_point" -> storeBytesPerPoint)
  }

  /** Fixed synthetic work whose time moves only with the machine (and,
    * before the run, with the cold JVM).
    */
  private def calibrate(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(0L, 1L << 22, 1L, 8)
      .selectExpr("id % 1024 AS k", "xxhash64(id, id * 2654435761) % 1000003 AS h")
      .groupBy("k").agg(org.apache.spark.sql.functions.sum("h")).collect()
    (System.nanoTime() - t0) / 1e9
  }

  private def heapPeakMb: Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0)

}
