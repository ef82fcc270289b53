package graft.etl

import scala.util.control.NonFatal

import org.apache.spark.sql.{GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType}

import graft.ts.{Evaluate, MergeResult, SeriesStore}
import graft.ts.model.Period

/** Collection windows (reference: weather/service/data_collection_task.py:29-70).
  *  - Relative: sliding lookback `[now - startOffset, now - endOffset)` —
  *    e.g., last 30 min every 5 min. Overlapping windows + last-wins merge
  *    give late-data reconciliation for free (T2/T4).
  *  - Absolute: one-shot bounded backfill (T3) — the same pipeline run as a
  *    plain batch job (batch/stream unification).
  */
sealed trait CollectionPeriod {
  def periodAt(nowNs: Long): Period
}
final case class RelativePeriod(startOffsetNs: Long, endOffsetNs: Long = 0L)
    extends CollectionPeriod {
  def periodAt(nowNs: Long): Period = Period(nowNs - startOffsetNs, nowNs - endOffsetNs)
}
final case class AbsolutePeriod(startNs: Long, endNs: Long) extends CollectionPeriod {
  def periodAt(nowNs: Long): Period = Period(startNs, endNs)
}

/** The read→store ETL task (reference: weather/service/data_collection_task.py:73-150):
  * evaluate the source ids over the collection window, re-key onto the
  * paired store ids, and merge-store (K1, last-wins). The re-key is the
  * reference's positional zip: the point rows of request position `i`
  * (their `ordinal`) go to `storeIds(i)`, a literal array lookup — so a
  * read id listed twice feeds each of its store ids once, never a cross
  * product (SURVEY.md §2.3 J2).
  *
  * `collectOnce` is one micro-batch; the scheduler (ServiceManager or
  * Structured Streaming foreachBatch) decides cadence. Its batch declares
  * what it can hold — the store ids, within the window that bounded the
  * read — so a cycle into tails that cover the window is one Spark job that
  * fetches the pages, reads the tails, sorts and writes
  * ([[SeriesStore.merge]] with a [[SeriesStore.Within]]); any other cycle
  * is probed, with its batch persisted by the merge so the source is read
  * once. Non-fatal errors are logged and swallowed — at-least-once,
  * skip-on-failure (T5); fatal errors and interrupts propagate. Health is
  * read off the task: `lastError`, `batchesOk`, and for the last successful
  * batch its merge (points, tail-only and whole-bucket rewrites), its
  * collection time and its latency — all from values the cycle computes
  * anyway, so they cost no Spark job.
  */
final class CollectionTask(
    val name: String,
    evaluate: Evaluate,
    store: SeriesStore,
    container: String,
    readIds: Seq[String],
    storeIds: Seq[String],
    period: CollectionPeriod) {

  require(readIds.length == storeIds.length, "read/store id vectors must zip")

  /** The store id of each request position, one literal built once with
    * the type `typedLit` would derive (no reflection per cycle).
    */
  private val storeIdOf = GraftBridge.column(
    Literal.create(storeIds, ArrayType(StringType, containsNull = true)))

  @volatile var lastError: Option[Throwable] = None
  @volatile var batchesOk: Long = 0L
  /** The last successful merge: its batch's points (counted by the merge's
    * probe or observed on its write) and the buckets it rewrote tail-only and
    * whole.
    */
  @volatile var lastMerge: MergeResult = MergeResult.empty
  /** Points in the last merged batch. */
  def lastBatchPoints: Long = lastMerge.points
  /** The `nowNs` of the last successful collection; 0 before the first. */
  @volatile var lastSuccessNs: Long = 0L
  /** Wall time of the last successful `collectOnce`, in ms. */
  @volatile var lastLatencyMs: Double = 0.0

  def collectOnce(spark: SparkSession, nowNs: Long): Unit =
    try {
      val t0 = System.nanoTime()
      val p = period.periodAt(nowNs)
      // The batch declares what it can hold, the store ids within the window
      // that bounded the source read: in the steady state that settles the
      // merge's plan, and the merge is one job that reads the source once.
      // An empty window is a no-op merge.
      val rekeyed = evaluate.evaluate(spark, readIds, p)
        .select(storeIdOf.getItem(col("ordinal")).as("series_id"), col("ts"), col("value"))
      val merged = store.merge(container, rekeyed, SeriesStore.Within(storeIds, p))
      batchesOk += 1
      lastMerge = merged
      lastSuccessNs = nowNs
      lastLatencyMs = (System.nanoTime() - t0) / 1e6
      lastError = None
    } catch {
      case NonFatal(e) =>
        // log-and-swallow (data_collection_task.py:136-150); fatal errors
        // and interrupts propagate to the caller
        org.apache.log4j.Logger.getLogger(getClass).warn(s"collect $name failed", e)
        lastError = Some(e)
    }

  def healthy: Boolean = lastError.isEmpty
}

/** What [[ServiceManager.health]] reports for one task: its last
  * successful batch (its merge, collection time `nowNs`, latency in ms),
  * its last error, and how many times `healthCheck` has restarted it.
  */
final case class TaskHealth(name: String, lastMerge: MergeResult, lastSuccessNs: Long,
    lastLatencyMs: Double, lastError: Option[Throwable], restarts: Long) {
  def lastBatchPoints: Long = lastMerge.points
}

/** Periodic task supervision (reference: weather/service/service_manager.py:21-98):
  * run each task every `waitTime`, health-check every `healthCheckInterval`,
  * restart (re-arm) unhealthy tasks. Trigger logic is manual-tick so tests
  * drive virtual time (T1/T6); `runForever` wires it to a real clock.
  */
final class ServiceManager(spark: SparkSession,
    tasks: Seq[(CollectionTask, Long /*waitNs*/ )]) {

  private val nextRun =
    scala.collection.mutable.HashMap.from(tasks.map { case (t, _) => t.name -> 0L })

  /** Fire every task whose schedule has elapsed at virtual time `nowNs`. */
  def tick(nowNs: Long): Seq[String] =
    tasks.flatMap { case (task, waitNs) =>
      if (nowNs >= nextRun(task.name)) {
        nextRun(task.name) = nowNs + waitNs
        task.collectOnce(spark, nowNs)
        Some(task.name)
      } else None
    }

  // read by health(), possibly from another thread than the one restarting
  private val restarts =
    tasks.map { case (t, _) => t.name -> new java.util.concurrent.atomic.AtomicLong() }.toMap

  /** Health probe: restart = clear error and run immediately (T6). */
  def healthCheck(nowNs: Long): Seq[String] =
    tasks.flatMap { case (task, _) =>
      if (!task.healthy) {
        restarts(task.name).incrementAndGet()
        task.lastError = None
        task.collectOnce(spark, nowNs)
        Some(task.name)
      } else None
    }

  /** One snapshot per task, in task order, from values the cycles already
    * computed: it runs no Spark job.
    */
  def health(): Seq[TaskHealth] =
    tasks.map { case (t, _) =>
      TaskHealth(t.name, t.lastMerge, t.lastSuccessNs, t.lastLatencyMs,
        t.lastError, restarts(t.name).get)
    }

  @volatile private var stopped = false
  def stop(): Unit = stopped = true

  /** Real-clock loop (reference: weather/service/service_manager.py:39-50):
    * tick every `pollNs`, health-check every `healthCheckEveryNs`. Blocks
    * the calling thread until [[stop]].
    */
  def runForever(pollNs: Long, healthCheckEveryNs: Long,
      clock: () => Long = () => System.currentTimeMillis() * 1000000L): Unit = {
    var nextHealth = clock() + healthCheckEveryNs
    while (!stopped) {
      val now = clock()
      tick(now)
      if (now >= nextHealth) {
        healthCheck(now)
        nextHealth = now + healthCheckEveryNs
      }
      val sleepMs = math.max(1L, pollNs / 1000000L)
      try Thread.sleep(sleepMs)
      catch { case _: InterruptedException => stopped = true }
    }
  }
}
