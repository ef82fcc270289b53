package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{InputAdapter, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call from the benchmark into a layer. `request` is the id of
  * the root span the call belongs to (a root span is its own request);
  * `build` marks calls that only construct a DataFrame, so jobs they start
  * are construction jobs.
  */
final case class Span(id: Long, name: String, parent: Long, request: Long,
    build: Boolean, startNs: Long, endNs: Long, startMs: Long, endMs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

final case class JobRec(jobId: Int, span: Long, execId: Long, callSite: String,
    startMs: Long, endMs: Long)

/** Task totals of one stage attempt. `waitMs` sums task launch time minus
  * stage submission time; `peakMemBytes` is the largest task peak.
  */
final case class StageRec(stageId: Int, attempt: Int, span: Long, tasks: Int,
    runMs: Long, waitMs: Long, shuffleWriteBytes: Long, shuffleReadBytes: Long,
    spillBytes: Long, peakMemBytes: Long, outputBytes: Long,
    dataSourceRdds: Map[Int, Int])

/** Catalyst work of one SQL execution, from its QueryExecution. */
final case class ExecRec(execId: Long, analysisMs: Long, optimizationMs: Long,
    planningMs: Long, operators: Int, nonCodegenOperators: Int)

/** Spans around every call the benchmark makes into a layer, and the Spark
  * jobs, stages, tasks and Catalyst phases those calls caused. Jobs reach
  * their span through a local property set on the calling thread, SQL
  * executions through their jobs' execution id. Disabled, `span` only runs
  * its body.
  */
final class Tracer(sc: SparkContext) {
  import Tracer._

  @volatile private var on = false
  private val nextId = new AtomicLong(1)
  private val current = new ThreadLocal[(Long, Long)] { override def initialValue = (0L, 0L) }
  private val spanQ = new ConcurrentLinkedQueue[Span]()
  private val exec = new ExecListener
  private val plans = new PlanListener

  def enabled: Boolean = on

  def start(spark: SparkSession): Unit = {
    sc.addSparkListener(exec)
    spark.listenerManager.register(plans)
    on = true
  }

  /** Stop recording and wait until the listener bus has delivered the
    * events of every job started so far.
    */
  def stop(spark: SparkSession): Unit = {
    on = false
    val deadline = System.currentTimeMillis() + 30000
    var quietSince = System.currentTimeMillis()
    var last = exec.events
    while (System.currentTimeMillis() < deadline &&
        (!exec.allJobsEnded || System.currentTimeMillis() - quietSince < 500)) {
      Thread.sleep(50)
      val now = exec.events + plans.events
      if (now != last) { last = now; quietSince = System.currentTimeMillis() }
    }
    spark.listenerManager.unregister(plans)
    sc.removeSparkListener(exec)
  }

  def span[T](name: String, build: Boolean = false)(body: => T): T =
    if (!on) body
    else {
      val (parent, req) = current.get
      val id = nextId.getAndIncrement()
      val request = if (parent == 0L) id else req
      current.set((id, request))
      sc.setLocalProperty(SpanKey, id.toString)
      val t0 = System.nanoTime(); val m0 = System.currentTimeMillis()
      try body
      finally {
        spanQ.add(Span(id, name, parent, request, build, t0, System.nanoTime(),
          m0, System.currentTimeMillis()))
        current.set((parent, req))
        sc.setLocalProperty(SpanKey, if (parent == 0L) null else parent.toString)
      }
    }

  def result: TraceData = TraceData(spanQ.asScala.toSeq.sortBy(_.id),
    exec.jobs, exec.stages, plans.recs(exec.executionIds))
}

object Tracer {
  val SpanKey = "perfbench.span"

  private def spanOf(p: java.util.Properties): Long =
    Option(p).flatMap(x => Option(x.getProperty(SpanKey))).map(_.toLong).getOrElse(0L)

  /** Jobs, stages and tasks as the scheduler reports them, and the SQL
    * execution id of each QueryExecution. Events arrive on one
    * listener-bus thread; reads happen after [[Tracer.stop]].
    */
  private final class ExecListener extends SparkListener {
    private val jobStart = mutable.LinkedHashMap.empty[Int, JobRec]
    private val stageAgg = mutable.LinkedHashMap.empty[(Int, Int), StageRec]
    private val submitted = mutable.HashMap.empty[(Int, Int), Long]
    private val execOfQe = new java.util.IdentityHashMap[AnyRef, java.lang.Long]()
    private val execSite = mutable.HashMap.empty[Long, String]
    @volatile var events = 0L

    def allJobsEnded: Boolean = synchronized(jobStart.values.forall(_.endMs > 0))
    def jobs: Seq[JobRec] = synchronized(jobStart.values.toSeq)
    def stages: Seq[StageRec] = synchronized(stageAgg.values.toSeq)
    def executionIds: AnyRef => Option[Long] =
      qe => synchronized(Option(execOfQe.get(qe)).map(_.longValue))

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      events += 1
      val p = e.properties
      val execId = Option(p).flatMap(x => Option(x.getProperty("spark.sql.execution.id")))
        .map(_.toLong).getOrElse(-1L)
      // the call site of the action, e.g. "collect at SeriesStore.scala:183":
      // adaptive stages run from a thread pool, so a job's own stage names
      // only its SQL execution's call site when it has one
      val site = execSite.getOrElse(execId,
        e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse(""))
      jobStart(e.jobId) = JobRec(e.jobId, spanOf(p), execId, site, e.time, 0L)
    }

    /** An execution's start event carries its call site; its end event
      * the QueryExecution the plan listener sees, in a field that is
      * package-private to Spark SQL, hence reflection.
      */
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case start: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
        synchronized { events += 1; execSite(start.executionId) = start.description }
      case end: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd =>
        val qe = end.getClass.getMethod("qe").invoke(end)
        if (qe != null) synchronized { events += 1; execOfQe.put(qe, end.executionId) }
      case _ =>
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      events += 1
      jobStart.get(e.jobId).foreach(j => jobStart(e.jobId) = j.copy(endMs = e.time))
    }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      events += 1
      val si = e.stageInfo
      val key = (si.stageId, si.attemptNumber())
      submitted(key) = si.submissionTime.getOrElse(System.currentTimeMillis())
      val pages = si.rddInfos.filter(_.name == "DataSourceRDD").map(r => r.id -> r.numPartitions).toMap
      stageAgg(key) = StageRec(si.stageId, si.attemptNumber(), spanOf(e.properties),
        0, 0L, 0L, 0L, 0L, 0L, 0L, 0L, pages)
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      events += 1
      val key = (e.stageId, e.stageAttemptId)
      for (s <- stageAgg.get(key); m <- Option(e.taskMetrics)) {
        val wait = math.max(0L, e.taskInfo.launchTime - submitted.getOrElse(key, e.taskInfo.launchTime))
        stageAgg(key) = s.copy(
          tasks = s.tasks + 1,
          runMs = s.runMs + m.executorRunTime,
          waitMs = s.waitMs + wait,
          shuffleWriteBytes = s.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
          shuffleReadBytes = s.shuffleReadBytes + m.shuffleReadMetrics.totalBytesRead,
          spillBytes = s.spillBytes + m.memoryBytesSpilled + m.diskBytesSpilled,
          peakMemBytes = math.max(s.peakMemBytes, m.peakExecutionMemory),
          outputBytes = s.outputBytes + m.outputMetrics.bytesWritten)
      }
    }
  }

  /** Catalyst phase times and final physical plan shape of every SQL
    * execution that succeeds.
    */
  private final class PlanListener extends QueryExecutionListener {
    private val q = new ConcurrentLinkedQueue[(AnyRef, ExecRec)]()
    @volatile var events = 0L
    def recs(execId: AnyRef => Option[Long]): Seq[ExecRec] =
      q.asScala.toSeq.flatMap { case (qe, r) => execId(qe).map(id => r.copy(execId = id)) }

    override def onSuccess(funcName: String,
        qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit = {
      events += 1
      val ph = qe.tracker.phases
      def ms(k: String): Long = ph.get(k).map(_.durationMs).getOrElse(0L)
      var ops = 0; var nonCg = 0
      walk(qe.executedPlan, inCodegen = false) { (_, inCg) =>
        ops += 1
        if (!inCg) nonCg += 1
      }
      q.add(qe -> ExecRec(-1L, ms("analysis"), ms("optimization"), ms("planning"), ops, nonCg))
    }

    override def onFailure(funcName: String,
        qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit =
      events += 1
  }

  /** Visit every physical operator of a final plan, through adaptive
    * query stages, with whether it runs inside whole-stage codegen. Plan
    * wrappers (codegen stages, input adapters, query stages) are not
    * operators; a reused exchange counts once, as itself.
    */
  private[perfbench] def walk(p: SparkPlan, inCodegen: Boolean)(f: (SparkPlan, Boolean) => Unit): Unit =
    p match {
      case a: AdaptiveSparkPlanExec  => walk(a.executedPlan, inCodegen)(f)
      case s: QueryStageExec         => walk(s.plan, inCodegen = false)(f)
      case w: WholeStageCodegenExec  => walk(w.child, inCodegen = true)(f)
      case i: InputAdapter           => walk(i.child, inCodegen = false)(f)
      case r: ReusedExchangeExec     => f(r, inCodegen)
      case other =>
        f(other, inCodegen)
        other.children.foreach(walk(_, inCodegen)(f))
        other.subqueries.foreach(walk(_, inCodegen = false)(f))
    }
}

/** Everything one traced phase recorded, with the per-op and per-layer
  * sums the workloads report.
  */
final case class TraceData(spans: Seq[Span], jobs: Seq[JobRec], stages: Seq[StageRec],
    execs: Seq[ExecRec]) {

  private val spanById: Map[Long, Span] = spans.map(s => s.id -> s).toMap
  private val children: Map[Long, Seq[Span]] = spans.groupBy(_.parent)
  private val execSpan: Map[Long, Long] =
    jobs.filter(_.execId >= 0).groupBy(_.execId).map { case (e, js) => e -> js.map(_.span).min }

  /** Root span of a span id (0 when unattributed). */
  def requestOf(spanId: Long): Long = spanById.get(spanId).map(_.request).getOrElse(0L)

  def roots(name: String): Seq[Span] = spans.filter(s => s.parent == 0L && s.name == name)

  /** Duration minus the part of it that the span's children cover. */
  def selfMs(s: Span): Double = {
    val kids = children.getOrElse(s.id, Nil).map(k => (k.startNs, k.endNs)).sortBy(_._1)
    var covered = 0L; var curLo = Long.MinValue; var curHi = Long.MinValue
    kids.foreach { case (lo, hi) =>
      if (lo > curHi) { if (curHi > curLo) covered += curHi - curLo; curLo = lo; curHi = hi }
      else curHi = math.max(curHi, hi)
    }
    if (curHi > curLo) covered += curHi - curLo
    (s.endNs - s.startNs - covered) / 1e6
  }

  /** Self time summed per layer, the first component of a span's name. */
  def layerSelfMs: Map[String, Double] =
    spans.groupBy(_.name.takeWhile(_ != '.')).map { case (l, ss) => l -> ss.map(selfMs).sum }

  def spansIn(requests: Set[Long], name: String): Seq[Span] =
    spans.filter(s => s.name == name && requests(s.request))

  def jobsIn(requests: Set[Long]): Seq[JobRec] = jobs.filter(j => requests(requestOf(j.span)))
  def stagesIn(requests: Set[Long]): Seq[StageRec] = stages.filter(s => requests(requestOf(s.span)))
  def execsIn(requests: Set[Long]): Seq[ExecRec] =
    execs.filter(e => execSpan.get(e.execId).exists(sp => requests(requestOf(sp))))

  /** Jobs started inside spans marked `build`. */
  def constructionJobsIn(requests: Set[Long]): Seq[JobRec] =
    jobsIn(requests).filter(j => spanById.get(j.span).exists(_.build))

  /** Length of the union of the jobs' wall intervals, in ms. */
  def jobWallMs(js: Seq[JobRec]): Double = {
    var total = 0L; var lo = Long.MinValue; var hi = Long.MinValue
    js.map(j => (j.startMs, math.max(j.startMs, j.endMs))).sortBy(_._1).foreach { case (a, b) =>
      if (a > hi) { if (hi > lo) total += hi - lo; lo = a; hi = b } else hi = math.max(hi, b)
    }
    if (hi > lo) total += hi - lo
    total.toDouble
  }

  /** The metrics every workload reports per op, over the given op roots. */
  def execLayerMetrics(ops: Seq[Span], wallS: Double, cores: Int): Seq[(String, Double)] = {
    val req = ops.map(_.id).toSet
    val n = math.max(1, ops.size).toDouble
    val js = jobsIn(req); val st = stagesIn(req); val ex = execsIn(req)
    val peakPerOp = st.groupBy(s => requestOf(s.span)).values.map(_.map(_.peakMemBytes).max)
    Seq(
      "catalyst.analysis_ms_per_op" -> ex.map(_.analysisMs).sum / n,
      "catalyst.optimization_ms_per_op" -> ex.map(_.optimizationMs).sum / n,
      "catalyst.planning_ms_per_op" -> ex.map(_.planningMs).sum / n,
      "catalyst.plan_operators_per_op" -> ex.map(_.operators).sum / n,
      "catalyst.non_codegen_operators_per_op" -> ex.map(_.nonCodegenOperators).sum / n,
      "exec.jobs_per_op" -> js.size / n,
      "exec.stages_per_op" -> st.size / n,
      "exec.tasks_per_op" -> st.map(_.tasks).sum / n,
      "exec.construction_jobs_per_op" -> constructionJobsIn(req).size / n,
      "exec.task_run_ms_per_op" -> st.map(_.runMs).sum / n,
      "exec.busy_frac" -> st.map(_.runMs).sum / (wallS * 1000.0 * cores),
      "exec.task_wait_ms_per_op" -> st.map(_.waitMs).sum / n,
      "exec.shuffle_write_bytes_per_op" -> st.map(_.shuffleWriteBytes).sum / n,
      "exec.shuffle_read_bytes_per_op" -> st.map(_.shuffleReadBytes).sum / n,
      "exec.spill_bytes_per_op" -> st.map(_.spillBytes).sum / n,
      "exec.peak_exec_memory_bytes_per_op" -> peakPerOp.map(_.toDouble).sum / n)
  }

  def toJson: String = Json(scala.collection.immutable.ListMap(
    "layer_self_ms" -> layerSelfMs, "spans" -> spans, "jobs" -> jobs, "stages" -> stages,
    "executions" -> execs))
}
