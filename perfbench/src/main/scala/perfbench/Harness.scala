package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

/** Deterministic generator: SplitMix64, so the same seed gives the same
  * inputs on every JVM.
  */
final class SplitMix(seed: Long) {
  private var s = seed
  def nextLong(): Long = {
    s += 0x9E3779B97F4A7C15L
    var z = s
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def nextDouble(): Double = (nextLong() >>> 11) * (1.0 / (1L << 53))
}

object SplitMix {
  /** Independent stream `k` of a run seed. */
  def stream(seed: Long, k: Long): SplitMix = new SplitMix(new SplitMix(seed ^ (k * 0xD1B54A32D192ED03L)).nextLong())
}

final class Ctx(val spark: SparkSession, val work: File, val cores: Int,
    val seed: Long, val seconds: Int, val tracer: Tracer)

/** One completed op: its wall interval, whether it succeeded and its
  * output passed the check, and the points it delivered.
  */
final case class OpRec(startNs: Long, endNs: Long, ok: Boolean, points: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** What an op returns: the points it delivered and the check of its
  * output, which runs after the op's time is taken.
  */
final case class Done(points: Long, check: () => Seq[String])

/** A measured phase. `batches` are the batch wall times in seconds. */
final case class Phase(ops: Seq[OpRec], startNs: Long, endNs: Long, batches: Seq[Double]) {
  def wallS: Double = (endNs - startNs) / 1e9
  def okOps: Seq[OpRec] = ops.filter(_.ok)
  def failed: Int = ops.count(!_.ok)
}

object Ops {

  /** Run one op and its check. An exception or a failed check makes the op
    * failed: it is reported on stderr and its time is never a sample.
    */
  def attempt(label: String)(op: => Done): OpRec = {
    val t0 = System.nanoTime()
    try {
      val d = op
      val t1 = System.nanoTime()
      val errs = d.check()
      errs.take(5).foreach(e => System.err.println(s"[perfbench] WRONG OUTPUT $label: $e"))
      OpRec(t0, t1, errs.isEmpty, d.points)
    } catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] FAILED $label: $e")
        e.printStackTrace()
        OpRec(t0, System.nanoTime(), ok = false, 0L)
    }
  }

  /** Closed loop of one client in whole batches: the next op starts when
    * the last one returns; a batch of `batchOps` ops may start only before
    * `seconds` have passed, and a started batch runs to its end.
    */
  def closedLoop(ctx: Ctx, batchOps: Int)(op: => OpRec): Phase = {
    val t0 = System.nanoTime()
    val deadline = t0 + ctx.seconds * 1000000000L
    val ops = Seq.newBuilder[OpRec]
    do (1 to batchOps).foreach(_ => ops += op) while (System.nanoTime() < deadline)
    val done = ops.result()
    Phase(done, t0, System.nanoTime(), Stats.blockTimes(t0, done.map(_.endNs), batchOps))
  }
}
