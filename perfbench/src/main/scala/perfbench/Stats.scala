package perfbench

/** Summary statistics used by every workload. Percentiles interpolate
  * linearly between closest ranks (numpy's default), so a median of an
  * even-sized sample is the mean of its two middle values.
  */
object Stats {

  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    require(p >= 0 && p <= 100, s"percentile $p outside [0, 100]")
    val s = xs.sorted
    val rank = p / 100.0 * (s.length - 1)
    val lo = math.floor(rank).toInt
    val hi = math.ceil(rank).toInt
    s(lo) + (s(hi) - s(lo)) * (rank - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Events per second; a zero-length interval has no rate. */
  def rate(count: Double, seconds: Double): Double = {
    require(seconds > 0, s"rate over a non-positive interval ($seconds s)")
    count / seconds
  }

  /** Wall time of each consecutive block of `size` completions, measured
    * from `startNs` (the first block) or the previous block's last
    * completion. A trailing partial block is dropped.
    */
  def blockTimes(startNs: Long, completionNs: Seq[Long], size: Int): Seq[Double] = {
    val sorted = completionNs.sorted
    val ends = sorted.grouped(size).filter(_.length == size).map(_.last).toSeq
    ends.zip(startNs +: ends).map { case (end, from) => (end - from) / 1e9 }
  }
}
