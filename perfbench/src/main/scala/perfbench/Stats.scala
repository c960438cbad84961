package perfbench

/** Pure measurement arithmetic: quantiles, the tail-sample rule, interval
  * unions (self time) and open-loop due times. No Spark, no clocks.
  */
object Stats {

  /** Linear-interpolated quantile (`q` in [0, 1]) of unsorted values. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Samples that lie strictly beyond quantile `q` of `n` samples. */
  def beyond(n: Int, q: Double): Int = n - math.ceil(q * n).toInt

  /** Quantile `q` only when at least `minBeyond` samples lie beyond it: a
    * p95 of 40 samples is the second-largest sample, not a p95.
    */
  def tailQuantile(xs: Seq[Double], q: Double, minBeyond: Int = 10): Option[Double] =
    if (xs.nonEmpty && beyond(xs.size, q) >= minBeyond) Some(quantile(xs, q))
    else None

  /** Total length covered by a set of [start, end) intervals (overlaps
    * counted once).
    */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((s, e) <- iv.filter(x => x._2 > x._1).sortBy(_._1)) {
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Intervals clipped to [lo, hi). */
  def clip(iv: Seq[(Long, Long)], lo: Long, hi: Long): Seq[(Long, Long)] =
    iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter(x => x._2 > x._1)

  /** One request's route span [lo, hi) split into (self, compile, plan,
    * exec), which sum to the span: exec is the union of its Spark jobs,
    * plan the planning phases no job overlaps, compile the plan-building
    * time no phase or job covers (at most `compileNs`, the engine's
    * separately measured compile time), self the rest (dispatch and
    * collect-to-JSON).
    */
  def routeParts(lo: Long, hi: Long, jobs: Seq[(Long, Long)],
      phases: Seq[(Long, Long)], compileNs: Long): (Long, Long, Long, Long) = {
    val jobI = clip(jobs, lo, hi)
    val exec = unionLength(jobI)
    val covered = unionLength(jobI ++ clip(phases, lo, hi))
    val rest = (hi - lo) - covered
    val compile = math.max(0L, math.min(rest, compileNs))
    (rest - compile, compile, covered - exec, exec)
  }

  /** Open loop: the i-th operation of a schedule at `ratePerS`, started at
    * `t0Ns`, is due at t0 + i / rate.
    */
  def dueNs(t0Ns: Long, ratePerS: Double, i: Long): Long =
    t0Ns + (i * 1e9 / ratePerS).toLong

  /** Open-loop latency is measured from when the request was due, so a
    * generator that falls behind charges its backlog to the system.
    */
  def openLoopLatencyNs(dueNs: Long, sentNs: Long, doneNs: Long): Long =
    doneNs - math.min(dueNs, sentNs)

  /** How late the generator sent a request (0 if on time). */
  def latenessNs(dueNs: Long, sentNs: Long): Long = math.max(0L, sentNs - dueNs)
}
