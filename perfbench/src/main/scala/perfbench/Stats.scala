package perfbench

/** Latency statistics and output-check bookkeeping shared by every
  * workload. Pure functions, so the benchmark's own tests pin them.
  */
object Stats {

  /** Nearest-rank percentile (`p` in (0, 1]) of a non-empty sample. */
  def percentile(samples: Seq[Double], p: Double): Double = {
    require(samples.nonEmpty, "percentile of an empty sample")
    require(p > 0 && p <= 1, s"percentile rank $p outside (0, 1]")
    val sorted = samples.sorted
    sorted(rank(sorted.size, p) - 1)
  }

  def median(samples: Seq[Double]): Double = {
    require(samples.nonEmpty, "median of an empty sample")
    val s = samples.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** 1-based nearest rank: ceil(p * n). */
  def rank(n: Int, p: Double): Int = math.max(1, math.ceil(p * n - 1e-9).toInt)

  /** Samples strictly beyond the nearest-rank percentile. */
  def beyond(n: Int, p: Double): Int = n - rank(n, p)

  /** A tail percentile is reported only when at least `minBeyond`
    * samples lie beyond it; with fewer, the value is one or two
    * outliers and says nothing about the tail. For p90 that means at
    * least 100 samples.
    */
  def tailPercentile(samples: Seq[Double], p: Double, minBeyond: Int = 10): Option[Double] =
    if (samples.nonEmpty && beyond(samples.size, p) >= minBeyond) Some(percentile(samples, p))
    else None
}

/** Count of attempted ops, ops that threw, and ops whose output failed
  * its check. Both kinds count against `failed_ratio`.
  */
final case class Outcome(attempted: Long = 0, errors: Long = 0, wrong: Long = 0) {
  def +(o: Outcome): Outcome = Outcome(attempted + o.attempted, errors + o.errors, wrong + o.wrong)
  def failed: Long = errors + wrong
  def failedRatio: Double = if (attempted == 0) 0.0 else failed.toDouble / attempted
  def correct: Boolean = attempted > 0 && failed == 0
}

object Outcome {
  val ok: Outcome = Outcome(1, 0, 0)
  val error: Outcome = Outcome(1, 1, 0)
  val wrongOutput: Outcome = Outcome(1, 0, 1)
  def check(passed: Boolean): Outcome = if (passed) ok else wrongOutput
}
