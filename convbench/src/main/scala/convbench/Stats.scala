package convbench

/** Percentiles by nearest rank over a sample of timings. */
object Stats {
  /** Candidate tail percentiles, highest first. */
  val Tails: Seq[Double] = Seq(99.9, 99.0, 95.0, 90.0, 80.0, 75.0, 50.0)

  /** 1-based nearest rank of percentile `p` among `n` samples. */
  def rank(p: Double, n: Int): Int =
    math.min(n, math.max(1, math.ceil(p * n / 100.0 - 1e-9).toInt))

  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    xs.sorted.apply(rank(p, xs.length) - 1)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50.0)

  /** The highest candidate percentile that leaves at least `beyond`
    * samples above its nearest rank, with its value; None when even
    * the median does not.
    */
  def tail(xs: Seq[Double], beyond: Int = 10): Option[(Double, Double)] =
    Tails.find(p => xs.nonEmpty && xs.length - rank(p, xs.length) >= beyond)
      .map(p => (p, percentile(xs, p)))
}
