package graftbench

/** Summary statistics of latency samples. A failed call is recorded as
  * `Double.PositiveInfinity`, so it sorts beyond every percentile. */
object Stats {

  /** Percentiles a tail may be reported at, lowest first. */
  val Ladder: Seq[Double] = Seq(50.0, 75.0, 90.0, 95.0, 99.0, 99.9, 99.99)

  final case class Tail(name: String, percentile: Double, value: Double, samples: Int)

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile: the smallest sample with at least `p`% of
    * the samples at or below it. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    xs.sorted.apply(rank(xs.size, p) - 1)
  }

  /** 1-based nearest rank of `p` among `n` samples (the tolerance keeps
    * e.g. 99.9% of 10,000 at rank 9,990 despite binary rounding). */
  def rank(n: Int, p: Double): Int =
    math.min(n, math.max(1, math.ceil(p * n / 100.0 - 1e-9).toInt))

  /** Samples strictly beyond the nearest-rank position of `p`. */
  def beyond(n: Int, p: Double): Int = n - rank(n, p)

  /** Display name of a percentile: `p50`, `p99`, `p99.9`. */
  def name(p: Double): String =
    if (p == math.rint(p)) s"p${p.toLong}" else s"p${BigDecimal(p).bigDecimal.stripTrailingZeros.toPlainString}"

  /** The tail: the highest ladder percentile with at least `minBeyond`
    * samples beyond it. None when even the median has fewer. */
  def tail(xs: Seq[Double], minBeyond: Int = 10): Option[Tail] =
    Ladder.filter(p => beyond(xs.size, p) >= minBeyond).lastOption
      .map(p => Tail(name(p), p, percentile(xs, p), xs.size))
}
