package perfbench

/** Order statistics for the benchmark's reports. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Samples that must lie beyond the tail percentile. */
  val TailBeyond = 10

  /** The tail rule: the highest percentile with at least [[TailBeyond]]
    * samples beyond it. With `n` samples that is the nearest-rank
    * percentile `p = 100 * (n - 10) / n`, i.e. the 11th-largest sample.
    * That percentile lies above the median only from 21 samples on;
    * below that the sample cannot resolve a tail and the maximum
    * (`p = 100`) is reported instead.
    *
    * Returns (percentile, 1-based ascending rank).
    */
  def tailRank(n: Int): (Double, Int) = {
    require(n > 0, "tail of no samples")
    if (n <= 2 * TailBeyond) (100.0, n)
    else (100.0 * (n - TailBeyond) / n, n - TailBeyond)
  }

  /** (percentile, value) of the tail of `xs` under [[tailRank]]. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val (p, rank) = tailRank(xs.size)
    (p, xs.sorted.apply(rank - 1))
  }
}
