package graft.perfbench

/** Order statistics for the benchmark's timings. */
object Stats {

  /** Percentiles the tail metric may report, lowest first. */
  val TailLadder: Seq[Double] = Seq(50.0, 75.0, 90.0, 95.0, 99.0, 99.9)

  /** Nearest-rank percentile of an ascending sample: the value at
   *  1-based rank ceil(p/100 · n). */
  def percentile(sorted: IndexedSeq[Double], p: Double): Double = {
    require(sorted.nonEmpty, "percentile of an empty sample")
    sorted(rank(sorted.length, p) - 1)
  }

  private def rank(n: Int, p: Double): Int =
    math.min(n, math.max(1, math.ceil(p / 100.0 * n - 1e-9).toInt))

  /** Samples strictly ranked above the nearest-rank p-th percentile. */
  def beyond(n: Int, p: Double): Int = n - rank(n, p)

  /** The tail percentile: the highest ladder rung, no higher than
   *  `cap`, that still has at least `minBeyond` samples ranked above
   *  it. Returns (percentile, value), or None when even the median
   *  lacks that support. The cap is fixed per workload, so a faster
   *  build that fits more ops into a run is still compared on the same
   *  percentile as its parent. */
  def tail(samples: Seq[Double], cap: Double, minBeyond: Int = 10): Option[(Double, Double)] = {
    val sorted = samples.sorted.toIndexedSeq
    TailLadder.filter(_ <= cap).reverse
      .find(p => sorted.nonEmpty && beyond(sorted.length, p) >= minBeyond)
      .map(p => (p, percentile(sorted, p)))
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }
}
