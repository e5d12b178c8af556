package perfbench

/** Order statistics over latency samples. */
object Stats {

  /** A percentile together with the evidence behind it: how many
    * samples it was computed from and how many lie strictly above it.
    */
  case class Pct(value: Double, samples: Int, beyond: Int) {
    /** The tail is resolved when at least `k` samples lie beyond it. */
    def resolved(k: Int = 10): Boolean = beyond >= k
  }

  /** Linearly interpolated percentile (numpy's default, R type 7). */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p >= 0 && p <= 100, s"percentile $p out of range")
    val s = xs.toIndexedSeq.sorted
    val h = (s.size - 1) * p / 100.0
    val lo = math.floor(h).toInt
    val hi = math.ceil(h).toInt
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }

  def pct(xs: Seq[Double], p: Double): Pct = {
    val v = percentile(xs, p)
    Pct(v, xs.size, xs.count(_ > v))
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)
}
