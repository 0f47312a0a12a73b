package perfbench

/** Order statistics for the benchmark's latency samples. */
object Stats {

  /** A tail: the value at `percentile`, which is the highest percentile
    * that still has at least [[Stats.Beyond]] of the `n` samples above
    * it. With fewer than Beyond + 1 samples no percentile qualifies;
    * the tail is then the maximum and `beyond` says how few samples
    * lie past it. */
  final case class Tail(percentile: Double, value: Double, n: Int, beyond: Int)

  val Beyond = 10

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val m = s.length / 2
    if (s.length % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }

  def tail(xs: Seq[Double]): Tail = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    val n = s.length
    if (n <= Beyond) Tail(100.0, s.last, n, 0)
    else {
      // The k-th smallest sample (1-based) has n - k samples above it.
      val k = n - Beyond
      Tail(100.0 * k / n, s(k - 1), n, Beyond)
    }
  }

  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.length
}
