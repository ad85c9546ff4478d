package perfbench

/** Summary statistics the benchmark reports. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), s"geomean needs positive samples: $xs")
    math.exp(xs.map(math.log).sum / xs.length)
  }

  /** A tail percentile, the samples beyond it and the sample count. */
  final case class Tail(value: Double, percentile: Double, beyond: Int, n: Int)

  private val Ladder = Seq(50.0, 75.0, 90.0, 95.0, 99.0, 99.9)

  /** The highest percentile of the ladder that has at least ten samples
    * beyond it (nearest-rank), or None below 20 samples.
    */
  def tail(xs: Seq[Double]): Option[Tail] = {
    val n = xs.length
    val s = xs.sorted
    Ladder.reverse.iterator.map { p =>
      val rank = math.ceil(p / 100 * n).toInt // 1-based nearest rank
      (p, rank, n - rank)
    }.collectFirst { case (p, rank, beyond) if rank >= 1 && beyond >= 10 =>
      Tail(s(rank - 1), p, beyond, n)
    }
  }
}
