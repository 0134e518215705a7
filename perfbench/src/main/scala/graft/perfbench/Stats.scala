package graft.perfbench

/** Order statistics the benchmark reports. Pure functions. */
object Stats {

  /** Percentiles a latency summary may report, lowest first. */
  val Candidates: Seq[Double] = Seq(50.0, 75.0, 90.0, 95.0, 99.0, 99.9)

  /** Samples a reported percentile must have beyond it. */
  val MinBeyond = 10

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** 1-based nearest rank of percentile `p` among `n` samples. */
  def rank(p: Double, n: Int): Int = math.max(1, math.ceil(p / 100.0 * n - 1e-9).toInt)

  /** Nearest-rank percentile: the smallest sample with at least p% of
    * the samples at or below it. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    s(rank(p, s.size) - 1)
  }

  /** The highest candidate percentile that has at least [[MinBeyond]]
    * samples ranked above it, if any. */
  def tailPercentile(n: Int): Option[Double] =
    Candidates.filter(p => n - rank(p, n) >= MinBeyond).lastOption

  /** A latency distribution as reported: sample count, median, and the
    * tail at [[tailPercentile]] when the count allows one. */
  final case class Summary(n: Int, p50: Double, tailP: Option[Double],
                           tail: Option[Double]) {
    def json: String = if (n == 0) """{"n":0}""" else {
      val t = (tailP, tail) match {
        case (Some(p), Some(v)) => s""","tail_p":$p,"tail":$v"""
        case _ => ""
      }
      s"""{"n":$n,"p50":$p50$t}"""
    }
  }

  def summarize(xs: Seq[Double]): Summary = if (xs.isEmpty) Summary(0, Double.NaN, None, None) else {
    val tp = tailPercentile(xs.size)
    Summary(xs.size, median(xs), tp, tp.map(percentile(xs, _)))
  }
}
