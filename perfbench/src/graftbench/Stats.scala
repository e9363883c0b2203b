package graftbench

/** Order statistics over measured samples. */
object Stats {

  /** A percentile together with the samples it rests on: `beyond` is
    * how many samples lie strictly above the reported value (a tail
    * percentile wants at least ten). */
  final case class Pct(p: Double, value: Double, samples: Int, beyond: Int)

  /** Nearest-rank percentile (`p` in (0, 100]) of a non-empty sample. */
  def percentile(xs: scala.collection.Seq[Double], p: Double): Pct = {
    require(xs.nonEmpty, "percentile of an empty sample")
    require(p > 0 && p <= 100, s"percentile must be in (0, 100], got $p")
    val s = xs.sorted
    val rank = math.max(1, math.ceil(p / 100.0 * s.size).toInt)
    val v = s(rank - 1)
    Pct(p, v, s.size, s.count(_ > v))
  }

  /** Median (mean of the two middle values for an even count). */
  def median(xs: scala.collection.Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }
}
