package lifebench

/** Percentile math for the benchmark's latency metrics. */
object Stats {

  /** 1-based nearest rank of percentile `p` among `n` samples (the
    * epsilon keeps 99.9 % of 10000 at 9990 despite binary rounding).
    */
  def rank(n: Int, p: Double): Int = math.min(n, math.max(1, math.ceil(p * n / 100.0 - 1e-9).toInt))

  /** Nearest-rank percentile of `xs` (`p` in (0, 100]); NaN when empty. */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN else xs.sorted.apply(rank(xs.size, p) - 1)

  /** The median; the mean of the middle two for an even count. */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Candidate tail percentiles, highest first. */
  val TailPercentiles: Seq[Double] = Seq(99.9, 99.0, 95.0, 90.0, 75.0)

  /** Samples strictly beyond the nearest-rank `p`-th percentile. */
  def beyond(n: Int, p: Double): Int = n - rank(n, p)

  /** Samples a tail percentile must have beyond it. */
  val MinBeyond = 10

  /** The tail: the highest candidate percentile with at least
    * [[MinBeyond]] samples beyond it, as (percentile, value, sample
    * count); None when even p75 has fewer samples beyond it.
    */
  def tail(xs: Seq[Double]): Option[(Double, Double, Int)] =
    TailPercentiles.find(p => beyond(xs.size, p) >= MinBeyond)
      .map(p => (p, percentile(xs, p), xs.size))
}

/** Thread-safe sample buffer. */
final class Samples {
  private val buf = scala.collection.mutable.ArrayBuffer.empty[Double]
  def add(x: Double): Unit = synchronized { buf += x }
  def values: Seq[Double] = synchronized { buf.toVector }
  def size: Int = synchronized { buf.size }
}

/** Minimal JSON rendering for the result line and records. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else java.lang.Double.toString(d)
  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
