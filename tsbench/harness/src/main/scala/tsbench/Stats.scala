package tsbench

/** A percentile with the number of samples it was taken over. */
final case class Pct(value: Double, n: Int)

object Stats {

  /** Nearest-rank percentile: the smallest sample with at least `p`
    * percent of the samples at or below it. NaN over no samples. */
  def percentile(samples: Seq[Double], p: Double): Pct = {
    require(p > 0 && p <= 100, s"percentile must be in (0, 100], got $p")
    if (samples.isEmpty) Pct(Double.NaN, 0)
    else {
      val sorted = samples.sorted
      val rank = math.ceil(p / 100.0 * sorted.size).toInt
      Pct(sorted(math.max(rank, 1) - 1), sorted.size)
    }
  }

  def median(samples: Seq[Double]): Double = percentile(samples, 50).value

  def mean(samples: Seq[Double]): Double =
    if (samples.isEmpty) 0.0 else samples.sum / samples.size

  /** Geometric mean of positive samples; NaN over none. */
  def geomean(samples: Seq[Double]): Double =
    if (samples.isEmpty) Double.NaN else math.exp(samples.map(math.log).sum / samples.size)
}

/** The few JSON shapes the harness writes, without a JSON library. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  /** Finite doubles print with all their digits; JSON has no NaN. */
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
