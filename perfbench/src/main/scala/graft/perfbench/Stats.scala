package graft.perfbench

/** Summary statistics and the result-line format. */
object Stats {

  /** A percentile is only reported when at least this many samples lie
    * beyond it: the median needs 20 samples, p90 needs 100. */
  val MinBeyond = 10

  /** Nearest-rank percentile of `xs` (0 < p < 1), or None when fewer than
    * [[MinBeyond]] samples lie beyond the rank. */
  def percentile(xs: Seq[Double], p: Double): Option[Double] = {
    require(p > 0 && p < 1, s"percentile $p")
    val n = xs.size
    val rank = math.max(1, math.ceil(p * n - 1e-9).toInt)
    if (n - rank < MinBeyond) None else Some(xs.sorted.apply(rank - 1))
  }

  /** Plain median for summaries that are not latency percentiles (one
    * value per pass or per set-up); NaN when empty. */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** One report line for a latency percentile: its value when the rule
    * allows it, and the sample count either way. */
  def describe(name: String, xs: Seq[Double], p: Double, unit: String): String =
    percentile(xs, p).map(v => f"$name%-24s $v%.4f $unit%s (n=${xs.size})")
      .getOrElse(f"$name%-24s n/a (n=${xs.size}, fewer than $MinBeyond samples beyond p${math.round(p * 100)})")

  private val NamePattern = "[A-Za-z0-9][A-Za-z0-9_.-]{0,63}".r

  def validName(name: String): Boolean = NamePattern.matches(name)

  final case class Metric(name: String, value: Double, unit: String)

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) throw new IllegalArgumentException(s"non-finite metric value $v")
    else java.math.BigDecimal.valueOf(v).toPlainString

  private def str(s: String): String = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  /** The last line of the benchmark's standard output. */
  def resultLine(correct: Boolean, attempted: Long, failed: Long, metrics: Seq[Metric]): String = {
    metrics.foreach(m => require(validName(m.name), s"metric name ${m.name}"))
    require(metrics.map(_.name).distinct.size == metrics.size, "duplicate metric names")
    val ms = metrics.map(m => s"${str(m.name)}: {\"value\": ${num(m.value)}, \"unit\": ${str(m.unit)}}")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {${ms.mkString(", ")}}}"""
  }
}
