package catbench

/** Order statistics and the result line. */
object Stats {

  /** Median of a non-empty sample (mean of the middle two when even). */
  def median(xs: collection.Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Geometric mean of a non-empty sample of positive values. */
  def gmean(xs: collection.Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), "gmean needs positive samples")
    math.exp(xs.map(math.log).sum / xs.size)
  }

  val NamePattern = "[A-Za-z0-9_.-]+"

  final case class Metric(name: String, value: Double, unit: String)

  /** The last line the benchmark prints: correctness, operation counts
    * and every metric with its unit, values at full precision. */
  def resultLine(correct: Boolean, attempted: Long, failed: Long,
      metrics: Seq[Metric]): String = {
    metrics.foreach { m =>
      require(m.name.matches(NamePattern), s"bad metric name '${m.name}'")
      require(!m.value.isNaN && !m.value.isInfinite,
        s"metric ${m.name} is ${m.value}")
    }
    require(metrics.map(_.name).distinct.size == metrics.size,
      "duplicate metric names")
    val ms = metrics.map { m =>
      s""""${m.name}": {"value": ${m.value}, "unit": "${m.unit}"}"""
    }.mkString(", ")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$ms}}"""
  }
}
