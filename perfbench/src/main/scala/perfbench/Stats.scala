package perfbench

/** Order statistics and the JSON writer of the run record. */
object Stats {

  /** Linear-interpolated quantile (the "inclusive" method), q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The steadiness record of one metric's samples within a run. */
  def summary(xs: Seq[Double]): Map[String, Any] = Map(
    "n" -> xs.size,
    "median" -> median(xs),
    "q1" -> quantile(xs, 0.25),
    "q3" -> quantile(xs, 0.75))

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  /** `v` (nested Scala maps, sequences and scalars) as JSON. */
  def json(v: Any): String = mapper.writeValueAsString(v)
}
