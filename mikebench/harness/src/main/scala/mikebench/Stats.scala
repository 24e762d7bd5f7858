package mikebench

/** Small statistics helpers and the JSON writer. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(x => math.log(math.max(x, 1e-9))).sum / xs.size)

  /** Nearest-rank percentile, p in (0, 100]. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    s(math.min(s.size - 1, math.max(0, math.ceil(p / 100 * s.size).toInt - 1)))
  }

  /** The highest of p50/p75/p90/p95/p99 with at least 10 samples beyond it. */
  def highPercentile(n: Int): Option[Int] =
    Seq(99, 95, 90, 75, 50).find(p => (100 - p) * n >= 1000)

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  /** Renders nested Maps/Seqs/Options/strings/numbers as JSON. */
  def json(v: Any): String = mapper.writeValueAsString(v)
}
