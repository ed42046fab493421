package perfbench

/** Pure helpers the report is built from: percentiles, interval
  * arithmetic for self time, and JSON text. Kept free of Spark so the
  * unit tests pin them exactly.
  */
object Stats {

  /** 1-based nearest rank of percentile `q` in `n` samples. The epsilon
    * keeps 99.9% of 10,000 at rank 9,990 despite binary rounding.
    */
  def rank(q: Double, n: Int): Int = math.ceil(q / 100.0 * n - 1e-9).toInt

  /** Nearest-rank percentile, `q` in [0, 100]. */
  def percentile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    s(math.min(s.length, math.max(1, rank(q, s.length))) - 1)
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** The fixed percentile ladder a tail is read from. */
  val Ladder: Seq[Double] = Seq(50.0, 90.0, 99.0, 99.9)

  /** The highest ladder percentile that has at least `minBeyond` of the
    * `n` samples strictly above its rank, or None when even the median
    * has fewer. A tail read off fewer samples is one outlier, not a tail.
    */
  def tailPercentile(n: Int, minBeyond: Int = 10): Option[Double] =
    Ladder.filter(q => n - rank(q, n) >= minBeyond).lastOption

  /** Length of the union of `intervals` clipped to [lo, hi). */
  def coveredLength(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals
      .map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var covered = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    for ((a, b) <- clipped) {
      if (a > curEnd) {
        if (curEnd > curStart) covered += curEnd - curStart
        curStart = a; curEnd = b
      } else if (b > curEnd) curEnd = b
    }
    if (curEnd > curStart) covered += curEnd - curStart
    covered
  }

  /** Self time of a span: its duration minus the part of it that any
    * child interval covers (children may overlap one another).
    */
  def selfTime(start: Long, end: Long, children: Seq[(Long, Long)]): Long =
    (end - start) - coveredLength(children, start, end)

  /** A JSON string literal; every control character is escaped. */
  def jsonString(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"'  => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case '\r' => sb ++= "\\r"
      case '\t' => sb ++= "\\t"
      case '\b' => sb ++= "\\b"
      case '\f' => sb ++= "\\f"
      case c if c < 0x20 || c == 0x2028 || c == 0x2029 || c == 0x7f =>
        sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
    sb.toString
  }

  /** A JSON number with every digit the double carries. */
  def jsonNumber(x: Double): String = {
    require(!x.isNaN && !x.isInfinite, s"metric is not a finite number: $x")
    if (x == math.rint(x) && math.abs(x) < 1e15) x.toLong.toString else x.toString
  }
}
