package perfbench

/** Pure helpers: quantiles, interval unions, span self time, JSON. */
object Stats {
  /** Linear-interpolation quantile (numpy's default), q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    require(q >= 0 && q <= 1, s"quantile $q outside [0, 1]")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Samples strictly beyond quantile q: the p90 of 100 samples rests on
    * 10 of them. */
  def tailSamples(n: Int, q: Double): Int = math.floor(n * (1 - q) + 1e-9).toInt

  /** A percentile is reported only when at least `minTail` samples lie
    * beyond it. */
  val MinTail = 10
  def percentileAllowed(n: Int, q: Double): Boolean = tailSamples(n, q) >= MinTail

  /** Total length covered by a set of [start, end) intervals. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** A span's self time: its duration minus the part of its interval
    * that its children cover (children are clipped to the span). */
  def selfTime(span: (Long, Long), children: Seq[(Long, Long)]): Long = {
    val (s, e) = span
    val clipped = children.map(c => (math.max(c._1, s), math.min(c._2, e)))
    (e - s) - unionLength(clipped)
  }

  /** Compact JSON rendering of nested Maps/Seqs/strings/numbers. */
  def json(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => json(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, s"non-finite number $d")
      if (d == math.rint(d) && math.abs(d) < 1e15) java.lang.Long.toString(d.toLong)
      else java.lang.Double.toString(d)
    case f: Float => json(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }
}
