package graftbench

/** Order statistics and a minimal JSON writer for the result files. */
object Stats {
  /** Linear interpolation between closest ranks (0 ≤ q ≤ 1). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s   = xs.sorted
      val pos = q * (s.size - 1)
      val lo  = pos.toInt
      val hi  = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r  = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def json(v: Any): String = v match {
    case null                         => "null"
    case s: String                    => quote(s)
    case b: Boolean                   => b.toString
    case d: Double if d.isNaN || d.isInfinite => "null"
    case n: Double                    => n.toString
    case n: Int                       => n.toString
    case n: Long                      => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Iterable[_]              => xs.map(json).mkString("[", ",", "]")
    case x                            => quote(x.toString)
  }

  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"'          => sb.append("\\\"")
      case '\\'         => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c            => sb.append(c)
    }
    sb.append('"').toString
  }
}
