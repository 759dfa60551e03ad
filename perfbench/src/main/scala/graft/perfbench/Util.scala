package graft.perfbench

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** The highest percentile (whole percent, nearest rank) with at least
    * ten samples above it, with its value, never below the median; the
    * maximum when there are too few samples.
    */
  def tail(xs: Seq[Double]): (Int, Double) = {
    val s = xs.sorted
    val n = s.length
    val pct = (99 to 50 by -1).find(p => n - math.ceil(p / 100.0 * n).toInt >= 10)
    pct match {
      case Some(p) => (p, math.max(median(s), s(math.ceil(p / 100.0 * n).toInt - 1)))
      case None    => (100, s.last)
    }
  }
}

/** Minimal JSON writer for the result line and the trace files. */
object Json {
  def value(v: Any): String = v match {
    case null                 => "null"
    case s: String            => quote(s)
    case d: Double            => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float             => value(f.toDouble)
    case b: Boolean           => b.toString
    case n: Int               => n.toString
    case n: Long              => n.toString
    case m: Map[_, _]         => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Seq[_]           => xs.map(value).mkString("[", ",", "]")
    case RawJson(s)           => s
    case other                => quote(other.toString)
  }

  def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => quote(k) + ":" + value(v) }.mkString("{", ",", "}")

  def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c    => b += c
    }
    (b += '"').toString
  }
}

/** Already-serialized JSON, embedded as is. */
final case class RawJson(s: String)
