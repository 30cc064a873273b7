package perfbench

/** Quantiles and the reporting rule: a percentile is reported only when
  * at least ten samples lie beyond it, so a tail figure never rests on a
  * handful of points. */
object Stats {
  val MinBeyond = 10

  /** Linear-interpolated quantile (NaN on no samples). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def reportable(xs: Seq[Double], q: Double): Option[Double] = {
    val v = quantile(xs, q)
    if (xs.count(_ > v) >= MinBeyond) Some(v) else None
  }
}

/** Minimal JSON writer for the run record. */
object Json {
  def value(v: Any): String = v match {
    case null => "null"
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n @ (_: Int | _: Long) => n.toString
    case b: Boolean => b.toString
    case s: String => str(s)
    case m: collection.Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case (k: String, x) => obj(Seq(k -> x))
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case o => str(o.toString)
  }

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")
}
