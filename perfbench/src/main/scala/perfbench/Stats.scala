package perfbench

import scala.collection.mutable

/** One measured value: what it is, its unit, and how many samples it is
  * taken over (0 when it is not a statistic over samples). */
final case class Metric(value: Double, unit: String, n: Int = 0)

object Stats {
  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Percentile by linear interpolation between order statistics (the
    * "exclusive"-free type 7 of Hyndman & Fan); NaN on no samples. */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val h = p * (s.length - 1)
      val i = h.toInt
      if (i + 1 >= s.length) s.last else s(i) + (h - i) * (s(i + 1) - s(i))
    }

  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else math.exp(xs.map(math.log).sum / xs.length)

  /** Minimal JSON writer for the flat maps this benchmark emits. */
  def json(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case Metric(value, unit, n) =>
      json(mutable.LinkedHashMap("value" -> value, "unit" -> unit, "n" -> n))
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case other => json(other.toString)
  }
}
