package perfbench

import com.fasterxml.jackson.databind.ObjectMapper

object Stats {
  /** Linear-interpolated quantile (q in [0, 1]) of unsorted values; 0 for none. */
  def quantile(xs: Iterable[Double], q: Double): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) 0.0
    else {
      val pos = q * (s.length - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
  def median(xs: Iterable[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** |a − b| within a relative tolerance of b, with 1 as the scale floor. */
  def close(a: Double, b: Double, tol: Double): Boolean =
    math.abs(a - b) <= tol * math.max(1.0, math.abs(b))
}

object Json {
  val mapper = new ObjectMapper()

  private def toJava(v: Any): AnyRef = v match {
    case null => null
    case m: scala.collection.Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, AnyRef]()
      m.foreach { case (k, x) => out.put(k.toString, toJava(x)) }
      out
    case s: Iterable[_] =>
      val out = new java.util.ArrayList[AnyRef]()
      s.foreach(x => out.add(toJava(x)))
      out
    case a: Array[_] => toJava(a.toSeq)
    case d: Double => java.lang.Double.valueOf(if (d.isNaN || d.isInfinite) 0.0 else d)
    case o: AnyRef => o
    case p => p.asInstanceOf[AnyRef]
  }

  def write(path: String, v: Any): Unit =
    mapper.writerWithDefaultPrettyPrinter().writeValue(new java.io.File(path), toJava(v))
}
