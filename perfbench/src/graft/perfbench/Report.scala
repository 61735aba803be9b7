package graft.perfbench

import scala.collection.mutable

object Stats {
  def sorted(xs: Seq[Double]): IndexedSeq[Double] = xs.sorted.toIndexedSeq

  def median(xs: Seq[Double]): Double = {
    val s = sorted(xs)
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it:
    * (value, percentile, sample count). Below 21 samples that percentile
    * would not exceed the median, so the maximum is reported instead,
    * flagged by `percentile` = 100. */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val s = sorted(xs)
    if (s.isEmpty) (0.0, 0.0, 0)
    else if (s.size < 21) (s.last, 100.0, s.size)
    else {
      val i = s.size - 11
      (s(i), 100.0 * (i + 1) / s.size, s.size)
    }
  }

  def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b
}

/** Named metrics with units, plus free-form context, rendered as JSON. */
final class Report {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val info = mutable.LinkedHashMap.empty[String, Any]

  def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)
  def note(name: String, value: Any): Unit = info(name) = value

  def json: String = Json.render(mutable.LinkedHashMap[String, Any](
    "metrics" -> metrics.map { case (k, (v, u)) =>
      k -> mutable.LinkedHashMap[String, Any]("value" -> v, "unit" -> u)
    },
    "info" -> info))
}

object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case p: Product if p.productArity > 0 =>
      (0 until p.productArity).map(i => quote(p.productElementName(i)) + ":" +
        render(p.productElement(i))).mkString("{", ",", "}")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < 0x20 => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
