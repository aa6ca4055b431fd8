package perfbench

import java.util.Locale

/** Locale-independent number formatting. Every number the benchmark prints
  * goes through here, so a comma-decimal default locale can never turn a
  * result line into invalid JSON.
  */
object Fmt {
  def f(v: Double, digits: Int = 3): String =
    String.format(Locale.ROOT, s"%.${digits}f", Double.box(v))

  /** Full-precision JSON number (Double.toString is locale-free). */
  def json(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else java.lang.Double.toString(v)

  def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(String.format(Locale.ROOT, "\\u%04x", Int.box(c.toInt)))
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${quote(k)}:$v" }.mkString("{", ",", "}")
}
