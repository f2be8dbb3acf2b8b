package perfbench

/** The few JSON shapes the benchmark writes. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** A finite number; NaN and infinities (no samples) become null. */
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
