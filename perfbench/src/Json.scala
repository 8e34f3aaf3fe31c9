package perfbench

/** Just enough JSON writing for the result line and the span file. */
object Json {
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "null"
    else if (x == math.rint(x) && math.abs(x) < 1e15) x.toLong.toString
    else java.lang.Double.toString(x)

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s""""${esc(k)}":$v""" }.mkString("{", ",", "}")

  def str(s: String): String = "\"" + esc(s) + "\""
}
