package perfbench

/** Just enough JSON for the result line, the expected-values file and the
  * span dump: strings, numbers and flat objects, written and read back. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** A double with all its digits; non-finite values become null. */
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString

  /** Parse a flat `{"key": "value", ...}` object of string values (the
    * format [[Expected]] writes). */
  def parseFlat(text: String): Map[String, String] = {
    val pair = "\"((?:[^\"\\\\]|\\\\.)*)\"\\s*:\\s*\"((?:[^\"\\\\]|\\\\.)*)\"".r
    pair.findAllMatchIn(text).map(m => m.group(1) -> m.group(2)).toMap
  }
}
