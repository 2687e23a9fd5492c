package perfbench

/** Minimal JSON writing for the result line and the trace side file. */
object Json {
  def str(s: String): String =
    if (s == null) "null"
    else {
      val b = new StringBuilder("\"")
      s.foreach {
        case '"' => b ++= "\\\""
        case '\\' => b ++= "\\\\"
        case '\n' => b ++= "\\n"
        case '\r' => b ++= "\\r"
        case '\t' => b ++= "\\t"
        case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
        case c => b += c
      }
      (b += '"').toString
    }

  /** A finite number with all its digits; NaN/Inf have no JSON form. */
  def num(x: Double): String = {
    require(!x.isNaN && !x.isInfinite, s"non-finite metric $x")
    if (x == math.rint(x) && math.abs(x) < 1e15) x.toLong.toString
    else java.lang.Double.toString(x)
  }

  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
}
