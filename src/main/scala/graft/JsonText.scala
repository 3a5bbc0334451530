package graft

/** JSON scalars for the one-line records the mains print. Numbers are
  * locale-independent: the `f"%.3f"` interpolator follows the JVM default
  * locale and prints `0,123` under a comma-decimal one. Strings are quoted
  * and escaped, control characters included.
  */
object JsonText {
  def num(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  def str(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => String.format(java.util.Locale.ROOT, "\\u%04x", Int.box(c.toInt))
      case c => c.toString
    }.mkString("\"", "", "\"")

  /** A record value: a string, a whole number, a double (as [[num]]), an
    * option (None is null), a sequence, or a string-keyed map in its own
    * order.
    */
  def any(v: Any): String = v match {
    case None => "null"
    case Some(x) => any(x)
    case s: String => str(s)
    case d: Double => num(d)
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + any(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(any).mkString("[", ",", "]")
    case n @ (_: Int | _: Long | _: Boolean) => n.toString
  }
}
