package perfbench

/** Minimal JSON rendering for the harness's records (the harness has no
  * JSON library of its own on the classpath it can rely on). */
object Json {
  def obj(fields: (String, Any)*): String =
    fields.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) str(d.toString) else d.toString
    case f: Float => value(f.toDouble)
    case n: Number => n.toString
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  /** A result cell as JSON; values other than numbers, strings, booleans
    * and nulls are rendered by their string form. */
  def cell(v: Any): Any = v match {
    case null => null
    case _: String | _: Boolean | _: Number => v
    case other => other.toString
  }

  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
