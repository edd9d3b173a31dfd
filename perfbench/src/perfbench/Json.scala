package perfbench

/** The one JSON writer of the benchmark. Numbers are rendered by
  * `BigDecimal.toPlainString`, never by a `format` call, so the default
  * locale (a comma-decimal `de_DE`, say) cannot change a digit; any
  * `String.format` left in here must pass `Locale.ROOT`. */
object Json {
  sealed trait Value
  final case class Num(v: Double) extends Value
  final case class Str(v: String) extends Value
  final case class Bool(v: Boolean) extends Value
  final case class Arr(vs: Seq[Value]) extends Value
  final case class Obj(fields: Seq[(String, Value)]) extends Value

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else java.math.BigDecimal.valueOf(v).stripTrailingZeros.toPlainString

  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < ' ' =>
        b.append(String.format(java.util.Locale.ROOT, "\\u%04x", Int.box(c.toInt)))
      case c => b.append(c)
    }
    b.append('"').toString
  }

  def render(v: Value): String = v match {
    case Num(d) => num(d)
    case Str(s) => str(s)
    case Bool(x) => x.toString
    case Arr(vs) => vs.map(render).mkString("[", ",", "]")
    case Obj(fs) => fs.map { case (k, x) => str(k) + ":" + render(x) }.mkString("{", ",", "}")
  }

  def write(path: java.nio.file.Path, v: Value): Unit =
    java.nio.file.Files.write(path, render(v).getBytes("UTF-8"))
}
