package perfbench

/** Minimal JSON writer for the result line and the run report. */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"'  => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < 0x20 => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  def value(v: Any): String = v match {
    case null                      => "null"
    case s: String                 => str(s)
    case d: Double if d.isNaN || d.isInfinite => "null"
    case d: Double                 => d.toString
    case n: Int                    => n.toString
    case n: Long                   => n.toString
    case b: Boolean                => b.toString
    case Some(x)                   => value(x)
    case None                      => "null"
    case Raw(s)                    => s
    case m: collection.Map[_, _]   => m.map { case (k, x) => str(k.toString) + ": " + value(x) }.mkString("{", ", ", "}")
    case xs: Iterable[_]           => xs.map(value).mkString("[", ", ", "]")
    case other                     => str(other.toString)
  }

  /** Already-serialized JSON, embedded verbatim. */
  final case class Raw(json: String)

  def obj(kvs: (String, Any)*): String = kvs.map { case (k, v) => str(k) + ": " + value(v) }.mkString("{", ", ", "}")
}
