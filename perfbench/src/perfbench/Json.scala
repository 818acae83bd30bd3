package perfbench

/** Minimal JSON writer for the harness's flat outputs (result line,
  * manifest, trace lines); numbers are written with all their digits.
  */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }

  def value(v: Any): String = v match {
    case null                 => "null"
    case s: String            => str(s)
    case b: Boolean           => b.toString
    case d: Double            => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float             => value(f.toDouble)
    case n: Int               => n.toString
    case n: Long              => n.toString
    case Raw(txt)             => txt
    case m: Map[_, _]         => obj(m.toSeq.map { case (k, x) => k.toString -> x }: _*)
    case o: Option[_]         => o.map(value).getOrElse("null")
    case xs: Iterable[_]      => xs.map(value).mkString("[", ",", "]")
    case other                => str(other.toString)
  }

  def obj(kv: (String, Any)*): String =
    kv.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")

  /** Already-serialized JSON, embedded as is. */
  final case class Raw(txt: String)
}
