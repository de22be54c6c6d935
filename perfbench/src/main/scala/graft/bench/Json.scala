package graft.bench

/** Minimal JSON writer for the result and span files. */
object Json {
  def write(v: Any): String = v match {
    case null                          => "null"
    case s: String                     => quote(s)
    case b: Boolean                    => b.toString
    case d: Double if d.isNaN || d.isInfinite => "null"
    case d: Double                     => java.lang.Double.toString(d)
    case f: Float                      => write(f.toDouble)
    case n: Int                        => n.toString
    case n: Long                       => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + write(x) }.mkString("{", ",", "}")
    case o: Option[_]                  => o.map(write).getOrElse("null")
    case xs: Iterable[_]               => xs.map(write).mkString("[", ",", "]")
    case xs: Array[_]                  => xs.map(write).mkString("[", ",", "]")
    case other                         => quote(other.toString)
  }

  private def quote(s: String): String = s.flatMap {
    case '"'          => "\\\""
    case '\\'         => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c            => c.toString
  }.mkString("\"", "", "\"")
}
