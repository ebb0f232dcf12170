package perfbench

/** Minimal JSON rendering for the run report: maps, sequences, strings,
  * numbers, booleans and options. Non-finite doubles render as null.
  */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x)     => apply(x)
    case s: String   => quote(s)
    case b: Boolean  => b.toString
    case d: Double   => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int      => n.toString
    case n: Long     => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case it: Iterable[_] => it.map(apply).mkString("[", ",", "]")
    case other           => quote(other.toString)
  }

  def quote(s: String): String = {
    val b = new java.lang.StringBuilder(s.length + 16).append('"')
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '"'  => b.append("\\\"")
        case '\\' => b.append("\\\\")
        case '\n' => b.append("\\n")
        case '\r' => b.append("\\r")
        case '\t' => b.append("\\t")
        case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
        case c    => b.append(c)
      }
      i += 1
    }
    b.append('"').toString
  }
}
