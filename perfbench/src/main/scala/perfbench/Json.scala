package perfbench

/** Minimal JSON writer for the result line, run metadata and trace files.
  * Doubles print with every digit (`Double.toString`); a non-finite number
  * is a bug in a metric, so it fails loudly instead of printing `NaN`.
  */
object Json {

  def apply(v: Any): String = v match {
    case null                 => "null"
    case s: String            => quote(s)
    case b: Boolean           => b.toString
    case d: Double            =>
      require(!d.isNaN && !d.isInfinite, s"non-finite number $d in JSON output")
      d.toString
    case f: Float             => apply(f.toDouble)
    case n: Int               => n.toString
    case n: Long              => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_]      => xs.map(apply).mkString("[", ",", "]")
    case p: Product           =>
      apply(scala.collection.immutable.ListMap.from(p.productElementNames.zip(p.productIterator)))
    case other                => quote(other.toString)
  }

  private def quote(s: String): String = s.flatMap {
    case '"'          => "\\\""
    case '\\'         => "\\\\"
    case '\n'         => "\\n"
    case '\r'         => "\\r"
    case '\t'         => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c            => c.toString
  }.mkString("\"", "", "\"")
}
