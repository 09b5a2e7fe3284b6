package perfbench

/** Minimal JSON rendering for the run record (maps, sequences, case
  * classes, strings and numbers). */
object Json {
  def render(v: Any): String = v match {
    case null                  => "null"
    case s: String             => quote(s)
    case b: Boolean            => b.toString
    case d: Double             => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float              => render(f.toDouble)
    case n: java.lang.Number   => n.toString
    case o: Option[_]          => o.fold("null")(render)
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case it: Iterable[_]       => it.map(render).mkString("[", ",", "]")
    case a: Array[_]           => render(a.toSeq)
    case p: Product if p.productArity > 0 =>
      render(p.productElementNames.zip(p.productIterator).toSeq.toMap)
    case other                 => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c    => b += c
    }
    (b += '"').toString
  }
}
