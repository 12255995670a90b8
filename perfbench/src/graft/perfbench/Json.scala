package graft.perfbench

/** Minimal JSON writer for the result and span files (the harness emits
  * only strings, numbers, booleans, sequences and ordered maps). */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def apply(v: Any): String = v match {
    case null                       => "null"
    case s: String                  => str(s)
    case b: Boolean                 => b.toString
    case d: Double if d.isNaN || d.isInfinite => "null"
    case d: Double                  => d.toString
    case f: Float                   => apply(f.toDouble)
    case n: Int                     => n.toString
    case n: Long                    => n.toString
    case o: Option[_]               => o.map(apply).getOrElse("null")
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_]             => s.map(apply).mkString("[", ",", "]")
    case other                      => str(other.toString)
  }

  /** Ordered object literal. */
  def obj(kv: (String, Any)*): scala.collection.Map[String, Any] =
    scala.collection.mutable.LinkedHashMap(kv: _*)
}
