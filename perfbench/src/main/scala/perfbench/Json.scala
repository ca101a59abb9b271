package perfbench

/** Tiny JSON writer for the raw result file (numbers, strings, arrays,
  * objects); values are built as nested Scala collections. */
object Json {
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => graft.util.Json.quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => graft.util.Json.quote(k.toString) + ":" + render(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => graft.util.Json.quote(other.toString)
  }
}
