package graft.perfbench

/** Minimal JSON rendering for the harness's result file. */
object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString

  def str(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => " "
    case c => c.toString
  }.mkString("\"", "", "\"")

  /** Renders nested Maps, Seqs, Strings, numbers and Booleans. */
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  private lazy val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  def read(path: String): com.fasterxml.jackson.databind.JsonNode =
    mapper.readTree(new java.io.File(path))
}
