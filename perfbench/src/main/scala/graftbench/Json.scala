package graftbench

/** Minimal JSON writer: the harness prints one result object and a few
  * files, and the Spark classpath's JSON libraries are not API-stable. */
object Json {
  type J = String
  def str(s: String): J = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"'  => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c    => sb.append(c)
    }
    sb.append('"').toString
  }
  def num(d: Double): J =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def num(l: Long): J = l.toString
  def bool(b: Boolean): J = b.toString
  def obj(kv: Seq[(String, J)]): J = kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def arr(vs: Seq[J]): J = vs.mkString("[", ", ", "]")
}
