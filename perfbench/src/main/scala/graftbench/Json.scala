package graftbench

/** A minimal JSON tree and renderer (no dependency beyond the JDK). */
object Json {
  sealed trait J
  final case class N(v: Double) extends J
  final case class S(v: String) extends J
  final case class B(v: Boolean) extends J
  final case class A(v: Seq[J]) extends J
  final case class O(v: Seq[(String, J)]) extends J
  case object Null extends J

  def num(v: Double): J = if (v.isNaN || v.isInfinite) Null else N(v)
  def str(v: String): J = S(v)
  def bool(v: Boolean): J = B(v)
  def arr(v: J*): J = A(v)
  def obj(v: (String, J)*): J = O(v)
  val nul: J = Null

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }

  def render(j: J): String = j match {
    case N(v) if v == math.rint(v) && math.abs(v) < 1e15 => v.toLong.toString
    case N(v) => v.toString
    case S(v) => quote(v)
    case B(v) => v.toString
    case Null => "null"
    case A(v) => v.map(render).mkString("[", ",", "]")
    case O(v) => v.map { case (k, x) => quote(k) + ":" + render(x) }.mkString("{", ",", "}")
  }

  def writeFile(path: String, j: J): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(path), (render(j) + "\n").getBytes("UTF-8"))

  /** The numeric members of the flat object stored under `key` in a
    * document this renderer wrote (enough to read our own results back). */
  def numbersUnder(doc: String, key: String): Map[String, Double] = {
    val i = doc.indexOf(quote(key) + ":{")
    if (i < 0) Map.empty
    else {
      val body = doc.substring(i + key.length + 4, doc.indexOf('}', i))
      "\"([^\"]+)\":(-?[0-9.eE+-]+)".r.findAllMatchIn(body)
        .map(m => m.group(1) -> m.group(2).toDouble).toMap
    }
  }
}
