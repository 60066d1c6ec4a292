package graftbench

/** Minimal JSON writer for the records the harness emits. Objects keep
  * insertion order; non-finite numbers are written as null. */
object Json {
  final case class Obj(fields: Seq[(String, Any)])

  def obj(fields: (String, Any)*): Obj = Obj(fields)

  def write(v: Any): String = {
    val sb = new StringBuilder
    def str(s: String): Unit = {
      sb += '"'
      s.foreach {
        case '"'  => sb ++= "\\\""
        case '\\' => sb ++= "\\\\"
        case '\n' => sb ++= "\\n"
        case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
        case c => sb += c
      }
      sb += '"'
    }
    def go(v: Any): Unit = v match {
      case null | None => sb ++= "null"
      case Some(x) => go(x)
      case b: Boolean => sb ++= b.toString
      case d: Double => if (d.isNaN || d.isInfinite) sb ++= "null" else sb ++= d.toString
      case n: Int => sb ++= n.toString
      case n: Long => sb ++= n.toString
      case s: String => str(s)
      case Obj(fs) =>
        sb += '{'
        fs.zipWithIndex.foreach { case ((k, x), i) =>
          if (i > 0) sb += ','
          str(k); sb += ':'; go(x)
        }
        sb += '}'
      case m: scala.collection.Map[_, _] => go(Obj(m.toSeq.map { case (k, x) => k.toString -> x }))
      case xs: Iterable[_] =>
        sb += '['
        xs.zipWithIndex.foreach { case (x, i) => if (i > 0) sb += ','; go(x) }
        sb += ']'
      case other => str(other.toString)
    }
    go(v)
    sb.toString
  }
}
