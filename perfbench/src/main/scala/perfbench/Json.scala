package perfbench

/** A JSON object whose fields keep their insertion order. */
final case class Obj(fields: Seq[(String, Any)]) {
  def ++(more: Seq[(String, Any)]): Obj = Obj(fields ++ more)
}

object Obj {
  def apply(first: (String, Any), rest: (String, Any)*): Obj = Obj(first +: rest)
}

/** Minimal JSON writer for results and traces (no library on the classpath
  * is shared by every Spark build, so this stays self-contained). Doubles are
  * written with all their digits. */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case '\t' => sb ++= "\\t"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    (sb += '"').toString
  }

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case o: Obj => o.fields.map { case (k, x) => str(k) + ":" + apply(x) }.mkString("{", ",", "}")
    case m: collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case a: Array[_] => apply(a.toSeq)
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
