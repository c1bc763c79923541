package perfbench

import scala.collection.mutable

/** Minimal JSON writer for the measurement document. */
object J {
  final class Obj {
    private val fields = mutable.LinkedHashMap.empty[String, Any]
    def update(k: String, v: Any): Unit = fields(k) = v
    def apply(k: String): Any = fields(k)
    def render: String = J.render(this)
    private[J] def items = fields.toSeq
  }

  def obj(kv: (String, Any)*): Obj = {
    val o = new Obj
    kv.foreach { case (k, v) => o(k) = v }
    o
  }

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case o: Obj => o.items.map { case (k, x) => str(k) + ":" + render(x) }
      .mkString("{", ",", "}")
    case m: collection.Map[_, _] => m.toSeq.map { case (k, x) =>
      str(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
