package graft.perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

/** Minimal JSON writer for the harness's own records (the harness
  * depends on nothing beyond the engine's classpath). */
object Json {

  /** Insertion-ordered object. */
  final class Obj {
    private val fields = mutable.LinkedHashMap.empty[String, Any]
    def update(k: String, v: Any): Unit = fields(k) = v
    def render: String = fields.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")
  }

  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def value(v: Any): String = v match {
    case null => "null"
    case o: Obj => o.render
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] => m.map { case (k, x) => s"${str(k.toString)}:${value(x)}" }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
  }

  def writeSpans(path: Path, spans: Seq[Span]): Unit = {
    val lines = spans.filter(_ != null).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":${str(s.name)},"stmt":${str(s.stmt)},""" +
        s""""pass":${s.pass},"start_ms":${s.start},"end_ms":${s.end}}"""
    }
    Files.writeString(path, lines.mkString("", "\n", "\n"))
  }
}
