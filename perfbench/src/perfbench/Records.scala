package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

/** In-memory record log, one JSON object per entry, written out once the
  * run ends. Values are numbers, booleans or strings. */
final class Records {
  private val lines = new ConcurrentLinkedQueue[String]()

  def add(kind: String, fields: (String, Any)*): Unit =
    lines.add((("kind" -> kind) +: fields).map { case (k, v) =>
      Records.str(k) + ":" + Records.value(v)
    }.mkString("{", ",", "}"))

  def writeTo(path: String): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      lines.asScala.toSeq.asJava)
}

object Records {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case s: String => str(s)
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
