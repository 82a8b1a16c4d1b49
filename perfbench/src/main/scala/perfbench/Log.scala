package perfbench

import java.io.{FileOutputStream, OutputStreamWriter, PrintWriter}
import java.nio.charset.StandardCharsets

/** Append-only JSON-lines event log, flushed per line so the launcher can
  * still read every finished call when the JVM is killed mid-run. */
final class Log(path: String) {
  private val out = new PrintWriter(new OutputStreamWriter(
    new FileOutputStream(path, true), StandardCharsets.UTF_8))

  def emit(fields: (String, Any)*): Unit = synchronized {
    out.println(Log.obj(fields))
    out.flush()
  }

  def fact(name: String, value: Double): Unit = emit("ev" -> "fact", "name" -> name, "value" -> value)

  def check(name: String, ok: Boolean, detail: String = ""): Unit =
    emit("ev" -> "check", "name" -> name, "ok" -> ok, "detail" -> detail)

  def close(): Unit = out.close()
}

object Log {
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
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")
}
