package perfbench

import java.nio.file.{Files, Path}

/** The few JSON shapes the harness prints; values keep all their digits. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def num(d: Double): String = {
    require(!d.isNaN && !d.isInfinite, s"not a finite number: $d")
    d.toString
  }

  def writeSpans(path: Path, spans: Seq[Span]): Unit =
    Files.writeString(path, spans.sortBy(_.start).map { s =>
      s"""{"id": ${s.id}, "parent": ${s.parent}, "qid": ${s.qid}, "name": ${str(s.name)}, """ +
        s""""start_ms": ${num(s.start)}, "end_ms": ${num(s.end)}}"""
    }.mkString("", "\n", "\n"))
}
