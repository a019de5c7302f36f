package crawlbench

import java.io.{BufferedWriter, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardOpenOption}

/** Minimal JSON encoder for the record and span files (no JSON library is
  * on the engine's classpath that the benchmark may rely on).
  */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  def encode(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => encode(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => encode(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case n: BigDecimal => n.toString
    case m: Map[_, _] =>
      m.iterator.map { case (k, x) => str(k.toString) + ":" + encode(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.iterator.map(encode).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}

/** Kill-safe record: one JSON object per line, flushed as each operation
  * finishes, so a run that is killed or times out still leaves every
  * completed operation on disk.
  */
final class Recorder(path: Path) {
  Files.createDirectories(path.getParent)
  private val out = new BufferedWriter(new OutputStreamWriter(
    Files.newOutputStream(path, StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING),
    StandardCharsets.UTF_8))

  def write(fields: (String, Any)*): Unit = synchronized {
    out.write(fields.map { case (k, v) => Json.str(k) + ":" + Json.encode(v) }.mkString("{", ",", "}"))
    out.write('\n')
    out.flush()
  }

  def close(): Unit = synchronized(out.close())
}
