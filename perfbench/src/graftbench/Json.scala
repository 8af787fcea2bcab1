package graftbench

import java.nio.file.{Files, Path}

/** The little JSON the benchmark reads and writes. */
object Json {

  def write(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => s"${quote(k.toString)}:${write(x)}" }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(write).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }.mkString("\"", "", "\"")

  /** Recorded output digests: `{"<workload>/<seed>": {"<output>": "<digest>"}}`,
    * string values only. */
  def readReferences(path: Path): Map[String, Map[String, String]] = {
    val obj = """"([^"]+)"\s*:\s*\{([^{}]*)\}""".r
    val kv = """"([^"]+)"\s*:\s*"([^"]*)"""".r
    obj.findAllMatchIn(Files.readString(path)).map { m =>
      m.group(1) -> kv.findAllMatchIn(m.group(2)).map(x => x.group(1) -> x.group(2)).toMap
    }.toMap
  }
}
