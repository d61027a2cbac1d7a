package perfbench

import java.io.{BufferedWriter, FileWriter}

/** Raw measurement records, one JSON object per line. The JVM side only
  * records; `analysis.py` turns the records into metrics, so every derived
  * number is computed (and unit-tested) in one place. Lines are buffered in
  * memory and written when the run ends, keeping file IO out of the timed
  * phase. */
final class Records(path: String) {
  private val lines = new java.util.ArrayList[String]()

  def add(kind: String, fields: (String, Any)*): Unit = {
    val body = (("kind" -> kind) +: fields).map { case (k, v) => Records.q(k) + ":" + Records.value(v) }
    lines.synchronized { lines.add(body.mkString("{", ",", "}")) }
  }

  /** A record whose payload is already JSON (Spark's progress objects). */
  def addRaw(kind: String, json: String): Unit =
    lines.synchronized { lines.add(s"""{"kind":"$kind","json":$json}""") }

  def write(): Unit = {
    val w = new BufferedWriter(new FileWriter(path))
    try lines.synchronized { lines.forEach { l => w.write(l); w.newLine() } }
    finally w.close()
  }
}

object Records {
  def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => q(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case o => q(o.toString)
  }
}
