package graftbench

import org.apache.spark.sql.Row

/** Minimal JSON rendering for the result files the harness hands back
  * to run.py (no JSON library is on the program's classpath that the
  * harness should depend on). */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < 0x20 => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinity) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case b: Boolean => b.toString
    case n: java.lang.Number => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => s"${str(k.toString)}: ${apply(x)}" }.mkString("{", ", ", "}")
    case r: Row => apply(r.toSeq)
    case a: Array[_] => apply(a.toSeq)
    case s: Iterable[_] => s.map(apply).mkString("[", ", ", "]")
    case other => str(other.toString)
  }
}
