package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** JSON-lines records, buffered in memory and written once at the end. */
final class Out {
  private val buf = new StringBuilder

  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def value(v: Any): String = v match {
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case other => str(String.valueOf(other))
  }

  def rec(kind: String, fields: (String, Any)*): Unit = synchronized {
    buf ++= (("t" -> kind) +: fields)
      .map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}\n")
  }

  def write(path: String): Unit = synchronized {
    Files.write(Paths.get(path), buf.toString.getBytes(StandardCharsets.UTF_8))
  }
}

/** Epoch milliseconds at nanosecond resolution, so harness spans line up
  * with the epoch-millisecond times of Spark's job events. */
object Clock {
  private val ns0 = System.nanoTime()
  private val ms0 = System.currentTimeMillis().toDouble
  def ms(ns: Long): Double = ms0 + (ns - ns0) / 1e6
}

