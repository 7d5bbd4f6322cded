package graft.perfbench

import scala.collection.mutable

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
}

/** What one JVM run hands back to `run.py`: metrics by name and unit,
  * operation counts, and the reason for every failed check.
  */
final class Result {
  private val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val failures = mutable.ArrayBuffer.empty[String]
  var attempted: Long = 0L
  var failedOps: Long = 0L

  def put(name: String, value: Double, unit: String): Unit =
    metrics(name) = (value, unit)

  def has(name: String): Boolean = metrics.contains(name)

  /** One operation threw or answered wrong. */
  def fail(msg: String): Unit = synchronized {
    failedOps += 1
    failures += msg
    Main.log(s"check failed: $msg")
  }

  /** Count `n` operations, `bad` of which failed a check. */
  def check(n: Long, bad: Long, what: => String): Unit = {
    attempted += n
    if (bad > 0) synchronized {
      failedOps += bad
      failures += s"$bad/$n $what"
      Main.log(s"check failed: $bad/$n $what")
    }
  }

  def toJson: String = {
    val ms = metrics.map { case (k, (v, u)) =>
      s"${Json.str(k)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(u)}}"
    }.mkString("{", ",", "}")
    s"""{"attempted":$attempted,"failed":$failedOps,"failures":${failures.map(Json.str).mkString("[", ",", "]")},"metrics":$ms}"""
  }
}
