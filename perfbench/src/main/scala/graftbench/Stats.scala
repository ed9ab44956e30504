package graftbench

import scala.collection.mutable

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** The highest nearest-rank percentile with at least ten samples beyond
    * it, but never below the upper median (small sets): (value, percentile).
    */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) (0.0, 0.0)
    else {
      val rank = math.max(n - 10, n / 2 + 1)
      (s(rank - 1), 100.0 * rank / n)
    }
  }

  def ms(t0: Long, t1: Long): Double = (t1 - t0) / 1e6
}

/** Minimal JSON writer for the result files (numbers, strings, booleans,
  * nested maps and sequences).
  */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case o: Option[_] => o.map(apply).getOrElse("null")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}

/** What one workload's measurement produced. Metrics map a name to
  * (value, unit). `attempted` counts timed operations and output checks;
  * `failed` those that threw or did not match.
  */
final class Outcome {
  val endToEnd = mutable.LinkedHashMap.empty[String, (Double, String)]
  val perLayer = mutable.LinkedHashMap.empty[String, (Double, String)]
  val notes = mutable.LinkedHashMap.empty[String, Any]
  val checks = mutable.LinkedHashMap.empty[String, Boolean]
  var attempted = 0L
  var failed = 0L

  /** Run one timed operation; a throw counts as failed, never as fast. */
  def op[T](name: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case e: Throwable =>
        failed += 1
        val msg = Option(e.getMessage).getOrElse("").linesIterator.take(3).mkString(" | ")
        notes.getOrElseUpdate("errors", mutable.ArrayBuffer.empty[String])
          .asInstanceOf[mutable.ArrayBuffer[String]] += s"$name: ${e.getClass.getSimpleName}: $msg"
        System.err.println(s"[perfbench] $name failed: $e")
        None
    }
  }

  /** Record one output check. */
  def check(name: String, ok: Boolean, detail: => Any = ""): Unit = {
    attempted += 1
    if (!ok) {
      failed += 1
      System.err.println(s"[perfbench] check $name FAILED: $detail")
      notes.getOrElseUpdate("failed_checks", mutable.ArrayBuffer.empty[String])
        .asInstanceOf[mutable.ArrayBuffer[String]] += s"$name: $detail"
    }
    checks(name) = checks.getOrElse(name, true) && ok
  }
}
