package perfbench

import scala.collection.mutable

/** What one run prints. The last stdout line is the result object:
  * `{"correct", "attempted", "failed", "metrics"}` with the end-to-end
  * metrics (untraced run) or every per-layer metric (traced run). The
  * lines before it carry the workload-specific figures, the ledger
  * reconciliation and the tracing overhead. */
final class Report {
  val metrics = mutable.LinkedHashMap[String, (Double, String)]()
  var attempted = 0L
  var failed = 0L
  private val failures = mutable.ArrayBuffer[String]()

  def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)

  /** Counts one checked operation; a wrong or failed one is logged. */
  def check(what: String, ok: Boolean, detail: => String = ""): Boolean = synchronized {
    attempted += 1
    if (!ok) {
      failed += 1
      failures += what
      System.err.println(s"[perfbench] FAILED $what ${detail.take(2000)}")
    }
    ok
  }

  /** Runs `body` as one checked operation; a throw counts as a failure. */
  def guard[A](what: String)(body: => A): Option[A] =
    try Some(body) catch {
      case scala.util.control.NonFatal(e) =>
        check(what, ok = false, s"${e.getClass.getName}: ${e.getMessage}")
        None
    }

  def errorRate: Double = if (attempted == 0) 0.0 else failed.toDouble / attempted

  def resultLine: String = {
    val ms = metrics.map { case (k, (v, u)) =>
      s"${Json.str(k)}: {\"value\": ${Json.num(v)}, \"unit\": ${Json.str(u)}}"
    }.mkString("{", ", ", "}")
    s"""{"correct": ${failed == 0}, "attempted": ${math.max(attempted, 1)}, "failed": $failed, "metrics": $ms}"""
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString

  def obj(kv: Iterable[(String, Any)]): String = kv.map { case (k, v) =>
    s"${str(k)}: ${value(v)}"
  }.mkString("{", ", ", "}")

  private def value(v: Any): String = v match {
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case i: Int => i.toString
    case l: Long => l.toString
    case b: Boolean => b.toString
    case s: String => str(s)
    case m: collection.Map[_, _] => obj(m.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_] => xs.map(value).mkString("[", ", ", "]")
    case o => str(o.toString)
  }

  /** One labelled info line on stdout: `{"<label>": {...}}`. */
  def line(label: String, kv: Iterable[(String, Any)]): Unit =
    println(s"{${str(label)}: ${obj(kv)}}")
}
