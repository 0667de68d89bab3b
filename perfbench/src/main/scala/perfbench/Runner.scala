package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** One operation the closed loop issued. `phase` is "setup", "warmup",
  * "timed" or "trace" (the traced run's extra layer calls, which are not
  * part of any pass wall). */
final case class OpRec(name: String, pass: Int, traced: Boolean, phase: String,
                       startNs: Long, endNs: Long, cpuNs: Long, ok: Boolean, error: String,
                       info: Map[String, Any]) {
  def wallS: Double = (endNs - startNs) / 1e9
  def startMs: Double = Clock.ms(startNs)
  def endMs: Double = Clock.ms(endNs)
  def covers(ms: Double): Boolean = ms >= startMs - 1 && ms <= endMs + 1
}

/** Issues ops one at a time (a closed loop with one client) and checks
  * each result outside the timed interval. */
final class Runner {
  val ops = ArrayBuffer.empty[OpRec]
  var phase = "setup"
  var peakHeapMb = 0.0

  /** After a pass (entry-mix: after every entry): a full GC, so what
    * follows starts from a settled heap, and a reading of the heap left
    * behind. */
  def settle(): Unit = {
    val heap = Host.heapAfterFullGcMb()
    if (phase == "timed") peakHeapMb = math.max(peakHeapMb, heap)
  }

  /** `body` is timed; `check` returns an error message for a wrong
    * result and may add facts to `info`. */
  def op[T](name: String, pass: Int)(body: => T)(
      check: (T, scala.collection.mutable.Map[String, Any]) => Option[String]): Unit = {
    val traced = Trace.enabled
    val c0 = Host.processCpuNs()
    val s = System.nanoTime()
    val res: Either[Throwable, T] =
      try Right(Trace.span(name)(body)) catch { case NonFatal(e) => Left(e) }
    val e = System.nanoTime()
    val c1 = Host.processCpuNs()
    val info = scala.collection.mutable.LinkedHashMap.empty[String, Any]
    val err = res match {
      case Left(t) =>
        System.err.println(s"[perfbench] op $name failed: $t")
        t.printStackTrace()
        Some(s"${t.getClass.getSimpleName}: ${t.getMessage}")
      case Right(v) =>
        try check(v, info) catch { case NonFatal(t) => Some(s"check threw $t") }
    }
    err.foreach(m => System.err.println(s"[perfbench] op $name pass $pass: $m"))
    ops += OpRec(name, pass, traced, phase, s, e, c1 - c0, err.isEmpty, err.getOrElse(""),
      info.toMap)
  }

  def timed: Seq[OpRec] = ops.filter(_.phase == "timed").toSeq
  def passes(traced: Boolean): Map[Int, Seq[OpRec]] =
    timed.filter(_.traced == traced).groupBy(_.pass)
  def passWalls(traced: Boolean): Seq[Double] = passes(traced).values.map(_.map(_.wallS).sum).toSeq
  def tracedExtras: Seq[OpRec] = ops.filter(_.phase == "trace").toSeq
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
  def max(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else xs.max
}

/** Minimal JSON writer (numbers keep every digit `Double.toString` gives). */
object Json {
  def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case '\r' => sb ++= "\\r"
      case '\t' => sb ++= "\\t"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    (sb += '"').toString
  }

  def write(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => write(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => write(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + write(x) }.mkString("{", ",", "}")
    case a: Array[_] => write(a.toSeq)
    case t: Iterable[_] => t.map(write).mkString("[", ",", "]")
    case p: Product if p.productArity > 0 =>
      p.productElementNames.zip(p.productIterator).toSeq
        .map { case (k, x) => quote(k) + ":" + write(x) }.mkString("{", ",", "}")
    case x => quote(x.toString)
  }
}
