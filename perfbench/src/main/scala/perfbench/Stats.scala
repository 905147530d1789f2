package perfbench

import scala.collection.mutable

/** One timed call into the program's public entry points. */
final case class Op(kind: String, ms: Double, ok: Boolean)

/** The closed-loop client's log: every call it made, timed from outside,
  * and whether its output checked out.
  */
final class Recorder {
  val ops = mutable.ArrayBuffer.empty[Op]
  val errors = mutable.ArrayBuffer.empty[String]

  /** Times `body`; an exception or a failed `check` marks the op failed. */
  def timed[T](kind: String)(body: => T)(check: T => Boolean): Option[T] = {
    val t0 = System.nanoTime()
    val r = try Right(body) catch { case e: Throwable => Left(e) }
    val ms = (System.nanoTime() - t0) / 1e6
    r match {
      case Right(v) =>
        val ok = try check(v) catch { case e: Throwable => note(kind, e.toString); false }
        if (!ok) note(kind, "wrong result")
        ops += Op(kind, ms, ok)
        Some(v)
      case Left(e) =>
        note(kind, e.toString)
        ops += Op(kind, ms, ok = false)
        None
    }
  }

  /** A check made outside any timed call (end-of-run invariants). */
  def check(kind: String)(ok: => Boolean): Unit = {
    val r = try ok catch { case e: Throwable => note(kind, e.toString); false }
    if (!r) note(kind, "wrong result")
    ops += Op(kind, 0.0, r)
  }

  private def note(kind: String, msg: String): Unit =
    if (errors.size < 50) errors += s"$kind: $msg"

  def attempted: Int = ops.size
  def failed: Int = ops.count(!_.ok)
  /** The closed-loop requests: every timed call into the program (the
    * end-of-run checks aside), failed ones included.
    */
  def requests: Seq[Op] = ops.filterNot(_.kind.startsWith("check.")).toSeq
  def ms(kinds: String*): Seq[Double] = ops.filter(o => o.ok && kinds.contains(o.kind)).map(_.ms).toSeq
}

object Stats {
  /** Linear-interpolated percentile (p in 0..100) of a non-empty sample. */
  def pct(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.size == 1) s.head
    else {
      val r = p / 100.0 * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  }

  def median(xs: Seq[Double]): Double = pct(xs, 50)

  /** The highest percentile with at least ten samples beyond it, in whole
    * percent, and its value; below 20 samples there is none, so the
    * median stands in (the percentile field then reads 50).
    */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val n = xs.size
    val p = if (n < 20) 50.0 else math.floor(100.0 * (n - 10) / n)
    (p, pct(xs, p))
  }

  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.size)
}

/** A metric as reported: value, unit, and optional notes (tail percentile,
  * sample count).
  */
final case class M(value: Double, unit: String, extra: Seq[(String, Any)] = Nil)

/** Minimal JSON writer for the result file (maps, sequences, numbers,
  * strings, booleans).
  */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: M => apply(Seq("value" -> m.value, "unit" -> m.unit) ++ m.extra)
    case m: collection.Map[_, _] => m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case kv: Seq[_] if kv.nonEmpty && kv.forall(_.isInstanceOf[(_, _)]) =>
      kv.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case o => quote(o.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
