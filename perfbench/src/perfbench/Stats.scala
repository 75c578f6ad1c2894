package perfbench

/** Order statistics over latency samples. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile `p` (0 < p <= 100). */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p > 0 && p <= 100, s"percentile $p out of (0, 100]")
    val s = xs.sorted
    s(math.max(0, math.ceil(p / 100 * s.length).toInt - 1))
  }

  /** The highest whole percentile that still has at least `beyond`
    * samples above its rank — the tail a run of `n` samples can
    * actually resolve. None when not even the median qualifies. */
  def tailLevel(n: Int, beyond: Int = 10): Option[Int] =
    (99 to 50 by -1).find { p =>
      n - math.max(1, math.ceil(p / 100.0 * n).toInt) >= beyond
    }
}

/** Attempted and failed operation counts. A wrong answer counts as a
  * failure exactly like an exception does. */
final class Tally {
  private var attempted0 = 0L
  private var failed0 = 0L
  private val reasons = scala.collection.mutable.ArrayBuffer.empty[String]

  def attempted: Long = synchronized(attempted0)
  def failed: Long = synchronized(failed0)
  def failures: Seq[String] = synchronized(reasons.toList)

  /** One operation whose outcome is `ok`; `what` names it on failure. */
  def record(ok: Boolean, what: => String): Unit = synchronized {
    attempted0 += 1
    if (!ok) {
      failed0 += 1
      if (reasons.length < 20) reasons += what
    }
  }

  /** Run `op`; an exception is a failed operation, never a crash. */
  def attempt[T](what: String)(op: => T): Option[T] =
    try Some(op)
    catch {
      case scala.util.control.NonFatal(e) =>
        record(ok = false, s"$what: ${e.getClass.getSimpleName}: " +
          String.valueOf(e.getMessage).take(300))
        None
    }
}

/** Minimal JSON writer for the result lines: maps keep insertion
  * order, doubles keep every digit the JVM prints. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, s"non-finite value $d")
      d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
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
    b.result()
  }
}
