package perfbench

import scala.collection.mutable

/** Op accounting shared by every workload.
  *
  * An op that throws or whose output fails its check counts as failed:
  * it adds to `failed` and its time is dropped from every latency and
  * throughput figure, so a broken op can never read as a fast one. */
final class Ops {
  private val times = mutable.ArrayBuffer.empty[Double] // seconds
  private var nAttempted = 0L
  private var nFailed = 0L
  private val errors = mutable.ArrayBuffer.empty[String]

  def attempted: Long = synchronized(nAttempted)
  def failed: Long = synchronized(nFailed)
  def samples: Seq[Double] = synchronized(times.toSeq)
  def errorLog: Seq[String] = synchronized(errors.toSeq)

  /** Run `body`, time it, then judge its result with `check` (untimed).
    * Returns the result and the body's time in seconds only when the op
    * succeeded. */
  def run[T](name: String)(body: => T)(check: T => Option[String])
      : Option[(T, Double)] = {
    val t0 = System.nanoTime()
    val res = try Right(body) catch { case e: Throwable => Left(e) }
    val secs = (System.nanoTime() - t0) / 1e9
    val verdict = res match {
      case Left(e) => Some(s"threw ${e.getClass.getSimpleName}: ${e.getMessage}")
      case Right(v) =>
        try check(v) catch { case e: Throwable => Some(s"check threw $e") }
    }
    synchronized {
      nAttempted += 1
      verdict match {
        case None => times += secs
        case Some(why) => nFailed += 1; errors += s"$name: $why"
      }
    }
    if (verdict.isEmpty) res.toOption.map(_ -> secs) else None
  }

  /** Record a gate that is not an op of its own (e.g. the end-of-run
    * table check): it counts as one attempted op, failed on mismatch. */
  def gate(name: String)(check: => Option[String]): Unit = {
    val verdict = try check catch { case e: Throwable => Some(s"threw $e") }
    synchronized {
      nAttempted += 1
      verdict.foreach { why => nFailed += 1; errors += s"$name: $why" }
    }
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted; val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length

  /** Tail latency: the nearest-rank 90th percentile. Returns (value,
    * samples beyond it, sample count). A run of the length the benchmark
    * can afford has tens of samples, where the highest percentile with
    * ten samples beyond it would sit at or below the median; p90 keeps
    * the tail above the median and moves smoothly with the sample count,
    * and the count beyond it is reported with it. */
  def tail(xs: Seq[Double]): (Double, Int, Int) = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted; val n = s.length
    val i = math.ceil(0.9 * n).toInt - 1
    (s(i), n - 1 - i, n)
  }
}

/** Minimal JSON writer for the result line and trace files. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < 0x20 => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else java.lang.Double.toString(d)

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(value).mkString("[", ",", "]")
    case o: Option[_] => o.map(value).getOrElse("null")
    case other => str(other.toString)
  }

  /** An object with keys in the given order. */
  def obj(kv: (String, Any)*): String =
    kv.map { case (k, x) => str(k) + ":" + value(x) }.mkString("{", ",", "}")
}
