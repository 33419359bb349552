package perfbench

import scala.collection.mutable

object Stats {
  /** Linear-interpolated quantile, `q` in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** How many units of `nominal` seconds make a window of about
    * `seconds`. A count fixed by the window, not by the clock, keeps every
    * run at the same point of the JVM's warm-up, so runs compare. */
  def units(seconds: Int, nominal: Int): Int = math.max(1, math.round(seconds.toFloat / nominal))

  /** Minimal JSON: maps, sequences, strings, numbers, booleans. */
  def json(v: Any): String = v match {
    case null => "null"
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ": " + json(x) }.mkString("{", ", ", "}")
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case xs: Iterable[_] => xs.map(json).mkString("[", ", ", "]")
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case x => x.toString
  }
}

/** Set-up time of one run: the parts that run once, and for the part
  * that is repeated, the median of its repetitions. */
final class Setup {
  val parts: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty

  private def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }
  def once[A](name: String)(f: => A): A = {
    val (a, s) = timed(f)
    parts(name) = parts.getOrElse(name, 0.0) + s
    a
  }
  /** Run `f` `n` times; keeps the median time and the last result. */
  def repeated[A](n: Int)(f: => A): A = {
    val runs = (1 to n).map(_ => timed(f))
    parts("fixture") = Stats.median(runs.map(_._2))
    runs.last._1
  }
  def seconds: Double = parts.values.sum
}

/** The heap the program holds: heap in use just after a full collection,
  * the most over the checkpoints a workload takes between its units of
  * work. A full collection leaves only what is reachable, so the figure
  * does not depend on when the collector happened to run. */
object LiveHeap {
  private val max = new java.util.concurrent.atomic.AtomicLong
  def checkpoint(): Unit = {
    System.gc()
    val used = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    max.accumulateAndGet(used, math.max(_, _))
  }
  def peak: Long = max.get
}
