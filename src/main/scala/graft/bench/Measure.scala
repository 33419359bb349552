package graft.bench

import org.apache.spark.sql.SparkSession

/** The measuring core under Bench and Lab: host counters from `/proc`
  * (None where it cannot be read; each caller decides what an
  * unmeasured window means), the steal share, and one timed pass. */
object Measure {

  /** Aggregate jiffies from `/proc/stat`'s first line — busy =
    * user+system across all CPUs, steal = time the hypervisor ran
    * somebody else's VM while ours was runnable. A steal delta makes
    * host contention visible inside a measurement itself: rounds 6-9
    * each saw 1.3-2.5x drift on identical code, and proving it was
    * co-tenant load (not a regression) took a same-HEAD A/B every time.
    */
  final case class Ticks(busy: Long, steal: Long) {
    /** Steal as a percentage of busy + steal, rounded to two decimals
      * (0.0 for an empty window). */
    def stealPct: Double =
      if (busy + steal > 0) math.round(10000.0 * steal / (busy + steal)) / 100.0
      else 0.0
  }

  private def readProc[A](path: String)(f: Iterator[String] => Option[A]): Option[A] =
    try {
      val src = scala.io.Source.fromFile(path)
      try f(src.getLines()) finally src.close()
    } catch { case _: Exception => None }

  def ticks(): Option[Ticks] =
    readProc("/proc/stat")(_.find(_.startsWith("cpu ")).map { l =>
      val f = l.trim.split("\\s+").drop(1).map(_.toLong)
      Ticks(f(0) + f(2), if (f.length > 7) f(7) else 0L)
    })

  /** The counters accumulated since `t0`; None if either end is unreadable. */
  def since(t0: Option[Ticks]): Option[Ticks] =
    for (a <- t0; b <- ticks()) yield Ticks(b.busy - a.busy, b.steal - a.steal)

  /** 1-minute load average from `/proc/loadavg` — the run-queue depth
    * steal misses. The r10 verdict's q138 case (8.9 s vs 21.3 s at
    * equally low steal) showed same-host contention from sibling
    * PROCESSES (not sibling VMs) inflating trigger-heavy queries while
    * steal stayed flat. */
  def loadAvg(): Option[Double] =
    readProc("/proc/loadavg")(_.nextOption().map(_.split("\\s+")(0).toDouble))

  /** HOST core count, the scale for a loadavg cap. /proc/loadavg counts
    * ALL host runnables, while `availableProcessors()` is the
    * JVM/cgroup-visible count, which in a container pinned to a few
    * vCPUs collapses the cap to a constant (ADVICE r13). cgroups limit
    * scheduling but do not mask /proc/cpuinfo, so counting its
    * `processor` stanzas recovers the host view. */
  def hostCores(): Option[Int] =
    readProc("/proc/cpuinfo")(ls =>
      Some(ls.count(_.startsWith("processor"))).filter(_ > 0))

  /** Run `query` once through the `noop` sink, which forces full
    * execution: a bare `.count()` lets EliminateSorts drop every
    * orderBy and column pruning delete the projections under test.
    * Returns the wall seconds and the steal share of the pass's own
    * window (None = unmeasurable). A failure propagates; the caller
    * owns the error policy. */
  def pass(spark: SparkSession, sfDir: String,
      query: String): (Double, Option[Double]) = {
    // settle the heap first: without this, one query's garbage lands
    // as a multi-second GC pause inside whichever query runs next —
    // per-query numbers wandered ±3s run to run
    System.gc()
    val w0 = ticks()
    val t0 = System.nanoTime()
    graft.SparkEntry.queries(query)(spark, sfDir)
      .write.mode("overwrite").format("noop").save()
    ((System.nanoTime() - t0) / 1e9, since(w0).map(_.stealPct))
  }
}
