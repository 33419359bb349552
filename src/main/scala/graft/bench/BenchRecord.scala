package graft.bench

import com.fasterxml.jackson.databind.{DeserializationFeature, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode

import scala.util.Try

/** Bench's record: its writer, its reader, and the guard on the
  * committed record (`bench/last_run.json`), which may only get CLEANER.
  * Round 13's driver run committed a 4.52%-steal run over a 1.07%-steal
  * record because the write was unconditional — the min-steal
  * discipline lived in the operator's head, not in code (VERDICT r13
  * ask #1a). The rule: a candidate run may replace the record only
  * when its steal_pct is at or below the CLEAN BAR — max(1.0,
  * recorded steal_pct). The 1.0 floor is the contention gate's own
  * "clean" threshold; without it the record would ratchet
  * monotonically toward 0% and a perfectly clean 0.9% run could never
  * replace a 0.4% one, freezing the record forever.
  * A candidate with NO steal measurement (/proc/stat unreadable) may
  * not replace a measured record either (ADVICE r14: an unmeasured
  * run is not known-clean — the inverse of the guard's intent).
  * Rejected runs are parked under `bench/runs/` so no measurement is
  * lost — they just never become the record.
  */
object BenchRecord {

  /** Writes and reads the record. Content after the top-level value is
    * a parse failure, so a record with a torn tail reads as unmeasured. */
  val mapper: ObjectMapper =
    new ObjectMapper().enable(DeserializationFeature.FAIL_ON_TRAILING_TOKENS)

  /** The host block: the measured window's counters, its start and end
    * loadavg (when readable), the session's cores, each probe the
    * contention gate skipped (steal %, loadavg), and whether the
    * measured window began clean. */
  final case class Host(window: Measure.Ticks, loadavg: Option[(Double, Double)],
      cpus: Int, skipped: Seq[(Double, Double)], cleanAtStart: Boolean)

  /** Bench's stdout contract line. Its keys, their order and the number
    * rendering (`Double.toString`) are what record readers parse, so
    * they stay fixed; `value` is the sum of the queries that ran (−1.0
    * marks a failed query). */
  def contract(queries: Seq[(String, Double)], sf: String,
      unstable: Seq[String], host: Option[Host]): ObjectNode = {
    val o = mapper.createObjectNode()
      .put("metric", "total")
      .put("value", queries.map(_._2).filter(_ >= 0).sum)
      .put("unit", "sec")
    val qs = o.putObject("queries")
    queries.foreach { case (n, v) => qs.put(n, v) }
    o.put("sf", sf)
    if (unstable.nonEmpty) {
      val a = o.putArray("unstable")
      unstable.foreach(n => a.add(n))
    }
    host.foreach { h =>
      val hb = o.putObject("host")
        .put("busy_ticks", h.window.busy)
        .put("steal_ticks", h.window.steal)
        .put("steal_pct", h.window.stealPct)
      h.loadavg.foreach { case (l0, l1) =>
        hb.put("loadavg_start", l0).put("loadavg_end", l1).put("cpus", h.cpus)
      }
      val skipped = hb.putObject("gate")
        .put("fired", h.skipped.nonEmpty)
        .put("clean_at_start", h.cleanAtStart)
        .putArray("skipped_attempts")
      h.skipped.foreach { case (steal, load) =>
        skipped.addObject().put("steal_pct", steal).put("loadavg", load)
      }
    }
    o
  }

  /** The number at `path` in a record, None when the record does not
    * parse or holds no number there. */
  private def number(record: String, path: String*): Option[Double] =
    Try(mapper.readTree(record)).toOption
      .map(t => path.foldLeft(t)(_.path(_)))
      .filter(_.isNumber)
      .map(_.asDouble)

  /** The run-level `host.steal_pct` of a last_run.json blob. The gate
    * block's skipped attempts carry their own steal_pct entries, which
    * never count. None when the record has no host block, the block
    * carries no steal_pct (non-Linux record) or the record does not
    * parse — treated as unmeasured by [[accepts]]. */
  def stealPctOf(record: String): Option[Double] = number(record, "host", "steal_pct")

  /** The run's total seconds (the top-level `value`) — park-message
    * context so a driver reading the rejection line also sees the
    * canonical number (r14 ask #5). */
  def totalOf(record: String): Option[Double] = number(record, "value")

  /** True iff a candidate run whose measured steal is
    * `candidateStealPct` (None = no host measurement) may overwrite
    * the record whose JSON is `existing` (None = no record yet:
    * always accept). */
  def accepts(existing: Option[String],
      candidateStealPct: Option[Double]): Boolean =
    existing match {
      case None => true // no record at all: anything beats nothing
      case Some(rec) => stealPctOf(rec) match {
        case Some(recorded) => candidateStealPct match {
          case Some(cand) => cand <= math.max(1.0, recorded)
          case None       => false // unmeasured never beats measured
        }
        // Record exists but carries no run-level steal (non-Linux
        // write): a MEASURED-dirty candidate still parks — the ratchet
        // stays monotone (ADVICE r16 #3). An unmeasured candidate on
        // the same unmeasured host is accepted, so non-Linux records
        // keep updating.
        case None => candidateStealPct.forall(_ <= 1.0)
      }
    }

  /** Back-compat overload: a measured candidate. */
  def accepts(existing: Option[String], candidateStealPct: Double): Boolean =
    accepts(existing, Some(candidateStealPct))

  /** The guard's park message, carrying the kept record's canonical
    * total + steal alongside the rejection (r14 ask #5) — built here
    * so BenchRecordSpec pins the format. */
  def parkMessage(existing: Option[String],
      candidateStealPct: Option[Double]): String = {
    val cand = candidateStealPct
      .map(p => f"candidate steal $p%.2f%%")
      .getOrElse("candidate has no steal measurement")
    val rec = existing.map { j =>
      val pct = stealPctOf(j).map(p => f"$p%.2f%%").getOrElse("?")
      val tot = totalOf(j).map(t => f"$t%.1f s").getOrElse("?")
      f" — record kept: $tot @ $pct steal"
    }.getOrElse("")
    s"[bench] record guard: $cand exceeds the clean bar$rec" +
      " — parking under bench/runs/"
  }
}
