package graft.sources

import scala.collection.mutable

import graft.cdc.Checkpoint

/** Incremental WAL tail — the driver-side progress tracker and segment
  * planner of the streaming source.
  *
  * The reference advances `currentLsn` incrementally as frames arrive
  * (pkg/source/postgres.go:165-248). Segments are write-once (atomic
  * move in [[WalFiles.writeSegment]]), so each `advance()` scans only
  * segments that appeared since the last call — per-trigger cost is
  * O(new bytes) plus one directory listing, O(retained segments). The
  * scan is [[WalFiles.scan]]'s tag-level one: no tuple is decoded on the
  * driver.
  *
  * State kept on the driver is bounded by what has not been dispatched:
  *  - the scan state after the newest segment (position and the latest
  *    Relation frame per relation);
  *  - a [[WalFiles.SegPlan]] per segment from the one the next batch
  *    starts in; `commit(end)` prunes the plans below it;
  *  - a per-transaction index `(commitLsn, changeCount)` used by
  *    admission control to place batch boundaries on commit boundaries
  *    without re-reading the feed. Entries at or below the latest batch
  *    start are pruned (the reference's bounded in-flight channel role).
  */
final class WalTail(dir: String, plugin: String = "pgoutput",
    trackTx: Boolean = true) {

  private var state = WalFiles.initialState(dir, plugin)
  private var lastCp = Checkpoint.Zero
  // (commitLsn, number of changes in the tx), in feed order. Maintained
  // ONLY under admission control (`trackTx`): bounded() prunes it per
  // batch; without a cap nothing ever would, and one entry per
  // transaction for the stream's lifetime is an unbounded driver leak.
  private val txIndex = mutable.ArrayDeque.empty[(Long, Int)]
  // (firstLsn, plan) of every scanned segment not yet pruned, ascending
  private val plans = mutable.ArrayDeque.empty[(Long, WalFiles.SegPlan)]
  // highest segment firstLsn scanned (unsigned); None until the first
  private var consumedMax: Option[Long] = None
  // segments below this firstLsn were pruned by commit(): their rows lie
  // behind a committed offset, so one appearing there now is ignored
  private var floor = 0L

  /** Frames scanned since construction — instrumentation proving the
    * O(new data) contract (WalTailSpec). */
  @volatile var framesScanned: Long = 0L
  /** Full-state resets forced by out-of-order segment appearance. */
  @volatile var resets: Int = 0

  private def below(a: Long, b: Long) = java.lang.Long.compareUnsigned(a, b) < 0

  /** Scan any newly-appeared segments into the tail state. */
  def advance(): Unit = synchronized {
    val segs = WalFiles.segments(dir)
    // Segments must appear in increasing firstLsn order (write-once,
    // atomic move). If one lands inside the planned range but is not
    // planned (slow concurrent producer), scanning it now would feed
    // frames out of order — regressing lastCp and corrupting txIndex.
    // Reset and re-scan the whole feed in sorted order instead (paid
    // only on this anomaly).
    val planned = segs.iterator.map(_._1).filter(first =>
      !below(first, floor) && consumedMax.exists(mx => !below(mx, first)))
    if (!planned.sameElements(plans.iterator.map(_._1))) {
      state = WalFiles.initialState(dir, plugin)
      plans.clear(); txIndex.clear()
      lastCp = Checkpoint.Zero; consumedMax = None; floor = 0L
      resets += 1
    }
    segs.foreach { case (first, path) =>
      if (consumedMax.forall(below(_, first))) {
        plans.append((first, state.planAt(path)))
        val frames = WalFiles.readFrames(path).map { f => framesScanned += 1; f }
        state = WalFiles.scan(state, frames, plugin) { (lsn, seq) =>
          lastCp = Checkpoint(lsn, seq)
          if (trackTx) {
            if (txIndex.nonEmpty && txIndex.last._1 == lsn)
              txIndex(txIndex.length - 1) = (lsn, seq)
            else txIndex.append((lsn, seq))
          }
        }
        consumedMax = Some(first)
      }
    }
  }

  /** Checkpoint of the last change in the feed (latestOffset). */
  def last(): Checkpoint = { advance(); lastCp }

  /** Checkpoint after at most `maxChanges` changes beyond `from`, never
    * splitting a transaction (batch boundaries are commit boundaries —
    * the applier's tx atomicity relies on it). Served from the tx index,
    * no feed re-read. `from` values are Spark's batch-start offsets and
    * therefore monotone; older index entries are pruned.
    */
  def bounded(from: Checkpoint, maxChanges: Int): Checkpoint = synchronized {
    advance()
    if (!trackTx) return lastCp // no index → no admission control
    // prune transactions fully delivered before this batch start
    while (txIndex.nonEmpty &&
        !Checkpoint(txIndex.head._1, txIndex.head._2).after(from))
      txIndex.removeHead()
    var taken = 0
    var cp = from
    val it = txIndex.iterator
    while (it.hasNext && taken < maxChanges) {
      val (txLsn, count) = it.next()
      val avail = if (txLsn == from.lsn) count - from.seq else count
      if (avail > 0) { cp = Checkpoint(txLsn, count); taken += avail }
    }
    cp
  }

  private def startIndex(from: Checkpoint): Int =
    WalFiles.startIndex(plans.map(_._2), from)

  /** Replay plan of the range (from, to]: the plan of the segment that
    * holds the first row after `from`, and the paths of the segments
    * after it up to the last that can hold a row at or before `to`.
    * Lists the feed only when `to` lies past what the tail has seen (a
    * restarted stream re-planning a logged batch). */
  def span(from: Checkpoint, to: Checkpoint): (WalFiles.SegPlan, Seq[String]) =
    synchronized {
      if (to.after(lastCp)) advance()
      val i = startIndex(from)
      (plans(i)._2, plans.iterator.drop(i + 1).map(_._2)
        .takeWhile(p => to.after(p.start)).map(_.path).toSeq)
    }

  /** Batches up to `end` are committed: drop the plans of the segments
    * below the one the next batch starts in. */
  def commit(end: Checkpoint): Unit = synchronized {
    plans.remove(0, startIndex(end))
    plans.headOption.foreach { case (first, _) => floor = first }
  }
}
