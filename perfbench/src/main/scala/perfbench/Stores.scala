package perfbench

import scala.collection.mutable

import graft.cdc.Checkpoint
import graft.streaming.CdcApplier.TxStore

/** Passes every call to `inner`. Subclasses override the calls they
  * observe. */
class ForwardingStore(inner: TxStore) extends TxStore {
  def begin(): Unit = inner.begin()
  def commit(): Unit = inner.commit()
  def rollback(): Unit = inner.rollback()
  def insert(schema: String, table: String, row: Map[String, Any],
      keyCols: Seq[String]): Unit = inner.insert(schema, table, row, keyCols)
  override def insertMany(schema: String, table: String,
      rows: Seq[Map[String, Any]], keyCols: Seq[String]): Unit =
    inner.insertMany(schema, table, rows, keyCols)
  def update(schema: String, table: String, keys: Map[String, Any],
      set: Map[String, Any]): Unit = inner.update(schema, table, keys, set)
  def delete(schema: String, table: String, keys: Map[String, Any]): Unit =
    inner.delete(schema, table, keys)
  def truncate(schema: String, table: String): Unit = inner.truncate(schema, table)
  def executeDdl(sql: String): Unit = inner.executeDdl(sql)
  def readWatermark(sourceId: String): Option[Checkpoint] = inner.readWatermark(sourceId)
  def writeWatermark(sourceId: String, cp: Checkpoint): Unit =
    inner.writeWatermark(sourceId, cp)
}

/** Notes, at each commit, the watermark the committed transaction
  * carries and the time (`System.nanoTime`). Nothing else: this is the
  * only observer in untraced runs, where lag is measured. */
final class CommitLog(inner: TxStore) extends ForwardingStore(inner) {
  private var staged: Checkpoint = Checkpoint.Zero
  /** Latest committed watermark, readable from other threads. */
  @volatile var committed: Checkpoint = Checkpoint.Zero
  @volatile var lastCommitNs: Long = 0L
  val log: mutable.ArrayBuffer[(Checkpoint, Long)] = mutable.ArrayBuffer.empty

  override def writeWatermark(sourceId: String, cp: Checkpoint): Unit = {
    super.writeWatermark(sourceId, cp)
    staged = cp
  }
  override def commit(): Unit = {
    super.commit()
    val now = System.nanoTime()
    log.synchronized(log += ((staged, now)))
    lastCommitNs = now
    committed = staged
  }

  /** For each transaction, the time of the first commit whose watermark
    * covers its last change; transactions must be in commit order. */
  def appliedAt(txs: Seq[Tx]): Seq[Long] = log.synchronized {
    var i = 0
    txs.map { tx =>
      while (i < log.size && log(i)._1 < tx.last) i += 1
      require(i < log.size, s"transaction at ${tx.last} was never committed")
      log(i)._2
    }
  }
}

/** Store call counts and times, summed over every store timed into it. */
final class StoreTimes {
  final class Calls { var n = 0L; var ns = 0L; var rows = 0L }
  val calls: Map[String, Calls] =
    Seq("insert", "update", "delete", "truncate", "commit").map(_ -> new Calls).toMap
  /** Summed (first store call -> last commit) over the timed batches. */
  var applyNs = 0L
  var batches = 0L

  def metrics: Seq[(String, Double, String)] = {
    val ins = calls("insert"); val upd = calls("update"); val del = calls("delete")
    val trunc = calls("truncate"); val com = calls("commit")
    val writes = ins.rows + upd.n + del.n + trunc.n
    def ms(c: Calls) = c.ns / 1e6
    def per(a: Long, b: Long) = if (b > 0) a.toDouble / b else 0.0
    Seq(
      ("sql.insert_ms", ms(ins), "ms"), ("sql.insert_calls", ins.n.toDouble, "count"),
      ("sql.rows_per_insert", per(ins.rows, ins.n), "rows"),
      ("sql.update_ms", ms(upd), "ms"), ("sql.update_calls", upd.n.toDouble, "count"),
      ("sql.delete_ms", ms(del), "ms"), ("sql.delete_calls", del.n.toDouble, "count"),
      ("sql.truncate_calls", trunc.n.toDouble, "count"),
      ("sql.commit_ms", ms(com), "ms"), ("sql.commits", com.n.toDouble, "count"),
      ("sql.changes_per_commit", per(writes, com.n), "changes"))
  }
}

/** Times every store call into `times` while `on`. `readWatermark` is
  * the applier's first store call of a micro-batch, so each one opens a
  * batch whose apply time runs to that batch's last commit. */
final class TimingStore(inner: TxStore, times: StoreTimes) extends ForwardingStore(inner) {
  @volatile var on = false
  private var batchStart = 0L
  private var batchEnd = 0L

  private def timed[A](name: String, rows: Int)(f: => A): A =
    if (!on) f
    else {
      val t0 = System.nanoTime()
      try f
      finally {
        val c = times.calls(name)
        c.n += 1; c.rows += rows; c.ns += System.nanoTime() - t0
      }
    }

  private def closeBatch(): Unit = if (batchStart != 0L) {
    if (batchEnd > batchStart) times.applyNs += batchEnd - batchStart
    times.batches += 1
    batchStart = 0L
  }

  override def readWatermark(sourceId: String): Option[Checkpoint] = {
    closeBatch()
    if (on) { batchStart = System.nanoTime(); batchEnd = batchStart }
    super.readWatermark(sourceId)
  }
  override def insertMany(schema: String, table: String,
      rows: Seq[Map[String, Any]], keyCols: Seq[String]): Unit =
    timed("insert", rows.size)(super.insertMany(schema, table, rows, keyCols))
  override def insert(schema: String, table: String, row: Map[String, Any],
      keyCols: Seq[String]): Unit =
    timed("insert", 1)(super.insert(schema, table, row, keyCols))
  override def update(schema: String, table: String, keys: Map[String, Any],
      set: Map[String, Any]): Unit =
    timed("update", 1)(super.update(schema, table, keys, set))
  override def delete(schema: String, table: String, keys: Map[String, Any]): Unit =
    timed("delete", 1)(super.delete(schema, table, keys))
  override def truncate(schema: String, table: String): Unit =
    timed("truncate", 1)(super.truncate(schema, table))
  override def commit(): Unit = {
    timed("commit", 0)(super.commit())
    if (batchStart != 0L) batchEnd = System.nanoTime()
  }

  /** Close the open batch; call after the stream has stopped. */
  def finish(): Unit = closeBatch()
}
