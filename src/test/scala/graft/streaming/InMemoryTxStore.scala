package graft.streaming

import scala.collection.mutable

import graft.cdc.Checkpoint

/** Reference in-process [[CdcApplier.TxStore]] with real transaction
  * semantics: writes are staged per transaction and only become visible
  * on commit; rollback discards them — giving the crash/replay tests
  * the same atomicity a JDBC target provides.
  */
final class InMemoryTxStore extends CdcApplier.TxStore {
  // committed state: (schema.table) -> key -> row
  private val tables = mutable.Map.empty[String, mutable.LinkedHashMap[Seq[Any], Map[String, Any]]]
  private val watermarks = mutable.Map.empty[String, Checkpoint]

  private sealed trait OpRec
  private case class Ins(t: String, row: Map[String, Any], keyCols: Seq[String]) extends OpRec
  private case class Upd(t: String, keys: Map[String, Any], set: Map[String, Any]) extends OpRec
  private case class Del(t: String, keys: Map[String, Any]) extends OpRec
  private case class Trunc(t: String) extends OpRec
  private case class Ddl(sql: String) extends OpRec
  private case class Wm(id: String, cp: Checkpoint) extends OpRec

  /** Committed DDL replay log, in order. */
  val ddlLog = mutable.Buffer.empty[String]
  /** Observed multi-row insert batch sizes (A17 instrumentation). */
  val insertBatchSizes = mutable.Buffer.empty[Int]
  /** Committed table-level clears (truncate instrumentation). */
  var truncations = 0

  private var staged: mutable.Buffer[OpRec] = _
  var commits = 0
  var rollbacks = 0
  /** Test hook: throw inside the Nth commit to simulate a crash. */
  var failOnCommit: Int = -1

  override def begin(): Unit = {
    require(staged == null, "transaction already open")
    staged = mutable.Buffer.empty
  }

  override def commit(): Unit = {
    require(staged != null, "no open transaction")
    if (failOnCommit == commits) {
      staged = null
      throw new RuntimeException(s"injected crash at commit #$commits")
    }
    staged.foreach {
      case Ins(t, row, keyCols) =>
        val tbl = tables.getOrElseUpdate(t, mutable.LinkedHashMap.empty)
        val k = keyCols.map(row.getOrElse(_, null))
        if (!tbl.contains(k)) tbl(k) = row // ON CONFLICT DO NOTHING
      case Upd(t, keys, set) =>
        val tbl = tables.getOrElseUpdate(t, mutable.LinkedHashMap.empty)
        tbl.find { case (_, row) => keys.forall { case (c, v) => row.get(c).contains(v) } }
          .foreach { case (k, row) => tbl(k) = row ++ set }
      case Del(t, keys) =>
        val tbl = tables.getOrElseUpdate(t, mutable.LinkedHashMap.empty)
        tbl.filterInPlace { case (_, row) =>
          !keys.forall { case (c, v) => row.get(c).contains(v) } }
      case Trunc(t) =>
        tables.get(t).foreach(_.clear())
        truncations += 1
      case Ddl(sql) => ddlLog += sql
      case Wm(id, cp) => watermarks(id) = cp
    }
    staged = null
    commits += 1
  }

  override def rollback(): Unit = { staged = null; rollbacks += 1 }

  private def stage(r: OpRec): Unit = {
    require(staged != null, "write outside transaction")
    staged += r
  }
  override def insert(schema: String, table: String, row: Map[String, Any],
      keyCols: Seq[String]): Unit = stage(Ins(s"$schema.$table", row, keyCols))
  override def update(schema: String, table: String, keys: Map[String, Any],
      set: Map[String, Any]): Unit = {
    // an empty key map would vacuously match EVERY row — fail loudly
    // instead of becoming a whole-table write (the applier skips these
    // upstream; this guards direct callers)
    require(keys.nonEmpty, s"UPDATE on $schema.$table with empty key set")
    stage(Upd(s"$schema.$table", keys, set))
  }
  override def delete(schema: String, table: String, keys: Map[String, Any]): Unit = {
    require(keys.nonEmpty, s"DELETE on $schema.$table with empty key set")
    stage(Del(s"$schema.$table", keys))
  }
  override def truncate(schema: String, table: String): Unit =
    stage(Trunc(s"$schema.$table"))
  override def executeDdl(sql: String): Unit = stage(Ddl(sql))
  override def insertMany(schema: String, table: String,
      rows: Seq[Map[String, Any]], keyCols: Seq[String]): Unit = {
    insertBatchSizes += rows.size
    rows.foreach(insert(schema, table, _, keyCols))
  }
  override def readWatermark(sourceId: String): Option[Checkpoint] =
    watermarks.get(sourceId)
  override def writeWatermark(sourceId: String, cp: Checkpoint): Unit =
    stage(Wm(sourceId, cp))

  def rows(schemaTable: String): Seq[Map[String, Any]] =
    tables.get(schemaTable).map(_.values.toSeq).getOrElse(Seq.empty)
}
