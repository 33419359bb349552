package graft.streaming

import scala.collection.mutable

import graft.cdc.Checkpoint
import graft.codec.PgType

/** Apply-side of the engine (reference A16-A22,
  * pkg/sink/postgres.go:207-278 tx state machine, 599-671 watermark-in-
  * same-pipeline-sync): replays an ordered change feed into a
  * transactional store with exactly-once semantics.
  *
  * Exactly-once = idempotent-resume filter (A12: drop everything at or
  * below the stored watermark) + the watermark row written INSIDE the
  * same store transaction as the data it covers (A16), so a crash
  * between batches replays only unacked transactions and a crash inside
  * a transaction rolls data+watermark back together.
  *
  * Scale note: the applier is the strictly-ordered stage (one writer
  * per target, like the reference's advisory lock A22); everything
  * upstream (decode, filter, routing) and downstream (analytics on the
  * materialized table) is distributed. Under Structured Streaming this
  * runs in `foreachBatch` on the driver with batched store round-trips
  * (`txBatch` source-transactions per store-transaction, reference
  * BatchTXSize=100, cmd/pulsar2pg.go:30).
  */
object CdcApplier {

  /** APPLIED truncates (store.truncate calls that reached a target),
    * JVM-wide — the gauge the r14 verdict asked for: the scan-side
    * `truncate_frames` metric counts DELIVERED control rows; this one
    * counts the clears that actually landed (skip-set-suppressed rows
    * are delivered but not applied). Read via
    * [[GraftMetricsListener.truncatesApplied]]. */
  val truncatesApplied = new java.util.concurrent.atomic.AtomicLong

  /** One decoded change, ordered by (lsn, seq) unsigned.
    *
    * `keys` is the replica-identity column list that was in force when
    * THIS row was captured (from the table's Relation message riding
    * the same envelope) — carried per change, not per table, so a
    * replident change mid-batch (DDL) resolves each row with the keys
    * of its own capture point, not the batch's newest. `None` = the
    * wire didn't say (pglogical); the apply-side resolver decides. */
  final case class Change(op: String, schema: String, table: String,
      newFields: Map[String, Array[Byte]], oldFields: Map[String, Array[Byte]],
      oids: Map[String, Int], lsn: Long, seq: Int,
      keys: Option[Seq[String]] = None)

  /** Transactional target-store seam (the JDBC connection in a real
    * deployment; the tests' `InMemoryTxStore` — same role as the
    * reference's pgconn pipeline). Insert must be conflict-skipping
    * (`ON CONFLICT DO NOTHING`, A17) for replay idempotence.
    */
  trait TxStore {
    def begin(): Unit
    def commit(): Unit
    def rollback(): Unit
    def insert(schema: String, table: String, row: Map[String, Any],
        keyCols: Seq[String]): Unit
    /** Multi-row insert (A17): consecutive same-table INSERTs arrive
      * run-length batched, up to 2500 rows (the reference lands each
      * run as one multi-VALUES statement, pkg/sink/postgres.go:395-470;
      * [[graft.sql.JdbcTxStore]] runs it as one JDBC batch). Default:
      * row-at-a-time. */
    def insertMany(schema: String, table: String, rows: Seq[Map[String, Any]],
        keyCols: Seq[String]): Unit =
      rows.foreach(insert(schema, table, _, keyCols))
    def update(schema: String, table: String, keys: Map[String, Any],
        set: Map[String, Any]): Unit
    def delete(schema: String, table: String, keys: Map[String, Any]): Unit
    /** Clear every row of the table, inside the CURRENT transaction —
      * the apply of an op=TRUNCATE control row (r14 ask #1; pgoutput
      * 'T'). Cascade needs no handling here: PostgreSQL expands
      * CASCADE into the frame's relid list, so each affected table
      * gets its own control row. */
    def truncate(schema: String, table: String): Unit
    /** Replay a captured DDL statement (A20) inside the current tx. */
    def executeDdl(sql: String): Unit
    /** Read committed watermark for a source id (A21 checkpoint recovery). */
    def readWatermark(sourceId: String): Option[Checkpoint]
    /** Stage the watermark inside the CURRENT transaction (A16). */
    def writeWatermark(sourceId: String, cp: Checkpoint): Unit
  }

  /** Key columns for (schema, table) — the reference resolves these
    * from pg_catalog via its schema loader (A6/A18); here they come
    * from Relation messages or static config. */
  type KeyResolver = (String, String) => Seq[String]

  /** Full column info for (schema, table): keys plus generated/identity
    * column sets (reference GetColumnInfo, pkg/decode/schema.go:205-213)
    * — usually [[graft.cdc.SchemaRegistry.columnInfo]]. */
  type InfoResolver = (String, String) => graft.cdc.ColumnInfo

  private def decodeRow(fields: Map[String, Array[Byte]],
      oids: Map[String, Int]): Map[String, Any] =
    fields.map { case (c, datum) =>
      c -> (if (datum == null) null else PgType.decode(oids.getOrElse(c, PgType.Text), datum))
    }

  /** Apply one ordered slice of the feed. Returns the new watermark.
    *
    * Transaction mapping: all changes sharing one `lsn` are one source
    * transaction (the reference's Begin..Commit span); `txBatch` source
    * transactions share one store transaction. The watermark update
    * rides the final store transaction of the batch, and each
    * intermediate store commit also carries its own watermark — the
    * reference's "data + progress in one pipeline sync".
    */
  def applyBatch(store: TxStore, sourceId: String, changes: Seq[Change],
      keys: KeyResolver, txBatch: Int = 100): Checkpoint =
    applyWithInfo(store, sourceId, changes,
      (s, t) => graft.cdc.ColumnInfo(keys(s, t)), txBatch)

  /** [[applyBatch]] with full column info: generated columns never
    * reach INSERT or UPDATE SET, identity-generation columns never
    * reach UPDATE SET, and an UPDATE/DELETE that cannot produce a key
    * (replica identity NOTHING, filtered old image) is skipped rather
    * than handed to the store — the reference's exact guards
    * (pkg/sink/postgres.go:400-404, 507-545: `len(sets) == 0 ||
    * len(keys) == 0 → no-op`). Without the skip, an empty key map
    * means "match everything" downstream (a WHERE-less DELETE on a
    * JDBC target), which is how a malformed event truncates a table.
    */
  def applyWithInfo(store: TxStore, sourceId: String, changes: Seq[Change],
      resolve: InfoResolver, txBatch: Int = 100): Checkpoint = {
    val wm = store.readWatermark(sourceId).getOrElse(Checkpoint.Zero)
    val fresh = changes
      .filter(c => Checkpoint(c.lsn, c.seq).after(wm)) // A12 idempotent resume
      .sortBy(c => (c.lsn ^ Long.MinValue, c.seq))
    if (fresh.isEmpty) return wm

    var lastLsn = fresh.head.lsn
    var txsInStore = 0
    var open = false
    var cp = wm
    // A20 state: relations whose row changes the current source tx's
    // DDL already produced (suppressed), and the CRC of the last
    // replayed DDL (consecutive identical DDL is deduplicated)
    var skipTables = Set.empty[String]
    var lastDdlCrc = -1L
    // A17 run-length INSERT batching: consecutive same-table inserts
    // land as one multi-row write (reference cap: 2500 rows)
    val MaxInsertBatch = 2500
    var insTarget: (String, String, Seq[String]) = null
    val insBuf = mutable.Buffer.empty[Map[String, Any]]
    def flushInserts(): Unit = if (insBuf.nonEmpty) {
      store.insertMany(insTarget._1, insTarget._2, insBuf.toSeq, insTarget._3)
      insBuf.clear()
    }
    def ensureOpen(): Unit = if (!open) { store.begin(); open = true }
    def commitStore(): Unit = if (open) {
      flushInserts()
      store.writeWatermark(sourceId, cp)
      store.commit(); open = false; txsInStore = 0
    }
    try {
      fresh.foreach { c =>
        if (c.lsn != lastLsn) { // source-tx boundary
          txsInStore += 1
          lastLsn = c.lsn
          skipTables = Set.empty // DML suppression is per source tx
          if (txsInStore >= txBatch) commitStore()
        }
        // per-change envelope keys (the Relation in force at capture
        // time) beat the batch-level resolver — a mid-batch replident
        // change must not retro-apply to earlier rows
        val info = {
          val base = resolve(c.schema, c.table)
          c.keys.fold(base)(k => base.copy(keys = k))
        }
        if (graft.cdc.DdlClassifier.ignore(c.schema, c.table)) {
          // pgcapture.sources bookkeeping rows are never applied (A7)
        } else if (graft.cdc.DdlClassifier.isDdl(c.schema, c.table)) {
          val row = decodeRow(c.newFields, c.oids)
          val ddl = row.getOrElse("query", "").toString
          val crc = { val x = new java.util.zip.CRC32
            x.update(ddl.getBytes("UTF-8")); x.getValue }
          if (crc != lastDdlCrc) {
            lastDdlCrc = crc
            graft.cdc.DdlClassifier.stripNonReplayable(ddl).foreach { sql =>
              ensureOpen()
              flushInserts() // DDL is a barrier for pending inserts
              store.executeDdl(sql)
            }
            skipTables ++= graft.cdc.DdlClassifier.touchedRelations(ddl)
          }
        } else if (skipTables.contains(c.table.toLowerCase)) {
          // the tx's DDL (CTAS / SELECT INTO / DML-in-DDL) already wrote
          // these rows — replaying them would double-apply (A20)
        } else {
          ensureOpen()
          c.op match {
            case "INSERT" =>
              val target = (c.schema, c.table, info.keys)
              if (insTarget != target || insBuf.size >= MaxInsertBatch) {
                flushInserts(); insTarget = target
              }
              // generated columns never carry a writable value
              // (pkg/sink/postgres.go:400-404 Filter(!IsGenerated))
              insBuf += decodeRow(
                c.newFields.view.filterKeys(!info.isGenerated(_)).toMap, c.oids)
            case "UPDATE" =>
              flushInserts() // ordering: pending inserts land first
              val newRow = decodeRow(c.newFields, c.oids)
              val sets0 = newRow.view.filterKeys(k =>
                !info.isGenerated(k) && !info.isIdentityGeneration(k)).toMap
              // key split (A18): old image keys when the replica identity
              // provided them, else identity keys from the new image (in
              // which case keys also leave the SET list,
              // pkg/sink/postgres.go:520-538). A replident-FULL old image
              // carries EVERY column incl. NULLs; when identity keys are
              // known, restrict the WHERE to them — `col = NULL` never
              // matches on a SQL target, so a full-row match with a null
              // column would silently update nothing.
              val (keyVals, sets) =
                if (c.oldFields.nonEmpty) {
                  val old = decodeRow(c.oldFields, c.oids)
                  val keyed =
                    if (info.keys.nonEmpty) old.view.filterKeys(info.isKey).toMap
                    else old
                  (if (keyed.nonEmpty) keyed else old, sets0)
                } else (newRow.view.filterKeys(info.isKey).toMap,
                  sets0.view.filterKeys(!info.isKey(_)).toMap)
              // reference guard (postgres.go:541-543): no keys (replident
              // NOTHING / filtered old image) or nothing to set → skip;
              // an empty key map must never reach the store
              if (keyVals.nonEmpty && sets.nonEmpty)
                store.update(c.schema, c.table, keyVals, sets)
            case "DELETE" =>
              flushInserts()
              val old = decodeRow(c.oldFields, c.oids)
              // same key restriction as UPDATE (replident-FULL NULLs)
              val keyed =
                if (info.keys.nonEmpty) old.view.filterKeys(info.isKey).toMap
                else old
              val keyVals = if (keyed.nonEmpty) keyed else old
              // empty old image (replident NOTHING / malformed event):
              // skipping beats the WHERE-less DELETE it would become
              if (keyVals.nonEmpty) store.delete(c.schema, c.table, keyVals)
            case "TRUNCATE" =>
              // table-level clear, in-tx (r14 ask #1). Rides the same
              // skip-set guard as DML above: a replayed DDL that was
              // itself a TRUNCATE statement already cleared the table
              // (A20), so the wire control row of the same source tx
              // is suppressed, not double-applied.
              flushInserts()
              store.truncate(c.schema, c.table)
              truncatesApplied.incrementAndGet()
            // op=MESSAGE control rows (pg_logical_emit_message) are
            // not table DML — nothing to apply; the checkpoint still
            // advances past them (the stream stays dense). Consumers
            // that want them route on the envelope, not the applier.
            case _ => ()
          }
        }
        cp = Checkpoint(c.lsn, c.seq)
      }
      commitStore()
      cp
    } catch {
      case e: Throwable =>
        if (open) store.rollback()
        throw e
    }
  }
}
