package graft.sql

import java.sql.{BatchUpdateException, Connection, PreparedStatement, SQLException}

import graft.cdc.Checkpoint
import graft.streaming.CdcApplier

/** Production [[CdcApplier.TxStore]] over a `java.sql.Connection`
  * (reference PGXSink, pkg/sink/postgres.go:101-205 Setup + 599-671
  * watermark-in-same-tx): autocommit off, every write is a prepared
  * statement built by [[SqlBuilder]], and the watermark row commits in
  * the SAME database transaction as the data it covers — the applier's
  * exactly-once contract needs nothing else from the target.
  *
  * Insert path: every run of same-table inserts is one JDBC batch of a
  * prepared single-row INSERT, one `executeBatch()` per run whatever
  * its length. Against PostgreSQL the statement carries `ON CONFLICT
  * (keys) DO NOTHING` natively (`onConflictSupported = true`), and the
  * target's JDBC URL should set `reWriteBatchedInserts=true` so the
  * driver folds the batch back into multi-VALUES statements (the
  * reference's shape, pkg/sink/postgres.go:395-470). Targets without
  * ON CONFLICT (embedded Derby in the tests) take the optimistic path
  * — the plain batch runs first, and only a duplicate-key violation
  * (SQLState 23505, statement-level rollback, transaction intact)
  * downgrades that one run to per-row exists-checked inserts; the
  * elements the batch ran before the duplicate are skipped by the
  * exists-check like any other present key. Replay runs are the only
  * ones that pay the slow path.
  *
  * DIALECT REQUIREMENT: the optimistic path assumes STATEMENT-level
  * rollback — the transaction must stay usable after a failed
  * statement (Derby, SQL Server, MySQL). PostgreSQL aborts the whole
  * transaction on any error, so against PG `onConflictSupported` MUST
  * be true (the fallback never fires); running PG with it false would
  * poison the transaction ("current transaction is aborted"). The
  * fallback detects that state — if its own first statement fails, it
  * re-throws the ORIGINAL duplicate-key violation with the secondary
  * failure suppressed, keeping the root cause visible.
  *
  * The watermark table is `(source_id, wm_lsn, wm_seq)` keyed by
  * source id — the role of the reference's `pgcapture.sources` table
  * (pkg/sink/postgres.go:609-614 UPDATE … SET commit = $1).
  */
final class JdbcTxStore(conn: Connection,
    watermarkTable: String = "graft_watermarks",
    onConflictSupported: Boolean = false,
    pgVersion: Long = 0L) extends CdcApplier.TxStore with AutoCloseable {

  conn.setAutoCommit(false)
  ensureWatermarkTable()

  // LRU-bounded: insert SQL is one statement per column signature, but
  // UPDATE SQL varies with the set of SET columns and with which key
  // values are NULL, so an unbounded cache would hold one server-side
  // prepared statement per distinct shape for the connection's lifetime
  private val MaxCachedStatements = 256
  private val stmts = new java.util.LinkedHashMap[String, PreparedStatement](
    64, 0.75f, /*accessOrder=*/ true) {
    override def removeEldestEntry(
        e: java.util.Map.Entry[String, PreparedStatement]): Boolean = {
      val evict = size() > MaxCachedStatements
      if (evict) { try e.getValue.close() catch { case _: Exception => () } }
      evict
    }
  }
  var commits = 0
  var rollbacks = 0
  /** Test hook mirroring the tests' `InMemoryTxStore`: throw
    * inside the Nth commit to simulate a crash before the database
    * commit lands. */
  var failOnCommit: Int = -1

  private def prepared(sql: String): PreparedStatement = {
    val cached = stmts.get(sql)
    if (cached != null) cached
    else {
      val ps = conn.prepareStatement(sql)
      stmts.put(sql, ps)
      ps
    }
  }

  /** JDBC bind covering every JVM type [[graft.codec.PgType.decode]]
    * produces. Null needs the declared parameter type on strict
    * drivers (Derby), resolved from parameter metadata. */
  private def bind(ps: PreparedStatement, i: Int, v: Any): Unit = v match {
    case null => ps.setNull(i, ps.getParameterMetaData.getParameterType(i))
    case x: java.time.Instant => ps.setTimestamp(i, java.sql.Timestamp.from(x))
    case x: java.time.LocalDate => ps.setDate(i, java.sql.Date.valueOf(x))
    case x: Array[Byte] => ps.setBytes(i, x)
    case x: scala.collection.Seq[_] => bindArray(ps, i, x)
    case x => ps.setObject(i, x)
  }

  /** PG 1-D array bind (reference pkg/sink/postgres.go:426-434 ships
    * array datums through unchanged, so its sink accepts any array
    * column the source emits): `Connection.createArrayOf` with the PG
    * element type name inferred from the decoded element class — the
    * applier's row maps carry plain JVM values, not OIDs, and the
    * class→name map below covers every array element type
    * [[graft.codec.PgType.decode]] can produce.
    *
    * Targets whose driver has no SQL ARRAY support (embedded Derby in
    * the tests throws SQLFeatureNotSupportedException) get the PG
    * text-literal form (`{"a","b",NULL}`) bound as a string; such a
    * target models the column as VARCHAR, and the literal round-trips
    * through PG's `array_in` if the data later moves to a real PG
    * target (round-trip compatible; not byte-identical to `array_out`
    * for every element type — e.g. timestamps render in ISO form). */
  private def bindArray(ps: PreparedStatement, i: Int,
      xs: scala.collection.Seq[_]): Unit = {
    val converted: Array[AnyRef] = xs.map {
      case t: java.time.Instant => java.sql.Timestamp.from(t)
      case d: java.time.LocalDate => java.sql.Date.valueOf(d)
      case e => e.asInstanceOf[AnyRef]
    }.toArray
    try ps.setArray(i, conn.createArrayOf(pgElemTypeName(xs), converted))
    catch {
      case _: java.sql.SQLFeatureNotSupportedException =>
        ps.setString(i, pgArrayLiteral(xs))
    }
  }

  /** PG type name of an array's elements, from the first non-null
    * element's class (empty / all-null arrays bind as text[] — PG
    * coerces an empty array to any element type). */
  private def pgElemTypeName(xs: scala.collection.Seq[_]): String =
    xs.collectFirst {
      case e if e != null => e match {
        case _: java.lang.Boolean => "bool"
        case _: java.lang.Short => "int2"
        case _: java.lang.Integer => "int4"
        case _: java.lang.Long => "int8"
        case _: java.lang.Float => "float4"
        case _: java.lang.Double => "float8"
        case _: java.math.BigDecimal => "numeric"
        case _: java.time.Instant => "timestamp"
        case _: java.time.LocalDate => "date"
        case _: Array[Byte] => "bytea"
        case _ => "text"
      }
    }.getOrElse("text")

  /** PG array literal (`array_in`-compatible): numbers bare, bools as
    * t/f, SQL NULL as unquoted NULL, bytea in PG hex form, and EVERY
    * other element type double-quoted with backslash/quote escapes —
    * a temporal's rendering (java.time.Instant's 'T', Timestamp's
    * internal space) is only safe inside quotes. */
  private def pgArrayLiteral(xs: scala.collection.Seq[_]): String = {
    def quote(s: String) =
      "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    xs.map {
      case null => "NULL"
      case b: Array[Byte] =>
        "\"\\\\x" + b.map(x => f"$x%02x").mkString + "\""
      case b: java.lang.Boolean => if (b) "t" else "f"
      case n: java.lang.Number => n.toString
      case x => quote(x.toString)
    }.mkString("{", ",", "}")
  }

  override def begin(): Unit = () // autocommit off: tx is implicitly open

  override def commit(): Unit = {
    if (failOnCommit == commits)
      throw new RuntimeException(s"injected crash at commit #$commits")
    conn.commit()
    commits += 1
  }

  override def rollback(): Unit = { conn.rollback(); rollbacks += 1 }

  override def insert(schema: String, table: String, row: Map[String, Any],
      keyCols: Seq[String]): Unit = insertMany(schema, table, Seq(row), keyCols)

  override def insertMany(schema: String, table: String,
      rows: Seq[Map[String, Any]], keyCols: Seq[String]): Unit = {
    if (rows.isEmpty) return
    // one statement per column signature; the applier's run-length
    // batching already groups by table, so this is almost always one
    rows.groupBy(_.keys.toSeq.sorted).foreach { case (cols, part) =>
      insertSlice(schema, table, cols, part, keyCols)
    }
  }

  private def insertSlice(schema: String, table: String, cols: Seq[String],
      rows: Seq[Map[String, Any]], keyCols: Seq[String]): Unit = {
    // one single-row statement per (table, column signature), run as a
    // JDBC batch: its SQL does not grow with the run, so it compiles
    // once per signature, and Derby's recursive compiler, which
    // overflows a 1 MiB thread stack on a 2,500-tuple VALUES list,
    // never sees a long one
    val ps = prepared(SqlBuilder.insertQuery(SqlBuilder.InsertOption(
      schema, table, cols, 1,
      keys = if (onConflictSupported) keyCols else Seq.empty,
      pgVersion = pgVersion, style = SqlBuilder.JdbcParams)))
    def bindRow(r: Map[String, Any]): Unit = {
      var i = 1
      cols.foreach { c => bind(ps, i, r(c)); i += 1 }
    }
    try {
      rows.foreach { r => bindRow(r); ps.addBatch() }
      ps.executeBatch()
    } catch {
      case e: SQLException =>
        ps.clearBatch() // the cached statement must not carry stale rows
        val dup = duplicateKey(e)
        if (dup == null || onConflictSupported || keyCols.isEmpty) throw e
        // replay overlap: the elements before the duplicate already ran
        // inside the tx, the tx itself is intact — re-apply this run
        // row-at-a-time, skipping every key that now exists
        var progressed = false // any fallback statement completed?
        try {
          rows.foreach { r =>
            val exists = keyExists(schema, table, keyCols, r)
            progressed = true
            if (!exists) { bindRow(r); ps.executeUpdate() }
          }
        } catch {
          case e2: SQLException if !progressed =>
            // the very first fallback statement failed too: the
            // transaction is poisoned (a dialect without statement-level
            // rollback, e.g. PG with onConflictSupported left false) —
            // surface the ORIGINAL violation as the root cause
            dup.addSuppressed(e2)
            throw dup
        }
    }
  }

  /** The duplicate-key violation (SQLState 23505) that failed a batch,
    * or null: Derby hangs it on the [[BatchUpdateException]]'s cause,
    * the PostgreSQL driver on its next-exception chain. */
  private def duplicateKey(e: SQLException): SQLException =
    Iterator(e, e.getCause, e.getNextException).collectFirst {
      case s: SQLException if !s.isInstanceOf[BatchUpdateException] &&
        s.getSQLState == "23505" => s
    }.orNull

  private def keyExists(schema: String, table: String, keyCols: Seq[String],
      row: Map[String, Any]): Boolean = {
    val (where, bindCols) = whereOf(keyCols.map(c => c -> row.getOrElse(c, null)).toMap)
    val ps = prepared(
      s"select 1 from ${SqlBuilder.quoted(schema, table)} where $where")
    bindCols.zipWithIndex.foreach { case (c, i) => bind(ps, i + 1, row(c)) }
    val rs = ps.executeQuery()
    try rs.next() finally rs.close()
  }

  // WHERE over a key map that may contain SQL NULLs (a replident-FULL
  // old image when no identity is known): `"c" = ?` never matches NULL,
  // so null-valued keys become `"c" is null`. Returns (sql fragment,
  // bind columns in order).
  private def whereOf(keys: Map[String, Any]): (String, Seq[String]) = {
    val cols = keys.keys.toSeq.sorted
    val frag = cols.map { c =>
      if (keys(c) == null) SqlBuilder.quote(c) + " is null"
      else SqlBuilder.quote(c) + "=?"
    }.mkString(" and ")
    (frag, cols.filter(keys(_) != null))
  }

  override def update(schema: String, table: String, keys: Map[String, Any],
      set: Map[String, Any]): Unit = {
    require(keys.nonEmpty, s"UPDATE on $schema.$table with empty key set")
    val setCols = set.keys.toSeq.sorted
    val (where, bindCols) = whereOf(keys)
    val sets = setCols.map(SqlBuilder.quote(_) + "=?").mkString(",")
    val ps = prepared(
      s"update ${SqlBuilder.quoted(schema, table)} set $sets where $where")
    var i = 1
    setCols.foreach { c => bind(ps, i, set(c)); i += 1 }
    bindCols.foreach { c => bind(ps, i, keys(c)); i += 1 }
    ps.executeUpdate()
  }

  override def delete(schema: String, table: String, keys: Map[String, Any]): Unit = {
    require(keys.nonEmpty, s"DELETE on $schema.$table with empty key set")
    val (where, bindCols) = whereOf(keys)
    val ps = prepared(
      s"delete from ${SqlBuilder.quoted(schema, table)} where $where")
    bindCols.zipWithIndex.foreach { case (c, i) => bind(ps, i + 1, keys(c)) }
    ps.executeUpdate()
  }

  override def truncate(schema: String, table: String): Unit = {
    // WHERE-less DELETE, not SQL TRUNCATE: DELETE is transactional in
    // every dialect (Derby refuses TRUNCATE inside a tx with other
    // statements), and the applier's contract is the clear committing
    // ATOMICALLY with the rest of the source transaction.
    val ps = prepared(s"delete from ${SqlBuilder.quoted(schema, table)}")
    ps.executeUpdate()
  }

  override def executeDdl(sql: String): Unit = {
    val st = conn.createStatement()
    try st.execute(sql) finally st.close()
  }

  override def readWatermark(sourceId: String): Option[Checkpoint] = {
    val ps = prepared(
      s"select wm_lsn, wm_seq from $watermarkTable where source_id = ?")
    ps.setString(1, sourceId)
    val rs = ps.executeQuery()
    try {
      if (rs.next()) Some(Checkpoint(rs.getLong(1), rs.getInt(2))) else None
    } finally rs.close()
  }

  override def writeWatermark(sourceId: String, cp: Checkpoint): Unit = {
    val upd = prepared(
      s"update $watermarkTable set wm_lsn = ?, wm_seq = ? where source_id = ?")
    upd.setLong(1, cp.lsn); upd.setInt(2, cp.seq); upd.setString(3, sourceId)
    if (upd.executeUpdate() == 0) {
      val ins = prepared(
        s"insert into $watermarkTable (source_id, wm_lsn, wm_seq) values (?, ?, ?)")
      ins.setString(1, sourceId); ins.setLong(2, cp.lsn); ins.setInt(3, cp.seq)
      ins.executeUpdate()
    }
  }

  private def ensureWatermarkTable(): Unit = {
    val st = conn.createStatement()
    try {
      st.execute(s"create table $watermarkTable (" +
        "source_id varchar(256) not null primary key, " +
        "wm_lsn bigint not null, wm_seq integer not null)")
      conn.commit()
    } catch {
      case _: java.sql.SQLException => conn.rollback() // already exists
    } finally st.close()
  }

  override def close(): Unit = {
    stmts.values.forEach(s => try s.close() catch { case _: Exception => () })
    // reads under autocommit-off leave an implicit tx open; discard it
    try conn.rollback() catch { case _: java.sql.SQLException => () }
    conn.close()
  }
}
