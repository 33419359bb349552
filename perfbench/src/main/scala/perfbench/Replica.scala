package perfbench

import java.sql.{Connection, DriverManager}

import graft.cdc.Checkpoint

/** The replica: an in-memory embedded Derby database holding the captured
  * tables, and the check that reads it back and compares it with the
  * generator's model. In memory, a commit never waits for a disk flush,
  * so store time is CPU time and the same on every host. */
object Replica {
  private val counter = new java.util.concurrent.atomic.AtomicInteger
  /** Where `JdbcTxStore` keeps its watermarks by default. */
  private val Watermarks = "graft_watermarks"

  /** A fresh database with the captured tables created; returns its URL. */
  def create(): String = {
    val url = s"jdbc:derby:memory:replica${counter.incrementAndGet()}"
    val conn = DriverManager.getConnection(url + ";create=true")
    try {
      val st = conn.createStatement()
      st.execute("create schema \"public\"")
      Tables.all.foreach(t => st.execute(t.ddl))
      st.close()
    } finally conn.close()
    url
  }

  /** Empty every captured table and the watermarks. The database, and
    * the statements Derby has compiled for it, stay. */
  def clear(url: String): Unit = {
    val conn = DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      Tables.all.foreach(t => st.executeUpdate(s"""delete from "public"."${t.name}""""))
      st.executeUpdate(s"delete from $Watermarks")
      st.close()
    } finally conn.close()
  }

  /** Drop an in-memory database and free its memory. */
  def drop(url: String): Unit =
    try DriverManager.getConnection(url + ";drop=true")
    catch { case _: java.sql.SQLException => () } // Derby signals a drop by throwing

  private def same(a: Any, b: Any): Boolean = (a, b) match {
    case (null, null) => true
    case (x: java.math.BigDecimal, y: java.math.BigDecimal) => x.compareTo(y) == 0
    case (x: java.time.Instant, y: java.sql.Timestamp) => x == y.toInstant
    case (x: java.lang.Number, y: java.lang.Number) => x == y
    case _ => a == b
  }

  /** Every difference between the replica and the model, plus a
    * difference for a stored watermark other than `expected`. Each
    * missing, extra or differing row counts once. */
  def diff(conn: Connection, model: Model, sourceId: String,
      expected: Checkpoint): Seq[String] = {
    val out = Seq.newBuilder[String]
    val st = conn.createStatement()
    try {
      Tables.all.foreach { t =>
        val want = model.rows(t.name)
        val seen = scala.collection.mutable.Set.empty[Long]
        val rs = st.executeQuery(s"""select * from "public"."${t.name}"""")
        while (rs.next()) {
          val got = t.cols.indices.map(i => rs.getObject(i + 1))
          val id = rs.getLong(1)
          seen += id
          want.get(id) match {
            case None => out += s"${t.name} id=$id: extra row"
            case Some(row) =>
              val bad = t.cols.indices.filterNot(i => same(row(i), got(i)))
              if (bad.nonEmpty) out += s"${t.name} id=$id: " + bad.map(i =>
                s"${t.cols(i).name} ${got(i)} != ${row(i)}").mkString(", ")
          }
        }
        rs.close()
        want.keysIterator.filterNot(seen).foreach(id => out += s"${t.name} id=$id: missing")
      }
      val rs = st.executeQuery(
        s"select wm_lsn, wm_seq from $Watermarks where source_id = '$sourceId'")
      val wm = if (rs.next()) Some(Checkpoint(rs.getLong(1), rs.getInt(2))) else None
      rs.close()
      if (!wm.contains(expected)) out += s"watermark $wm != $expected"
    } finally st.close()
    out.result()
  }
}
