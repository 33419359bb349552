package graft.sql

import java.sql.DriverManager
import java.util.concurrent.atomic.AtomicInteger

import graft.streaming.{CdcApplier, TxStoreContract}

/** The [[TxStoreContract]] scenarios against the production
  * [[JdbcTxStore]] over an embedded Derby database — a real JDBC
  * transaction boundary, real PRIMARY KEY constraint, real duplicate-
  * key replay path (the dialect fallback for targets without
  * `ON CONFLICT DO NOTHING`). Against PostgreSQL the same store runs
  * with `onConflictSupported = true` and no behavior changes.
  */
class JdbcTxStoreSpec extends TxStoreContract {

  private final class DerbyHarness extends Harness {
    val conn = JdbcTxStoreSpec.freshDb()
    val st = conn.createStatement()
    st.execute("""create schema "public"""")
    st.execute("""create table "public"."test_table" (
      "id" bigint not null primary key, "v" integer)""")
    conn.commit()
    val jdbcStore = new JdbcTxStore(conn)
    def store: CdcApplier.TxStore = jdbcStore
    def commits: Int = jdbcStore.commits
    def failNextCommit(): Unit = jdbcStore.failOnCommit = jdbcStore.commits
    def clearFailures(): Unit = jdbcStore.failOnCommit = -1
    def rows(schemaTable: String): Seq[Map[String, Any]] = {
      val Array(s, t) = schemaTable.split("\\.", 2)
      val rs = st.executeQuery(s"""select * from "$s"."$t"""")
      val md = rs.getMetaData
      val out = Seq.newBuilder[Map[String, Any]]
      while (rs.next())
        out += (1 to md.getColumnCount)
          .map(i => md.getColumnName(i) -> rs.getObject(i))
          .filter(_._2 != null) // absent column ≡ not written
          .toMap
      rs.close()
      out.result()
    }
    override def close(): Unit = { st.close(); jdbcStore.close() }
  }

  override def withHarness(f: Harness => Unit): Unit = {
    val h = new DerbyHarness
    try f(h) finally h.close()
  }

  test("full pipeline into the JDBC store: WAL feed → DSv2 source → Derby") {
    import graft.codec.{PgOutput, PgType}
    import graft.codec.PgOutput.{Column => C, Relation => R}
    val rel = R(1, "public", "accounts", 'd', Seq(
      C("id", PgType.Int8, isKey = true), C("bal", PgType.Int4, isKey = false)))
    def tx(lsn: Long, msgs: Array[Byte]*): Seq[Array[Byte]] =
      PgOutput.Encoder.begin(lsn, lsn * 1000, lsn.toInt) +:
        msgs.toSeq :+ PgOutput.Encoder.commit(lsn, lsn, lsn * 1000)
    def ins(id: Long, bal: Int) = PgOutput.Encoder.insert(rel,
      Seq(PgType.encode(PgType.Int8, id), PgType.encode(PgType.Int4, bal)))
    def upd(id: Long, bal: Int) = PgOutput.Encoder.update(rel, None,
      Seq(PgType.encode(PgType.Int8, id), PgType.encode(PgType.Int4, bal)))

    val walDir = java.nio.file.Files.createTempDirectory("jwal").toString
    graft.sources.WalFiles.writeSegment(walDir, 50L,
      PgOutput.Encoder.relation(rel) +: (
        tx(50L, ins(1, 100), ins(2, 200)) ++ tx(51L, upd(2, 222))))

    val conn = JdbcTxStoreSpec.freshDb()
    val st = conn.createStatement()
    st.execute("""create schema "public"""")
    st.execute("""create table "public"."accounts" (
      "id" bigint not null primary key, "bal" integer)""")
    conn.commit()
    val store = new JdbcTxStore(conn)
    val registry = new graft.cdc.SchemaRegistry
    registry.update(rel)
    val spark = graft.SparkTestSession.spark
    val q = graft.streaming.CdcPipeline.start(spark, walDir,
      java.nio.file.Files.createTempDirectory("jck").toString,
      store, "acct", registry.keyColumns(_, _))
    q.awaitTermination(60000)
    val rs = st.executeQuery("""select "id", "bal" from "public"."accounts" order by "id"""")
    val rows = Iterator.continually(rs)
      .takeWhile(_.next()).map(r => (r.getLong(1), r.getInt(2))).toSeq
    rs.close()
    assert(rows == Seq((1L, 100), (2L, 222)))
    assert(store.readWatermark("acct").contains(graft.cdc.Checkpoint(51, 1)))
    st.close(); store.close()
  }

  test("interleaved multi-table apply: run-length batches flush at table switches") {
    withHarness { h =>
      val st2 = h.asInstanceOf[DerbyHarness].conn.createStatement()
      st2.execute("""create table "public"."audit" (
        "id" bigint not null primary key, "v" integer)""")
      h.asInstanceOf[DerbyHarness].conn.commit()
      st2.close()
      val oids = Map("id" -> graft.codec.PgType.Int8,
        "v" -> graft.codec.PgType.Int4)
      def c(op: String, table: String, lsn: Long, id: Long, v: Int) = {
        val nf = Map("id" -> graft.codec.PgType.encode(graft.codec.PgType.Int8, id),
          "v" -> graft.codec.PgType.encode(graft.codec.PgType.Int4, v))
        CdcApplier.Change(op, "public", table,
          if (op == "DELETE") Map.empty else nf,
          if (op == "DELETE") Map("id" ->
            graft.codec.PgType.encode(graft.codec.PgType.Int8, id)) else Map.empty,
          oids, lsn, 1)
      }
      // inserts into t, switch to audit, back to t, then update + delete —
      // every switch must flush the pending insert batch in order
      CdcApplier.applyBatch(h.store, "s", Seq(
        c("INSERT", "test_table", 1, 1, 10),
        c("INSERT", "test_table", 2, 2, 20),
        c("INSERT", "audit", 3, 1, 100),
        c("INSERT", "test_table", 4, 3, 30),
        c("UPDATE", "test_table", 5, 2, 22),
        c("DELETE", "audit", 6, 1, 0)), keys)
      assert(h.rows("public.test_table").map(r => (r("id"), r("v"))).toSet ==
        Set((1L, 10), (2L, 22), (3L, 30)))
      assert(h.rows("public.audit").isEmpty)
      assert(h.store.readWatermark("s")
        .contains(graft.cdc.Checkpoint(6, 1)))
    }
  }

  test("watermark table round-trips across store instances (A21 recovery)") {
    withHarness { h =>
      CdcApplier.applyBatch(h.store, "s", Seq(ch("INSERT", 9, 2, 1, Some(1))),
        keys)
      // a NEW store over a NEW connection to the same db reads it back
      val conn2 = DriverManager.getConnection(h.asInstanceOf[DerbyHarness].conn
        .getMetaData.getURL)
      val store2 = new JdbcTxStore(conn2)
      try assert(store2.readWatermark("s")
        .contains(graft.cdc.Checkpoint(9, 2)))
      finally store2.close()
    }
  }

  test("duplicate-key replay downgrades one batch, then resumes fast path") {
    withHarness { h =>
      val s = h.store
      s.begin()
      s.insertMany("public", "test_table",
        (1 to 4).map(i => Map[String, Any]("id" -> i.toLong, "v" -> i)), Seq("id"))
      s.commit()
      s.begin()
      // overlap: 3,4 exist; 5,6 are new — fallback must apply exactly 5,6
      s.insertMany("public", "test_table",
        (3 to 6).map(i => Map[String, Any]("id" -> i.toLong, "v" -> i)), Seq("id"))
      s.commit()
      assert(h.rows("public.test_table").map(_("id")).toSet ==
        (1 to 6).map(_.toLong).toSet)
    }
    withHarness { h =>
      val s = h.store
      def run(ids: Range, v: Int => Int): Unit = {
        s.begin()
        s.insertMany("public", "test_table",
          ids.map(i => Map[String, Any]("id" -> i.toLong, "v" -> v(i))), Seq("id"))
        s.commit()
      }
      run(1 to 2, identity)
      run(5 to 6, identity)
      // mid-run duplicate: the batch runs 3 and 4 before failing on 5;
      // the fallback must skip them as present, keep 5 and 6's old v
      // (ON CONFLICT DO NOTHING) and add 7 and 8 exactly once
      run(3 to 8, _ * 100)
      assert(h.rows("public.test_table").map(r => (r("id"), r("v"))).toSet ==
        Set((1L, 1), (2L, 2), (3L, 300), (4L, 400), (5L, 5), (6L, 6),
          (7L, 700), (8L, 800)))
      // the statement the fallback reused carries no stale batch rows
      run(9 to 10, identity)
      assert(h.rows("public.test_table").map(_("id")).toSet ==
        (1 to 10).map(_.toLong).toSet)
    }
  }

  test("a 2,500-row insert run commits on a 1 MiB thread stack") {
    withHarness { h =>
      val s = h.store
      var failure: Throwable = null
      // the applier's largest run, on the stack size a stream-execution
      // thread gets by default
      val t = new Thread(null, () => {
        try {
          s.begin()
          s.insertMany("public", "test_table",
            (1 to 2500).map(i => Map[String, Any]("id" -> i.toLong, "v" -> i)),
            Seq("id"))
          s.commit()
        } catch { case e: Throwable => failure = e }
      }, "insert-1mib-stack", 1L << 20)
      t.start(); t.join()
      if (failure != null) throw failure
      assert(h.rows("public.test_table").size == 2500)
    }
  }

  test("poisoned-tx detection: first fallback failure re-throws the original violation") {
    withHarness { h =>
      val s = h.store
      s.begin()
      s.insertMany("public", "test_table",
        Seq(Map[String, Any]("id" -> 1L, "v" -> 1)), Seq("id"))
      s.commit()
      s.begin()
      // the duplicate triggers the fallback; a bogus key column makes
      // the fallback's FIRST statement (the exists probe) fail too —
      // the store must surface the ORIGINAL duplicate-key violation
      // with the probe failure suppressed, not the secondary error
      val e = intercept[java.sql.SQLIntegrityConstraintViolationException] {
        s.insertMany("public", "test_table",
          Seq(Map[String, Any]("id" -> 1L, "v" -> 1)), Seq("no_such_col"))
      }
      assert(e.getSuppressed.nonEmpty,
        "the secondary failure must ride along as suppressed")
      s.rollback()
    }
  }

  test("NULL-valued keys become IS NULL predicates (replident FULL, no key info)") {
    withHarness { h =>
      val s = h.store
      s.begin()
      s.insert("public", "test_table",
        Map[String, Any]("id" -> 1L, "v" -> null), Seq("id"))
      s.insert("public", "test_table",
        Map[String, Any]("id" -> 2L, "v" -> 7), Seq("id"))
      s.commit()
      s.begin()
      // full-row identity with a NULL column: `v = ?` would match
      // nothing; the store must emit `"v" is null`
      s.delete("public", "test_table", Map[String, Any]("id" -> 1L, "v" -> null))
      s.commit()
      assert(h.rows("public.test_table").map(_("id")) == Seq(2L))
    }
  }

  test("null column values bind correctly") {
    withHarness { h =>
      val s = h.store
      s.begin()
      s.insert("public", "test_table",
        Map[String, Any]("id" -> 1L, "v" -> null), Seq("id"))
      s.commit()
      assert(h.rows("public.test_table") == Seq(Map("id" -> 1L)))
    }
  }

  test("array columns bind (Derby fallback: PG array_out literal into VARCHAR)") {
    withHarness { h =>
      val s = h.store
      s.begin()
      s.executeDdl("""create table "public"."tagged" (
        "id" bigint not null primary key, "tags" varchar(400), "ns" varchar(400))""")
      // reference round-trips text[] through its test table's `tags`
      // column (pgcapture--0.1.sql:4); Derby has no SQL ARRAY, so the
      // store degrades to the array_out literal — including quote and
      // backslash escapes and SQL NULL elements
      s.insert("public", "tagged", Map[String, Any](
        "id" -> 1L,
        "tags" -> Seq("alter table", "a\"quote", "back\\slash", null),
        "ns" -> Seq(1L, 2L, 3L)), Seq("id"))
      s.commit()
      s.begin()
      s.update("public", "tagged", Map[String, Any]("id" -> 1L),
        Map[String, Any]("ns" -> Seq(9L)))
      s.commit()
      assert(h.rows("public.tagged") == Seq(Map(
        "id" -> 1L,
        "tags" -> """{"alter table","a\"quote","back\\slash",NULL}""",
        "ns" -> "{9}")))
    }
  }

  test("empty and numeric arrays bind via the literal fallback") {
    withHarness { h =>
      val s = h.store
      s.begin()
      s.executeDdl("""create table "public"."arrs" (
        "id" bigint not null primary key, "xs" varchar(100))""")
      s.insert("public", "arrs",
        Map[String, Any]("id" -> 1L, "xs" -> Seq.empty[Any]), Seq("id"))
      s.insert("public", "arrs",
        Map[String, Any]("id" -> 2L, "xs" -> Seq(1.5d, 2.5d)), Seq("id"))
      s.commit()
      assert(h.rows("public.arrs").sortBy(_("id").asInstanceOf[Long].toInt)
        .map(_("xs")) == Seq("{}", "{1.5,2.5}"))
    }
  }

  test("temporal and bool arrays quote literal elements array_in can parse") {
    withHarness { h =>
      val s = h.store
      s.begin()
      s.executeDdl("""create table "public"."tarrs" (
        "id" bigint not null primary key, "xs" varchar(200))""")
      // an Instant's ISO 'T' and a date are only array_in-safe inside
      // quotes; bools take PG's t/f output form
      s.insert("public", "tarrs", Map[String, Any](
        "id" -> 1L,
        "xs" -> Seq(java.time.Instant.parse("2024-01-02T03:04:05Z"),
          java.time.LocalDate.parse("2024-01-02"), null)), Seq("id"))
      s.insert("public", "tarrs",
        Map[String, Any]("id" -> 2L,
          "xs" -> Seq(java.lang.Boolean.TRUE, java.lang.Boolean.FALSE)),
        Seq("id"))
      s.commit()
      assert(h.rows("public.tarrs").sortBy(_("id").asInstanceOf[Long].toInt)
        .map(_("xs")) == Seq(
          """{"2024-01-02T03:04:05Z","2024-01-02",NULL}""",
          "{t,f}"))
    }
  }

  test("DDL executes inside the apply transaction path") {
    withHarness { h =>
      val s = h.store
      s.begin()
      s.executeDdl("""create table "public"."ddl_made" ("x" integer)""")
      s.insert("public", "ddl_made", Map[String, Any]("x" -> 5), Seq.empty)
      s.commit()
      assert(h.rows("public.ddl_made") == Seq(Map("x" -> 5)))
    }
  }
}

object JdbcTxStoreSpec {
  private val n = new AtomicInteger
  private lazy val home = {
    // keep derby.log out of the repo
    val dir = java.nio.file.Files.createTempDirectory("derby")
    System.setProperty("derby.system.home", dir.toString)
    dir
  }
  def freshDb(): java.sql.Connection = {
    home
    DriverManager.getConnection(
      s"jdbc:derby:memory:graft${n.incrementAndGet()};create=true")
  }
}
