package graft.sources

import java.nio.file.Files

import graft.SparkTestSession
import graft.codec.{PgLogical, PgOutput, PgType}
import graft.codec.PgOutput.{Column => C, Relation => R}
import graft.streaming.{CdcApplier, CdcPipeline}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** The envelope rows of the reader and the applier changes built from
  * them equal what the row-at-a-time conversions produced: the per-row
  * envelope builder and the `select`/`collect`/`Row` collect, both kept
  * here as the oracles. One feed covers every row shape the envelope
  * has; pglogical (no replica-identity flags) is a second feed. */
class EnvelopeEquivalenceSpec extends AnyFunSuite {

  private val acct = R(1, "public", "acct", 'd', Seq(
    C("id", PgType.Int8, isKey = true), C("note", PgType.Text, isKey = false),
    C("bal", PgType.Int4, isKey = false)))
  // the same relation id re-declared with a column added and the key moved
  private val acct2 = acct.copy(replicaIdentity = 'i', columns = Seq(
    C("id", PgType.Int8, isKey = false), C("note", PgType.Text, isKey = false),
    C("bal", PgType.Int4, isKey = true), C("added", PgType.Int4, isKey = false)))
  // replica identity FULL: the old image carries every column
  private val full = R(2, "audit", "log", 'f', Seq(
    C("k", PgType.Text, isKey = true), C("v", PgType.Int8, isKey = false)))

  private def id(n: Long) = PgType.encode(PgType.Int8, n)
  private def txt(s: String) = PgType.encode(PgType.Text, s)
  private def i4(n: Int) = PgType.encode(PgType.Int4, n)

  private def tx(lsn: Long, msgs: Array[Byte]*): Seq[Array[Byte]] =
    PgOutput.Encoder.begin(lsn, lsn * 1000, lsn.toInt) +:
      msgs.toSeq :+ PgOutput.Encoder.commit(lsn, lsn, lsn * 1000)

  /** Three segments: INSERT/UPDATE/DELETE with NULL datums and
    * unchanged-TOAST columns, a FULL old image, TRUNCATE and MESSAGE
    * rows, and `acct` re-declared in segment 2. */
  private def pgoutputFeed(): String = {
    val dir = Files.createTempDirectory("envEq").toString
    val E = PgOutput.Encoder
    WalFiles.writeSegment(dir, 100L, Seq(E.relation(acct), E.relation(full)) ++
      tx(100L,
        E.insert(acct, Seq(id(1), txt("a"), i4(10))),
        E.insert(acct, Seq(id(2), null, i4(20))),
        E.update(acct, None, Seq(id(1), E.Toast, i4(11))),
        E.insert(full, Seq(txt("x"), id(7)))) ++
      tx(101L,
        E.update(full, Some(Seq(txt("x"), id(7))), Seq(txt("x"), id(8)), oldKind = 'O'),
        E.message(transactional = true, 101L, "ctl", "mark".getBytes("UTF-8")),
        E.delete(acct, Seq(id(2), null, null))))
    WalFiles.writeSegment(dir, 102L, E.relation(acct2) +: (
      tx(102L,
        E.insert(acct2, Seq(id(3), txt("c"), i4(30), null)),
        E.update(acct2, Some(Seq(null, null, i4(30), null)),
          Seq(id(3), E.Toast, i4(30), i4(5))),
        E.truncate(Seq(full.relId))) :+
      E.message(transactional = false, 103L, "ctl", Array.emptyByteArray)))
    WalFiles.writeSegment(dir, 104L, tx(104L,
      E.delete(full, Seq(txt("x"), id(8)), oldKind = 'O'),
      E.insert(acct2, Seq(id(4), E.Toast, null, i4(6)))))
    dir
  }

  private def pglogicalFeed(): String = {
    val dir = Files.createTempDirectory("envEqPl").toString
    val L = PgLogical.Encoder
    def pltx(lsn: Long, msgs: Array[Byte]*): Seq[Array[Byte]] =
      L.begin(lsn, lsn * 1000, lsn.toInt) +: msgs.toSeq :+ L.commit(lsn, lsn, lsn * 1000)
    WalFiles.writeSegment(dir, 500L, L.relation(acct) +: pltx(500L,
      L.insert(acct, Seq(id(1), txt("a"), null)),
      L.update(acct, None, Seq(id(1), L.Toast, i4(2)))))
    WalFiles.writeSegment(dir, 501L, pltx(501L,
      L.update(acct, Some(Seq(id(1), null, null)), Seq(id(9), txt("b"), null)),
      L.delete(acct, Seq(id(9), null, null))))
    dir
  }

  /** Every event of the feed, in order, as the readers decode it. */
  private def events(dir: String, plugin: String): Seq[WalFiles.WalEvent] =
    WalFiles.replay(WalFiles.segments(dir).map(_._2), WalFiles.decoderFor(plugin)).toSeq

  // ---- oracles: the row-at-a-time conversions -------------------------

  private def oracleRow(e: WalFiles.WalEvent): InternalRow = {
    val ch = e.change
    val rel = ch.rel
    def mapData(m: Option[Map[String, Array[Byte]]]) = m.map { mm =>
      val ks = mm.keys.toArray.sorted
      new ArrayBasedMapData(
        new GenericArrayData(ks.map(k => UTF8String.fromString(k): Any)),
        new GenericArrayData(ks.map(k => mm(k): Any)))
    }.orNull
    val oids = {
      val cols = rel.columns.toArray
      new ArrayBasedMapData(
        new GenericArrayData(cols.map(c => UTF8String.fromString(c.name): Any)),
        new GenericArrayData(cols.map(c => c.oid: Any)))
    }
    new GenericInternalRow(Array[Any](
      UTF8String.fromString(ch.op),
      UTF8String.fromString(rel.namespace),
      UTF8String.fromString(rel.name),
      mapData(ch.newTuple), mapData(ch.oldTuple), oids,
      e.cp.lsn, e.cp.seq,
      e.commitTimeUs + PgType.PgEpochMicros,
      new GenericArrayData(rel.columns.filter(_.isKey)
        .map(c => UTF8String.fromString(c.name): Any).toArray)))
  }

  private def oracleChanges(batch: DataFrame): Seq[CdcApplier.Change] = {
    def m(r: Row, i: Int): Map[String, Array[Byte]] =
      if (r.isNullAt(i)) Map.empty
      else r.getMap[String, Array[Byte]](i).toMap
    batch
      .select("op", "schema", "table", "new", "old", "oids", "lsn", "seq", "keys")
      .collect()
      .map { r =>
        CdcApplier.Change(r.getString(0), r.getString(1), r.getString(2),
          m(r, 3), m(r, 4),
          if (r.isNullAt(5)) Map.empty else r.getMap[String, Int](5).toMap,
          r.getLong(6), r.getInt(7),
          keys = if (r.isNullAt(8)) None else Some(r.getSeq[String](8).toList))
      }
      .toSeq
  }

  // ---- comparison helpers ---------------------------------------------

  /** A change with its byte arrays compared by content; `None` marks a
    * NULL datum, an absent key an unchanged-TOAST column. */
  private def byContent(c: CdcApplier.Change) = {
    def m(f: Map[String, Array[Byte]]) = f.map { case (k, v) => k -> Option(v).map(_.toSeq) }
    (c.op, c.schema, c.table, m(c.newFields), m(c.oldFields), c.oids, c.lsn, c.seq, c.keys)
  }

  private def json(df: DataFrame): Seq[String] =
    df.orderBy("lsn", "seq").select(to_json(struct(col("*")))).collect()
      .map(_.getString(0)).toSeq

  private def unsafeBytes(r: InternalRow): Seq[Byte] =
    UnsafeProjection.create(PgCaptureSource.schema).apply(r).getBytes.toSeq

  /** (new, old) of every streamed batch, each converted both ways. */
  private def streamChanges(dir: String, plugin: String)
      : (Seq[CdcApplier.Change], Seq[CdcApplier.Change]) = {
    val got = Seq.newBuilder[CdcApplier.Change]
    val want = Seq.newBuilder[CdcApplier.Change]
    SparkTestSession.spark.readStream.format("pgcapture")
      .option("path", dir).option("plugin", plugin).load()
      .writeStream
      .option("checkpointLocation", Files.createTempDirectory("envEqCk").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        got ++= CdcPipeline.toChanges(batch)
        want ++= oracleChanges(batch)
        ()
      }.start().awaitTermination(60000)
    (got.result(), want.result())
  }

  private def checkFeed(dir: String, plugin: String): Seq[CdcApplier.Change] = {
    val spark = SparkTestSession.spark
    val evs = events(dir, plugin)

    // the reader's rows: byte-identical to the per-row builder's, as
    // UnsafeRows and through the batch scan
    val rows = new PgWalRows
    evs.foreach(e => assert(unsafeBytes(rows.toRow(e)) == unsafeBytes(oracleRow(e)),
      s"envelope row at ${e.cp}"))
    val toScala = CatalystTypeConverters.createToScalaConverter(PgCaptureSource.schema)
    val oracleDf = spark.createDataFrame(
      java.util.Arrays.asList(evs.map(e => toScala(oracleRow(e)).asInstanceOf[Row]): _*),
      PgCaptureSource.schema)
    val scanned = spark.read.format("pgcapture").option("path", dir)
      .option("plugin", plugin).load()
    assert(scanned.rdd.getNumPartitions == WalFiles.segments(dir).size)
    assert(json(scanned) == json(oracleDf))

    // the applier changes: streamed (the micro-batch's own plan) and
    // from the batch scan (a frame that plans itself)
    val (streamed, streamedOracle) = streamChanges(dir, plugin)
    assert(streamed.map(byContent) == streamedOracle.map(byContent))
    assert(streamed.size == evs.size)
    val batch = CdcPipeline.toChanges(scanned)
    assert(batch.map(byContent) == oracleChanges(scanned).map(byContent))
    assert(batch.map(byContent).sortBy(c => (c._7, c._8)) == streamed.map(byContent))
    streamed
  }

  test("pgoutput: reader rows and applier changes equal the row-at-a-time conversions") {
    val got = checkFeed(pgoutputFeed(), "pgoutput")
    // the fixture holds every shape it claims to
    assert(got.map(_.op).toSet == Set("INSERT", "UPDATE", "DELETE", "TRUNCATE", "MESSAGE"))
    assert(got.exists(c => c.newFields.get("note").exists(_ == null)), "a NULL datum")
    assert(got.exists(c => c.op == "UPDATE" && c.table == "acct" &&
      !c.newFields.contains("note")), "an unchanged-TOAST column")
    assert(got.exists(c => c.table == "log" && c.op == "UPDATE" &&
      c.oldFields.keySet == Set("k", "v")), "a FULL old image")
    assert(got.filter(_.table == "acct").flatMap(_.keys).distinct ==
      Seq(Seq("id"), Seq("bal")), "the re-declared relation's keys")
    assert(got.exists(c => c.table == "acct" && c.oids.contains("added")))
  }

  test("pglogical: empty keys, same equivalence") {
    val got = checkFeed(pglogicalFeed(), "pglogical")
    assert(got.map(_.op) == Seq("INSERT", "UPDATE", "UPDATE", "DELETE"))
    assert(got.forall(_.keys.contains(Nil)), "pglogical carries no key flags")
  }

  test("an image key outside the relation's columns falls back to a sorted map") {
    val ev = WalFiles.WalEvent(graft.cdc.Checkpoint(9L, 1), 0L,
      PgOutput.Change("UPDATE", acct,
        Some(Map("zz" -> id(1), "bal" -> i4(2), "id" -> id(3))),
        Some(Map("id" -> id(3)))))
    val rows = new PgWalRows
    assert(unsafeBytes(rows.toRow(ev)) == unsafeBytes(oracleRow(ev)))
    // the relation's parts are cached: the next row still matches
    val ev2 = ev.copy(change = ev.change.copy(newTuple = Some(Map("bal" -> i4(4)))))
    assert(unsafeBytes(rows.toRow(ev2)) == unsafeBytes(oracleRow(ev2)))
  }
}
