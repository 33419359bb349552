package perfbench

import java.time.Instant

import scala.collection.mutable

import graft.cdc.Checkpoint
import graft.codec.{PgOutput, PgType}

/** One column of a captured table: its wire type, the replica's SQL
  * type, and how the generator draws values for it. */
final case class Col(name: String, oid: Int, sqlType: String,
    key: Boolean = false, nullable: Boolean = false, toast: Boolean = false)

/** One captured table, as the primary declares it on the wire and as the
  * replica creates it. */
final case class Table(relId: Int, name: String, cols: IndexedSeq[Col]) {
  val rel: PgOutput.Relation = PgOutput.Relation(relId, "public", name, 'd',
    cols.map(c => PgOutput.Column(c.name, c.oid, c.key)))
  def ddl: String = cols.map { c =>
    "\"" + c.name + "\" " + c.sqlType + (if (c.key) " not null primary key" else "")
  }.mkString(s"""create table "public"."$name" (""", ", ", ")")
}

object Tables {
  import PgType._
  val accounts = Table(1, "accounts", IndexedSeq(
    Col("id", Int8, "bigint", key = true),
    Col("owner", Text, "varchar(64)"),
    Col("balance", Numeric, "decimal(14,2)"),
    Col("status", Text, "varchar(16)"),
    Col("note", Text, "varchar(4000)", nullable = true, toast = true),
    Col("opened_at", Timestamp, "timestamp"),
    Col("updated_at", Timestamp, "timestamp", nullable = true),
    Col("score", Float8, "double", nullable = true),
    Col("flags", Int4, "integer", nullable = true)))
  val orders = Table(2, "orders", IndexedSeq(
    Col("id", Int8, "bigint", key = true),
    Col("account_id", Int8, "bigint"),
    Col("amount", Numeric, "decimal(14,2)"),
    Col("currency", Text, "varchar(3)"),
    Col("memo", Text, "varchar(1000)", nullable = true),
    Col("created_at", Timestamp, "timestamp"),
    Col("qty", Int4, "integer")))
  val events = Table(3, "events", IndexedSeq(
    Col("id", Int8, "bigint", key = true),
    Col("kind", Text, "varchar(32)"),
    Col("payload", Text, "varchar(4000)", nullable = true, toast = true),
    Col("at", Timestamp, "timestamp"),
    Col("n", Int4, "integer")))
  val sessions = Table(4, "sessions", IndexedSeq(
    Col("id", Int8, "bigint", key = true),
    Col("user_name", Text, "varchar(64)"),
    Col("started_at", Timestamp, "timestamp")))
  val all: Seq[Table] = Seq(accounts, orders, events, sessions)
}

/** One row change of a source transaction. */
sealed trait Op
final case class Ins(t: Table, row: IndexedSeq[Any]) extends Op
/** `row` is the full new image; `toastKept` names the columns sent as
  * unchanged TOAST, which the replica must leave as they were. */
final case class Upd(t: Table, row: IndexedSeq[Any], toastKept: Set[Int]) extends Op
final case class Del(t: Table, id: Long) extends Op
final case class Trunc(t: Table) extends Op
final case class Msg(content: String) extends Op

/** One source transaction. Every op is one change row, so the
  * transaction's last change sits at checkpoint (lsn, ops.size). */
final case class Tx(lsn: Long, commitUs: Long, ops: IndexedSeq[Op]) {
  def last: Checkpoint = Checkpoint(lsn, ops.size)
}

/** The generator's model of the replica: the table contents a correct
  * apply of the transactions generated so far must produce. It is the
  * generator's own bookkeeping and shares no code with the apply path. */
final class Model {
  val rows: Map[String, mutable.LinkedHashMap[Long, IndexedSeq[Any]]] =
    Tables.all.map(_.name -> mutable.LinkedHashMap.empty[Long, IndexedSeq[Any]]).toMap
  private val live: Map[String, mutable.ArrayBuffer[Long]] =
    Tables.all.map(_.name -> mutable.ArrayBuffer.empty[Long]).toMap

  def apply(op: Op): Unit = op match {
    case Ins(t, row) =>
      val id = row(0).asInstanceOf[Long]
      rows(t.name)(id) = row
      live(t.name) += id
    case Upd(t, row, _) => rows(t.name)(row(0).asInstanceOf[Long]) = row
    case Del(t, id) =>
      rows(t.name).remove(id)
      val ids = live(t.name)
      val i = ids.indexOf(id)
      ids(i) = ids.last
      ids.dropRightInPlace(1)
    case Trunc(t) => rows(t.name).clear(); live(t.name).clear()
    case Msg(_) => ()
  }

  def size(t: Table): Int = live(t.name).size
  /** A live key, skewed towards the front of the live list (hot keys). */
  def pick(t: Table, rnd: java.util.SplittableRandom): Long = {
    val ids = live(t.name)
    val u = rnd.nextDouble()
    ids((u * u * ids.size).toInt)
  }
}

/** Seeded change-feed generator. The same seed gives the same
  * transactions, and so byte-identical WAL segments. */
final class FeedGen(seed: Long) {
  private val rnd = new java.util.SplittableRandom(seed)
  val model = new Model
  private val nextId = mutable.Map.empty[String, Long].withDefaultValue(1L)
  private var lsn = 0x16000000L
  // commit timestamps start at 2024-01-01T00:00:00Z
  private val epochUs = 1704067200000000L

  private val words = ("replica stream commit apply batch value order " +
    "account ledger window delta merge snapshot offset schema éclair 数据").split(' ')
  private def text(minWords: Int, maxWords: Int): String = {
    val n = minWords + rnd.nextInt(maxWords - minWords + 1)
    (0 until n).map(_ => words(rnd.nextInt(words.length))).mkString(" ")
  }
  private def ts(): Instant =
    Instant.ofEpochSecond(1600000000L + rnd.nextInt(100000000),
      rnd.nextInt(1000000) * 1000L)
  private def money(max: Int): java.math.BigDecimal =
    java.math.BigDecimal.valueOf(rnd.nextLong(max * 100L) - max * 10L, 2)

  private def value(c: Col): Any =
    if (c.nullable && rnd.nextInt(10) == 0) null
    else c.name match {
      case "owner" | "user_name" => text(1, 3)
      case "status" => Seq("open", "frozen", "closed")(rnd.nextInt(3))
      case "note" => text(20, 80)
      case "payload" => text(30, 90)
      case "memo" => text(3, 12)
      case "currency" => Seq("EUR", "USD", "JPY")(rnd.nextInt(3))
      case "kind" => Seq("login", "view", "pay", "error")(rnd.nextInt(4))
      case "account_id" => rnd.nextLong(1000000L)
      case _ => c.oid match {
        case PgType.Numeric => money(100000)
        case PgType.Timestamp => ts()
        case PgType.Float8 => rnd.nextInt(1000000) / 1000.0
        case PgType.Int4 => rnd.nextInt(1000)
      }
    }

  private def insert(t: Table): Ins = {
    val id = nextId(t.name)
    nextId(t.name) = id + 1
    Ins(t, t.cols.map(c => if (c.key) id else value(c)))
  }
  /** Change one to three non-key columns of a live row; the other
    * TOAST-able columns ride as unchanged TOAST half of the time. */
  private def update(t: Table): Upd = {
    val old = model.rows(t.name)(model.pick(t, rnd))
    val changed = Set.fill(1 + rnd.nextInt(3))(1 + rnd.nextInt(t.cols.size - 1))
    val row = t.cols.indices.map(i => if (changed(i)) value(t.cols(i)) else old(i))
    val kept = t.cols.indices
      .filter(i => t.cols(i).toast && !changed(i) && rnd.nextBoolean()).toSet
    Upd(t, row, kept)
  }

  private def tx(ops: IndexedSeq[Op], dueUs: Long): Tx = {
    lsn += 0x1000
    Tx(lsn, epochUs + dueUs, ops)
  }
  private def applied(op: Op): Op = { model(op); op }

  /** A catch-up backlog of about `changes` changes: long same-table
    * insert runs, then a tail of UPDATE/DELETE transactions over the
    * inserted rows. The shape (tables, run lengths, transaction sizes)
    * is the same for every seed, so seeds differ only in the values and
    * in which rows the tail touches. */
  def backlog(changes: Int): IndexedSeq[Tx] = {
    val out = mutable.ArrayBuffer.empty[Tx]
    var n = 0
    val rotation = IndexedSeq(Tables.accounts, Tables.orders, Tables.accounts,
      Tables.events, Tables.orders)
    // streaks of ten 250-row transactions per table: the applier joins
    // each streak into 2,500-row multi-VALUES inserts
    while (n < changes * 9 / 10) {
      val t = rotation(out.size / 10 % rotation.size)
      out += tx(IndexedSeq.fill(250)(applied(insert(t))), n)
      n += 250
    }
    while (n < changes) {
      val ops = IndexedSeq.fill(1 + out.size % 20) {
        val live = rotation.filter(model.size(_) > 1)
        val t = live(rnd.nextInt(live.size))
        applied(if (rnd.nextInt(10) < 7) update(t) else Del(t, model.pick(t, rnd)))
      }
      out += tx(ops, n)
      n += ops.size
    }
    out.toIndexedSeq
  }

  /** Initial rows of the OLTP tables, in 500-row insert transactions. */
  def prefill(perTable: Int): IndexedSeq[Tx] =
    Tables.all.flatMap { t =>
      (0 until perTable).grouped(500).map(g =>
        tx(g.map(_ => applied(insert(t))).toIndexedSeq, 0L))
    }.toIndexedSeq

  /** One small OLTP transaction (1-5 changes) due at `dueUs`: mostly
    * UPDATE/DELETE on hot keys, some INSERT, and rarely a TRUNCATE of
    * the sessions table or a logical-decoding message. */
  def oltp(dueUs: Long): Tx = {
    val tables = Seq(Tables.accounts, Tables.accounts, Tables.orders,
      Tables.orders, Tables.events, Tables.sessions)
    val ops = IndexedSeq.fill(1 + rnd.nextInt(5)) {
      val r = rnd.nextInt(10000)
      val t = tables(rnd.nextInt(tables.size))
      applied(
        if (r < 3) Trunc(Tables.sessions)
        else if (r < 40) Msg(text(2, 6))
        else if (r < 2000 || model.size(t) < 10) insert(t)
        else if (r < 4000) Del(t, model.pick(t, rnd))
        else update(t))
    }
    tx(ops, dueUs)
  }
}

/** Wire encoding of generated transactions into WAL segments. */
object Wire {
  private def datums(t: Table, row: IndexedSeq[Any], toastKept: Set[Int] = Set.empty) =
    t.cols.indices.map { i =>
      if (toastKept(i)) PgOutput.Encoder.Toast
      else PgType.encode(t.cols(i).oid, row(i))
    }

  def frames(tx: Tx): Seq[Array[Byte]] = {
    val body = tx.ops.map {
      case Ins(t, row) => PgOutput.Encoder.insert(t.rel, datums(t, row))
      case Upd(t, row, kept) =>
        PgOutput.Encoder.update(t.rel, None, datums(t, row, kept))
      case Del(t, id) =>
        PgOutput.Encoder.delete(t.rel,
          t.cols.map(c => if (c.key) PgType.encode(c.oid, id) else null))
      case Trunc(t) => PgOutput.Encoder.truncate(Seq(t.relId))
      case Msg(content) =>
        PgOutput.Encoder.message(transactional = true, tx.lsn, "perfbench",
          content.getBytes("UTF-8"))
    }
    val commitUs = tx.commitUs - PgType.PgEpochMicros // the wire counts from 2000-01-01
    (PgOutput.Encoder.begin(tx.lsn, commitUs, tx.lsn.toInt) +: body) :+
      PgOutput.Encoder.commit(tx.lsn, tx.lsn + 1, commitUs)
  }

  val relations: Seq[Array[Byte]] = Tables.all.map(t => PgOutput.Encoder.relation(t.rel))

  /** Write `txs` as one segment named by its first transaction's LSN. */
  def segment(dir: String, txs: Seq[Tx], withRelations: Boolean = false): Unit =
    graft.sources.WalFiles.writeSegment(dir, txs.head.lsn,
      (if (withRelations) relations else Nil) ++ txs.flatMap(frames))
}
