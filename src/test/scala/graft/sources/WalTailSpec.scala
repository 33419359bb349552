package graft.sources

import java.nio.file.Files

import graft.cdc.Checkpoint
import graft.codec.{PgOutput, PgType}
import graft.codec.PgOutput.{Column => C, Relation => R}
import org.scalatest.funsuite.AnyFunSuite

/** The incremental-tail contract (VERDICT r3 item 1): per-trigger decode
  * cost is O(newly-appeared data), never O(total feed), and admission
  * control is answered from the in-memory tx index without re-reads. */
class WalTailSpec extends AnyFunSuite {

  private val rel = R(1, "public", "t1", 'd',
    Seq(C("id", PgType.Int8, isKey = true)))

  private def tx(lsn: Long, n: Int): Seq[Array[Byte]] =
    PgOutput.Encoder.begin(lsn, lsn * 1000, lsn.toInt) +:
      (1 to n).map(i => PgOutput.Encoder.insert(rel,
        Seq(PgType.encode(PgType.Int8, lsn * 100 + i)))) :+
      PgOutput.Encoder.commit(lsn, lsn, lsn * 1000)

  test("advance decodes each segment exactly once — O(new data) per call") {
    val dir = Files.createTempDirectory("tail").toString
    // segment 1: rel + tx of 3 changes = 1 + 5 frames
    WalFiles.writeSegment(dir, 100L,
      PgOutput.Encoder.relation(rel) +: tx(100L, 3))
    val tail = new WalTail(dir)
    assert(tail.last() == Checkpoint(100L, 3))
    val afterFirst = tail.framesScanned
    assert(afterFirst == 6)

    // repeated polls with no new WAL decode nothing
    (1 to 5).foreach(_ => assert(tail.last() == Checkpoint(100L, 3)))
    assert(tail.framesScanned == afterFirst)

    // a new segment costs only its own frames
    WalFiles.writeSegment(dir, 101L, tx(101L, 2)) // 4 frames
    assert(tail.last() == Checkpoint(101L, 2))
    assert(tail.framesScanned == afterFirst + 4)

    // and again: still no re-decode of old segments
    (1 to 5).foreach(_ => tail.last())
    assert(tail.framesScanned == afterFirst + 4)
  }

  test("fresh tail seeds relations from the sidecar catalog (post-truncation driver)") {
    val dir = Files.createTempDirectory("tailC").toString
    // the catalog holds the ONLY Relation declaration (its declaring
    // segment was truncated away); the segment carries just the tx
    val w = new graft.codec.BytesWriter()
    val rFrame = PgOutput.Encoder.relation(rel)
    w.int32(rFrame.length).raw(rFrame)
    Files.write(WalFiles.relationsPath(dir.toString).normalize, w.result())
    WalFiles.writeSegment(dir, 600L, tx(600L, 2))
    val tail = new WalTail(dir)
    assert(tail.last() == Checkpoint(600L, 2),
      "driver tail must decode rows of catalog-only relations")
  }

  test("untracked tail (no admission cap) answers bounded() with the feed end") {
    val dir = Files.createTempDirectory("tailU").toString
    WalFiles.writeSegment(dir, 500L,
      PgOutput.Encoder.relation(rel) +: (tx(500L, 2) ++ tx(501L, 1)))
    val tail = new WalTail(dir, trackTx = false)
    // no tx index → no admission control, but never a stall: the whole
    // available feed is the batch
    assert(tail.bounded(Checkpoint.Zero, 1) == Checkpoint(501L, 1))
  }

  test("out-of-order segment appearance resets the tail, offsets stay monotone") {
    val dir = Files.createTempDirectory("tailO").toString
    WalFiles.writeSegment(dir, 200L,
      PgOutput.Encoder.relation(rel) +: tx(200L, 2))
    val tail = new WalTail(dir)
    assert(tail.last() == Checkpoint(200L, 2))
    // a straggler lands BELOW the consumed high-water mark (slow
    // concurrent producer): silently decoding it after segment 200
    // would feed the decoder out of order and regress the checkpoint
    WalFiles.writeSegment(dir, 150L,
      PgOutput.Encoder.relation(rel) +: tx(150L, 1))
    assert(tail.last() == Checkpoint(200L, 2),
      "latestOffset must never go backwards (Spark monotone-offset contract)")
    assert(tail.resets == 1, "low segment must force a state reset")
    // the tx index was rebuilt in feed order: the straggler batches first
    assert(tail.bounded(Checkpoint.Zero, 1) == Checkpoint(150L, 1))
    assert(tail.bounded(Checkpoint(150L, 1), 2) == Checkpoint(200L, 2))
  }

  // the rows a partition delivers: (lsn, seq, id)
  private def drain(p: PgWalPartition): Seq[(Long, Int, Long)] = {
    val r = new PgWalPartitionReader(p)
    val out = Seq.newBuilder[(Long, Int, Long)]
    while (r.next()) {
      val row = r.get()
      val m = row.getMap(3)
      val i = m.keyArray().array.indexWhere(_.toString == "id")
      out += ((row.getLong(6), row.getInt(7), PgType.decode(PgType.Int8,
        m.valueArray().getBinary(i)).asInstanceOf[Long]))
    }
    out.result()
  }

  // a segment that throws if anything decodes it: a row of a relation
  // no frame declares
  private def poison(dir: String, lsn: Long): Unit =
    WalFiles.writeSegment(dir, lsn, Seq(PgOutput.Encoder.insert(
      rel.copy(relId = 99), Seq(PgType.encode(PgType.Int8, 0L)))))

  test("a partition reads its own segments only: the plan carries the relations") {
    val dir = Files.createTempDirectory("tailA").toString
    // the relation is declared only in segment 1; the batch is tx 301
    WalFiles.writeSegment(dir, 300L,
      PgOutput.Encoder.relation(rel) +: tx(300L, 1))
    WalFiles.writeSegment(dir, 301L, tx(301L, 2))
    val tail = new WalTail(dir)
    val from = Checkpoint(300L, 1)
    val to = tail.last()
    val (plan, following) = tail.span(from, to)
    assert(plan.path.endsWith(WalFiles.segmentName(301L)) && following.isEmpty)
    // nothing of the feed but the partition's own segment is left, and a
    // segment that no plan names would throw if a reader found it
    Files.delete(java.nio.file.Paths.get(dir, WalFiles.segmentName(300L)))
    poison(dir, 302L)
    assert(drain(PgWalPartition(plan, following, from, to, None, "pgoutput")) ==
      Seq((301L, 1, 30101L), (301L, 2, 30102L)))
  }

  test("planning and the partition stay O(new data) after 100 and 10,000 segments") {
    // per history size: (partition paths, frames the planning trigger
    // scans, rows read)
    def probe(prior: Int): (Int, Long, Seq[(Long, Int, Long)]) = {
      val dir = Files.createTempDirectory("tailN").toString
      WalFiles.writeSegment(dir, 1L, PgOutput.Encoder.relation(rel) +: tx(1L, 1))
      (2 to prior).foreach(i => WalFiles.writeSegment(dir, i.toLong, tx(i.toLong, 1)))
      val tail = new WalTail(dir)
      val from = tail.last()
      tail.commit(from) // all history dispatched
      val scanned0 = tail.framesScanned
      val lsn = prior + 1L
      WalFiles.writeSegment(dir, lsn, tx(lsn, 3))
      val to = tail.last() // the trigger that plans the batch
      val (plan, following) = tail.span(from, to)
      poison(dir, lsn + 1)
      (1 + following.size, tail.framesScanned - scanned0,
        drain(PgWalPartition(plan, following, from, to, None, "pgoutput")))
    }
    val (paths100, scanned100, rows100) = probe(100)
    val (paths10k, scanned10k, rows10k) = probe(10000)
    assert(paths100 == 1 && paths10k == 1)
    assert(scanned100 == 5 && scanned10k == 5, "one Begin, 3 rows, one Commit")
    assert(rows100.map(_._3) == Seq(10101L, 10102L, 10103L))
    assert(rows10k.map(_._3) == Seq(1000101L, 1000102L, 1000103L))
  }

  test("commit prunes the plans behind the batch start, and stragglers there are ignored") {
    val dir = Files.createTempDirectory("tailK").toString
    WalFiles.writeSegment(dir, 700L,
      PgOutput.Encoder.relation(rel) +: tx(700L, 1))
    WalFiles.writeSegment(dir, 702L, tx(702L, 1))
    val tail = new WalTail(dir)
    assert(tail.last() == Checkpoint(702L, 1))
    tail.commit(Checkpoint(702L, 1))
    // a segment behind the committed offset can never be delivered: it
    // neither resets the tail nor moves its offsets
    WalFiles.writeSegment(dir, 701L, tx(701L, 1))
    WalFiles.writeSegment(dir, 703L, tx(703L, 2))
    assert(tail.last() == Checkpoint(703L, 2))
    assert(tail.resets == 0)
    val (plan, following) = tail.span(Checkpoint(702L, 1), Checkpoint(703L, 2))
    assert(plan.path.endsWith(WalFiles.segmentName(703L)) && following.isEmpty)
    assert(plan.relations.size == 1, "the relation rides in the plan")
  }

  test("bounded places batch ends on commit boundaries from the tx index") {
    val dir = Files.createTempDirectory("tailB").toString
    // txs of sizes 1, 3, 1, 1 — the CdcSourceSpec rate-limit fixture
    WalFiles.writeSegment(dir, 400L,
      PgOutput.Encoder.relation(rel) +:
        (tx(400L, 1) ++ tx(401L, 3) ++ tx(402L, 1) ++ tx(403L, 1)))
    val tail = new WalTail(dir)
    // limit 2: tx400 (1 taken) then tx401 entered and finished (no split)
    assert(tail.bounded(Checkpoint.Zero, 2) == Checkpoint(401L, 3))
    val decoded = tail.framesScanned
    // next batch: tx402 + tx403 — answered from the index, no re-decode
    assert(tail.bounded(Checkpoint(401L, 3), 2) == Checkpoint(403L, 1))
    assert(tail.framesScanned == decoded)
    // mid-tx start: the remaining 2 changes of tx401 fill the cap
    val tail2 = new WalTail(dir)
    assert(tail2.bounded(Checkpoint(401L, 1), 2) == Checkpoint(401L, 3))
    // beyond the feed: returns from unchanged
    assert(tail2.bounded(Checkpoint(500L, 0), 2) == Checkpoint(500L, 0))
  }
}
