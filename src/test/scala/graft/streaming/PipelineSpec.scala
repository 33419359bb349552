package graft.streaming

import java.nio.file.Files

import graft.SparkTestSession
import graft.cdc.{Checkpoint, SchemaRegistry}
import graft.codec.{PgOutput, PgType}
import graft.codec.PgOutput.{Column => C, Relation => R}
import org.scalatest.funsuite.AnyFunSuite

/** The full capture→apply pipeline (A37): WAL feed → DSv2 source →
  * foreachBatch → transactional store, with restart-resume and INSERT
  * batching — the Spark rendition of `sourceToSink`
  * (reference cmd/root.go:46-79). */
class PipelineSpec extends AnyFunSuite {

  private val rel = R(1, "public", "accounts", 'd', Seq(
    C("id", PgType.Int8, isKey = true), C("bal", PgType.Int4, isKey = false)))

  private def tx(lsn: Long, msgs: Array[Byte]*): Seq[Array[Byte]] =
    PgOutput.Encoder.begin(lsn, lsn * 1000, lsn.toInt) +:
      msgs.toSeq :+ PgOutput.Encoder.commit(lsn, lsn, lsn * 1000)
  private def ins(id: Long, bal: Int) = PgOutput.Encoder.insert(rel,
    Seq(PgType.encode(PgType.Int8, id), PgType.encode(PgType.Int4, bal)))
  private def upd(id: Long, bal: Int) = PgOutput.Encoder.update(rel, None,
    Seq(PgType.encode(PgType.Int8, id), PgType.encode(PgType.Int4, bal)))
  private def del(id: Long) = PgOutput.Encoder.delete(rel,
    Seq(PgType.encode(PgType.Int8, id), null))

  test("WAL feed → source → applier store, restart resumes exactly-once") {
    val walDir = Files.createTempDirectory("pwal").toString
    val ckDir = Files.createTempDirectory("pck").toString
    val spark = SparkTestSession.spark
    val store = new InMemoryTxStore
    // no key resolver passed anywhere in this test: the pipeline is
    // self-describing — key columns ride the envelope's `keys` column
    // straight from the wire's Relation messages

    // 3 txs: batched inserts, an update, a delete
    graft.sources.WalFiles.writeSegment(walDir, 10L,
      PgOutput.Encoder.relation(rel) +: (
        tx(10L, ins(1, 100), ins(2, 200), ins(3, 300)) ++
          tx(11L, upd(2, 250)) ++ tx(12L, del(3))))

    val q1 = CdcPipeline.start(spark, walDir, ckDir, store, "acct")
    q1.awaitTermination(60000)
    assert(store.rows("public.accounts").map(r => (r("id"), r("bal"))).toSet ==
      Set((1L, 100), (2L, 250)))
    assert(store.readWatermark("acct").contains(Checkpoint(12, 1)))
    assert(store.insertBatchSizes.contains(3),
      s"consecutive inserts batch (A17): ${store.insertBatchSizes}")

    // restart with new WAL appended: only the new tx applies
    graft.sources.WalFiles.writeSegment(walDir, 13L, tx(13L, ins(4, 400)))
    val commitsBefore = store.commits
    val q2 = CdcPipeline.start(spark, walDir, ckDir, store, "acct")
    q2.awaitTermination(60000)
    assert(store.rows("public.accounts").map(_("id")).toSet == Set(1L, 2L, 4L))
    assert(store.commits == commitsBefore + 1, "one store tx for the new slice")
    assert(store.readWatermark("acct").contains(Checkpoint(13, 1)))

    // replay the whole feed against the same store with a FRESH
    // checkpoint dir: the store-level watermark alone dedups (A12)
    val q3 = CdcPipeline.start(spark, walDir,
      Files.createTempDirectory("pck2").toString, store, "acct")
    q3.awaitTermination(60000)
    assert(store.rows("public.accounts").map(r => (r("id"), r("bal"))).toSet ==
      Set((1L, 100), (2L, 250), (4L, 400)))
  }

  test("end-to-end TRUNCATE: wire 'T' → source control row → applier " +
    "clears in-tx, later inserts survive (r14 ask #1)") {
    val walDir = Files.createTempDirectory("ptrunc").toString
    val ckDir = Files.createTempDirectory("ptck").toString
    val spark = SparkTestSession.spark
    val store = new InMemoryTxStore
    val applied0 = CdcApplier.truncatesApplied.get()
    graft.sources.WalFiles.writeSegment(walDir, 10L,
      PgOutput.Encoder.relation(rel) +: (
        tx(10L, ins(1, 100), ins(2, 200)) ++
          tx(11L, PgOutput.Encoder.truncate(Seq(rel.relId))) ++
          tx(12L, ins(3, 300))))
    val q = CdcPipeline.start(spark, walDir, ckDir, store, "tr")
    q.awaitTermination(60000)
    assert(store.rows("public.accounts").map(r => (r("id"), r("bal"))) ==
      Seq((3L, 300)), "pre-truncate rows cleared, post-truncate insert lands")
    assert(store.truncations == 1)
    assert(store.readWatermark("tr").contains(Checkpoint(12, 1)))
    // the applied-truncates gauge moved with the store clear
    assert(CdcApplier.truncatesApplied.get() == applied0 + 1)
    // replay from a fresh checkpoint: the watermark suppresses the
    // redelivered truncate — the surviving row is NOT re-cleared
    val q2 = CdcPipeline.start(spark, walDir,
      Files.createTempDirectory("ptck2").toString, store, "tr")
    q2.awaitTermination(60000)
    assert(store.rows("public.accounts").map(_("id")) == Seq(3L))
    assert(store.truncations == 1, "replayed truncate is a no-op (A12)")
  }

  test("observed metrics reach a StreamingQueryListener (A38 lag gauge)") {
    val walDir = Files.createTempDirectory("pmet").toString
    val ckDir = Files.createTempDirectory("pmetck").toString
    val spark = SparkTestSession.spark
    val store = new InMemoryTxStore
    graft.sources.WalFiles.writeSegment(walDir, 20L,
      PgOutput.Encoder.relation(rel) +:
        (tx(20L, ins(1, 100), ins(2, 200)) ++ tx(21L, upd(2, 250))))

    val listener = new GraftMetricsListener
    spark.streams.addListener(listener)
    try {
      val q = CdcPipeline.start(spark, walDir, ckDir, store, "met")
      q.awaitTermination(60000)
      // listener events are delivered asynchronously — poll briefly
      val deadline = System.currentTimeMillis() + 30000
      while (listener.changesApplied < 3 &&
        System.currentTimeMillis() < deadline) Thread.sleep(100)
      assert(listener.changesApplied == 3, "3 changes observed through progress")
      assert(listener.lastLsn == 21L)
      assert(listener.batchesObserved >= 1)
      // commit_ts of tx 21 drives the gauge: lag is defined and moves
      // with the wall clock, never negative
      assert(listener.replicationLag.lagMillis().exists(_ >= 0L),
        "lag gauge must be defined after the first applied batch")
    } finally spark.streams.removeListener(listener)
  }

  test("wal → bus → applier: both legs compose, exactly-once end to end") {
    val walDir = Files.createTempDirectory("pbwal").toString
    val busDir = Files.createTempDirectory("pbus").toString
    val spark = SparkTestSession.spark
    graft.sources.WalFiles.writeSegment(walDir, 30L,
      PgOutput.Encoder.relation(rel) +:
        (tx(30L, ins(1, 10), ins(2, 20)) ++ tx(31L, upd(1, 11))))

    // leg 1 (pg2pulsar): capture → bus
    val q1 = CdcPipeline.startBusLeg(spark, walDir,
      Files.createTempDirectory("pbck1").toString, busDir)
    q1.awaitTermination(60000)
    assert(Bus.last(busDir).contains(Checkpoint(31, 1)))
    // re-running the leg from a FRESH checkpoint redelivers everything;
    // the producer watermark dedups (A12)
    val q2 = CdcPipeline.startBusLeg(spark, walDir,
      Files.createTempDirectory("pbck2").toString, busDir)
    q2.awaitTermination(60000)
    assert(Bus.consume(busDir).size == 3, "no duplicates on the bus")

    // leg 2 (pulsar2pg): bus → transactional store
    val store = new InMemoryTxStore
    val registry = new SchemaRegistry
    registry.update(rel)
    CdcApplier.applyBatch(store, "bus", Bus.consume(busDir),
      registry.keyColumns(_, _))
    assert(store.rows("public.accounts").map(r => (r("id"), r("bal"))).toSet ==
      Set((1L, 11), (2L, 20)))
  }

  test("mid-batch replica-identity change: each row applies with its own keys") {
    val walDir = Files.createTempDirectory("prid").toString
    val ckDir = Files.createTempDirectory("pridck").toString
    val spark = SparkTestSession.spark
    val store = new InMemoryTxStore
    // same table, replident flips mid-feed from the id PK to a unique
    // index on bal ('i'); everything lands in ONE micro-batch
    val relBalKey = R(1, "public", "accounts", 'i', Seq(
      C("id", PgType.Int8, isKey = false), C("bal", PgType.Int4, isKey = true)))
    def updOf(r: R, id: Long, bal: Int) = PgOutput.Encoder.update(r, None,
      Seq(PgType.encode(PgType.Int8, id), PgType.encode(PgType.Int4, bal)))
    graft.sources.WalFiles.writeSegment(walDir, 40L,
      (PgOutput.Encoder.relation(rel) +:
        (tx(40L, ins(1, 100), ins(2, 200)) ++
          // keyless UPDATE under key=id: WHERE id=1 SET bal=150
          tx(41L, updOf(rel, 1, 150)))) ++
        (PgOutput.Encoder.relation(relBalKey) +:
          // keyless UPDATE under key=bal: WHERE bal=200 SET id=9
          tx(42L, updOf(relBalKey, 9, 200))))
    val q = CdcPipeline.start(spark, walDir, ckDir, store, "rid")
    q.awaitTermination(60000)
    // with batch-level last-Relation-wins keys, the FIRST update would
    // have resolved WHERE bal=150 (matching nothing); per-row envelope
    // keys make it WHERE id=1
    assert(store.rows("public.accounts").map(r => (r("id"), r("bal"))).toSet ==
      Set((1L, 150), (9L, 200)))
  }

  test("single-writer lock excludes a second applier (A22)") {
    val dir = Files.createTempDirectory("lock").toString
    val a = new SingleWriterLock(dir, "target")
    val b = new SingleWriterLock(dir, "target")
    assert(a.tryAcquire())
    assert(a.tryAcquire(), "re-acquire by holder is idempotent")
    // same JVM: OverlappingFileLockException means "already locked" too
    val bGot = try b.tryAcquire() catch {
      case _: java.nio.channels.OverlappingFileLockException => false
    }
    assert(!bGot, "second writer must be rejected")
    a.release()
    assert(b.tryAcquire())
    b.release()
  }
}
