package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.cdc.Checkpoint
import graft.sql.JdbcTxStore
import graft.streaming.CdcPipeline

/** The feed generator is deterministic, its model is what the program's
  * pipeline produces, and the replica check rejects a replica that
  * differs from the model in one row or in its watermark. */
class CheckerSpec extends AnyFunSuite {
  private lazy val spark = Main.session(2, Files.createTempDirectory("perfbench").toString)

  private def segments(dir: String): Seq[(String, Seq[Byte])] =
    Files.list(Path.of(dir)).iterator().asScala.toSeq.sortBy(_.toString)
      .map(p => p.getFileName.toString -> Files.readAllBytes(p).toSeq)

  /** A small feed that has every op kind: insert runs, updates with
    * unchanged TOAST and NULLs, deletes, truncates and messages. */
  private def feed(seed: Long): (String, FeedGen, Seq[Tx]) = {
    val gen = new FeedGen(seed)
    val txs = gen.backlog(3000) ++ gen.prefill(50) ++ (1 to 3000).map(i => gen.oltp(i))
    val dir = Files.createTempDirectory("perfbench-wal").toString
    Cdc.writeBacklog(dir, txs)
    (dir, gen, txs)
  }

  test("the same seed gives byte-identical segments; another seed does not") {
    val a = segments(feed(11)._1)
    assert(a.size > 1)
    assert(segments(feed(11)._1) == a)
    assert(segments(feed(12)._1) != a)
  }

  test("the feed's ops cover every kind the model applies") {
    val ops = feed(11)._3.flatMap(_.ops)
    assert(ops.exists(_.isInstanceOf[Ins]) && ops.exists(_.isInstanceOf[Del]))
    assert(ops.exists(_.isInstanceOf[Trunc]) && ops.exists(_.isInstanceOf[Msg]))
    assert(ops.exists { case Upd(_, _, kept) => kept.nonEmpty; case _ => false })
    assert(ops.exists { case Upd(_, row, _) => row.contains(null); case _ => false })
  }

  /** Apply the feed through the program's pipeline into a fresh replica. */
  private def applied(): (java.sql.Connection, FeedGen, Seq[Tx]) = {
    val (wal, gen, txs) = feed(21)
    val url = Replica.create()
    val store = new JdbcTxStore(java.sql.DriverManager.getConnection(url))
    val q = CdcPipeline.start(spark, wal,
      Files.createTempDirectory("perfbench-ck").toString, store, Cdc.SourceId,
      trigger = Trigger.AvailableNow())
    q.awaitTermination()
    val reader = java.sql.DriverManager.getConnection(url)
    reader.setAutoCommit(false)
    (reader, gen, txs)
  }

  test("a feed applied through CdcPipeline.start into Derby matches the model") {
    val (reader, gen, txs) = applied()
    assert(gen.model.rows.values.map(_.size).sum > 100)
    assert(Replica.diff(reader, gen.model, Cdc.SourceId, txs.last.last) == Nil)
  }

  test("a corrupted, missing or extra replica row and a wrong watermark each fail") {
    val (reader, gen, txs) = applied()
    val last = txs.last.last
    def problems(sql: String): Seq[String] = {
      val st = reader.createStatement()
      st.executeUpdate(sql)
      st.close()
      try Replica.diff(reader, gen.model, Cdc.SourceId, last)
      finally reader.rollback()
    }
    val id = gen.model.rows("accounts").keys.head
    assert(problems(s"""update "public"."accounts" set "status" = 'bogus' where "id" = $id""")
      .exists(_.contains(s"accounts id=$id: status")))
    assert(problems(s"""delete from "public"."accounts" where "id" = $id""")
      .exists(_.contains("missing")))
    assert(problems("""insert into "public"."orders" ("id", "account_id", "amount",
      "currency", "created_at", "qty") values (999999999, 1, 1.00, 'EUR',
      timestamp('2024-01-01 00:00:00'), 1)""").exists(_.contains("extra row")))
    assert(problems(s"update graft_watermarks set wm_seq = ${last.seq - 1}")
      .exists(_.startsWith("watermark")))
    assert(Replica.diff(reader, gen.model, Cdc.SourceId, Checkpoint(last.lsn, last.seq + 1))
      .exists(_.startsWith("watermark")))
    assert(Replica.diff(reader, gen.model, Cdc.SourceId, last) == Nil)
  }
}
