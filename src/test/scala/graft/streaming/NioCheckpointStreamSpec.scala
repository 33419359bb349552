package graft.streaming

import java.nio.file.{Files, Path => JPath}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.SparkTestSession
import graft.cdc.Checkpoint
import graft.codec.{PgOutput, PgType}
import graft.codec.PgOutput.{Column => C, Relation => R}
import graft.sources.WalFiles
import jdk.jfr.consumer.RecordingStream
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** Streams on [[NioCheckpointFileManager]]: the stream thread forks no
  * process, and a checkpoint moves between this manager and Spark's
  * default one in either direction with exactly-once results. */
class NioCheckpointStreamSpec extends AnyFunSuite {

  private val spark = SparkTestSession.spark
  import spark.implicits._

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

  private val SparkDefault = classOf[FileContextBasedCheckpointFileManager].getName

  /** Run `body` with the session's checkpoint manager set to `cls`. */
  private def withManager[T](cls: String)(body: => T): T = {
    val key = NioCheckpointFileManager.Key
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, cls)
    try body finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  private def crcFiles(dir: String): Set[String] = {
    val all = Files.walk(java.nio.file.Paths.get(dir))
    try all.iterator().asScala.map(_.getFileName.toString)
      .filter(_.endsWith(".crc")).toSet
    finally all.close()
  }

  test("a CdcPipeline stream forks no process on its stream thread") {
    val walDir = Files.createTempDirectory("forkwal").toString
    val ckDir = Files.createTempDirectory("forkck").toString
    val store = new InMemoryTxStore
    val starts = new ConcurrentLinkedQueue[String]()
    val rs = new RecordingStream()
    rs.enable("jdk.ProcessStart")
    rs.onEvent("jdk.ProcessStart", e =>
      starts.add(Option(e.getThread("eventThread")).map(_.getJavaName).getOrElse("")))
    rs.startAsync()
    val me = Thread.currentThread().getName
    try {
      WalFiles.writeSegment(walDir, 10L, PgOutput.Encoder.relation(rel) +: tx(10L, ins(0, 0)))
      val q = CdcPipeline.start(spark, walDir, ckDir, store, "fork",
        trigger = Trigger.ProcessingTime(0))
      try {
        q.processAllAvailable()
        (11L to 15L).foreach { lsn =>
          WalFiles.writeSegment(walDir, lsn, tx(lsn, ins(lsn, lsn.toInt)))
          q.processAllAvailable()
        }
        assert(q.recentProgress.count(_.numInputRows > 0) >= 5, "at least five triggers")
      } finally q.stop()
      assert(store.readWatermark("fork").contains(Checkpoint(15, 1)))
      // the recorder's own control: a process this thread starts is seen,
      // and by then the stopped stream thread's events were delivered
      new ProcessBuilder("true").start().waitFor()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!starts.contains(me) && System.nanoTime() < deadline) Thread.sleep(50)
      assert(starts.contains(me), "the recorder sees process starts")
    } finally rs.close()
    val fromStream = starts.asScala.count(_.startsWith("stream execution thread"))
    assert(fromStream == 0, s"process starts on the stream thread: $fromStream")
  }

  test("a CdcPipeline checkpoint resumes exactly-once across managers, both ways") {
    val walDir = Files.createTempDirectory("mixwal").toString
    val ckDir = Files.createTempDirectory("mixck").toString
    val store = new InMemoryTxStore
    def leg(cls: String, lsn: Long, msg: Array[Byte]): Unit = {
      WalFiles.writeSegment(walDir, lsn,
        (if (lsn == 10L) Seq(PgOutput.Encoder.relation(rel)) else Nil) ++ tx(lsn, msg))
      val before = store.commits
      withManager(cls) {
        CdcPipeline.start(spark, walDir, ckDir, store, "mix").awaitTermination(60000)
      }
      assert(store.commits == before + 1, s"one store tx for the new slice at $lsn")
      assert(store.readWatermark("mix").contains(Checkpoint(lsn, 1)))
    }
    leg(SparkDefault, 10L, ins(1, 100))
    val crcs = crcFiles(ckDir)
    assert(crcs.contains(".0.crc"), s"Spark's default manager wrote checksums: $crcs")
    leg(NioCheckpointFileManager.ClassName, 11L, ins(2, 200))
    assert(crcFiles(ckDir) == crcs, "this manager writes no checksums")
    leg(SparkDefault, 12L, upd(1, 150))
    leg(NioCheckpointFileManager.ClassName, 13L, del(2))
    assert(store.rows("public.accounts").map(r => (r("id"), r("bal"))) ==
      Seq((1L, 150)))
  }

  test("a stateful dedup checkpoint resumes exactly-once across managers, both ways") {
    val tmp = Files.createTempDirectory("mixdedup")
    def sub(n: String): String = tmp.resolve(n).toString
    val (feedDir, ckDir, outDir) = (sub("feed"), sub("ck"), sub("out"))
    def leg(cls: String, rows: Seq[(Long, Long)]): Unit = {
      rows.toDF("event_id", "user_id").coalesce(1).write.mode("append").parquet(feedDir)
      withManager(cls) {
        val q = spark.readStream.schema(spark.read.parquet(feedDir).schema)
          .option("maxFilesPerTrigger", 1).parquet(feedDir)
          .dropDuplicates("user_id")
          .writeStream.option("checkpointLocation", ckDir)
          .foreachBatch { (b: DataFrame, id: Long) =>
            b.write.mode("overwrite").parquet(s"$outDir/batch=$id")
            ()
          }
          .start()
        try q.processAllAvailable() finally q.stop()
      }
    }
    StreamRun.withStatePartitions(spark, 2) {
      leg(SparkDefault, Seq((1L, 1L), (2L, 2L), (3L, 1L)))
      val stateCrcs = crcFiles(sub("ck/state"))
      assert(stateCrcs.exists(_.endsWith(".delta.crc")),
        s"Spark's default manager checksummed the state deltas: $stateCrcs")
      // users 2 and 1 reappear after each switch: only restored state
      // keeps them from being emitted twice
      leg(NioCheckpointFileManager.ClassName, Seq((4L, 2L), (5L, 3L)))
      leg(SparkDefault, Seq((6L, 1L), (7L, 4L)))
      leg(NioCheckpointFileManager.ClassName, Seq((8L, 3L), (9L, 5L)))
    }
    val users = spark.read.parquet(outDir).select("user_id").as[Long].collect().sorted
    assert(users.toSeq == Seq(1L, 2L, 3L, 4L, 5L))
    def rm(f: JPath): Unit = {
      if (Files.isDirectory(f)) Files.list(f).iterator().asScala.toList.foreach(rm)
      Files.deleteIfExists(f); ()
    }
    rm(tmp)
  }
}
