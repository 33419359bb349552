package graft.streaming

import java.nio.file.Files
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import graft.SparkTestSession
import graft.codec.{PgOutput, PgType}
import graft.codec.PgOutput.{Column => C, Relation => R}
import graft.sources.{WalFiles, WalTail}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** The work of one pipeline trigger, pinned by counts rather than
  * timings: one Spark job per trigger with data, no `Dataset` action
  * inside the `foreachBatch` body, and one feed listing per trigger. */
class TriggerWorkSpec extends AnyFunSuite {

  private val rel = R(1, "public", "accounts", 'd', Seq(
    C("id", PgType.Int8, isKey = true), C("bal", PgType.Int4, isKey = false)))

  private def tx(lsn: Long): Seq[Array[Byte]] = Seq(
    PgOutput.Encoder.begin(lsn, lsn * 1000, lsn.toInt),
    PgOutput.Encoder.insert(rel,
      Seq(PgType.encode(PgType.Int8, lsn), PgType.encode(PgType.Int4, 1))),
    PgOutput.Encoder.commit(lsn, lsn, lsn * 1000))

  /** Jobs by (query id, batch id), and the names of the `Dataset`
    * actions reported, from `body` on; drained through a sentinel
    * action so that every event `body` caused has been delivered. */
  private def observed(spark: SparkSession)(body: => Unit)
      : (Seq[(String, Long)], Seq[String]) = {
    val sentinel = "trigger-work-sentinel"
    val jobs = new ConcurrentLinkedQueue[(String, Long)]
    val actions = new ConcurrentLinkedQueue[String]
    val drained = new CountDownLatch(1)
    val jobListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).foreach { p =>
          Option(p.getProperty("sql.streaming.queryId")).foreach { q =>
            jobs.add(q -> p.getProperty("streaming.sql.batchId").toLong)
          }
        }
    }
    val actionListener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (qe.analyzed.output.exists(_.name == sentinel)) drained.countDown()
        else actions.add(f)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        actions.add(f)
    }
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(actionListener)
    try {
      body
      // both listeners sit on the shared queue, which delivers in order
      spark.range(1).toDF(sentinel).collect()
      assert(drained.await(30, TimeUnit.SECONDS), "listener queue drained")
    } finally {
      spark.listenerManager.unregister(actionListener)
      spark.sparkContext.removeSparkListener(jobListener)
    }
    (jobs.asScala.toSeq, actions.asScala.toSeq)
  }

  /** Run `q` until `n` triggers have carried data, each followed by a
    * few empty triggers, then stop it. The first trigger runs before the
    * first append. */
  private def runTriggers(q: StreamingQuery, n: Int)(append: Int => Unit): Unit =
    try {
      val deadline = System.currentTimeMillis() + 60000
      while (q.recentProgress.isEmpty && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      (1 to n).foreach { i =>
        append(i)
        val deadline = System.currentTimeMillis() + 60000
        while (q.recentProgress.count(_.numInputRows > 0) < i &&
          System.currentTimeMillis() < deadline) Thread.sleep(20)
        assert(q.recentProgress.count(_.numInputRows > 0) == i, s"trigger $i carried data")
        Thread.sleep(250)
      }
    } finally q.stop()

  test("a ProcessingTime trigger with data runs one job, no collect action, " +
    "and every trigger lists the feed once") {
    val spark = SparkTestSession.spark
    val walDir = Files.createTempDirectory("twork").toString
    val store = new InMemoryTxStore
    WalFiles.writeSegment(walDir, 10L, Seq(PgOutput.Encoder.relation(rel)))
    // every trigger, empty ones too, reports a progress event
    val key = "spark.sql.streaming.noDataProgressEventInterval"
    val before = spark.conf.getOption(key)
    spark.conf.set(key, "0")
    var q: StreamingQuery = null
    val listings0 = WalTail.listings.get()
    val (jobs, actions) = try observed(spark) {
      q = CdcPipeline.start(spark, walDir,
        Files.createTempDirectory("tworkck").toString, store, "tw",
        trigger = Trigger.ProcessingTime("100 milliseconds"))
      runTriggers(q, 5)(i => WalFiles.writeSegment(walDir, 10L + i, tx(10L + i)))
    } finally before match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
    val listings = WalTail.listings.get() - listings0
    assert(store.rows("public.accounts").map(_("id")).toSet == (11L to 15L).toSet)

    val progress = q.recentProgress.toSeq
    assert(progress.size < 100, "every trigger is in recentProgress")
    val withData = progress.filter(_.numInputRows > 0).map(_.batchId)
    assert(withData.size == 5 && progress.size > withData.size, "empty triggers ran too")
    // the batches handed to the sink: the five with data, and batch 0,
    // which the first trigger ran over the still empty feed (a job of no
    // tasks)
    val batches = progress.filter(_.durationMs.containsKey("addBatch")).map(_.batchId)
    assert(batches == 0L +: withData)
    val perBatch = jobs.filter(_._1 == q.id.toString).groupBy(_._2).view.mapValues(_.size).toMap
    assert(perBatch == batches.map(_ -> 1).toMap, "one job per batch")
    assert(!actions.contains("collect"), s"no collect action in the batch body: $actions")
    // every rate-limited trigger lists once; stopping may cut one more
    // trigger after its listing and before its progress event
    assert(listings >= progress.size && listings <= progress.size + 1,
      s"$listings listings for ${progress.size} triggers")
  }

  test("an AvailableNow run lists the feed at most once per trigger") {
    val spark = SparkTestSession.spark
    val walDir = Files.createTempDirectory("tworkan").toString
    val store = new InMemoryTxStore
    WalFiles.writeSegment(walDir, 20L,
      PgOutput.Encoder.relation(rel) +: (21L to 25L).flatMap(tx))
    val batches = new AtomicInteger
    val listings0 = WalTail.listings.get()
    val q = spark.readStream.format("pgcapture").option("path", walDir)
      .option("maxChangesPerBatch", "1").load()
      .writeStream
      .option("checkpointLocation", Files.createTempDirectory("tworkanck").toString)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        CdcApplier.applyBatch(store, "twan", CdcPipeline.toChanges(batch), (_, _) => Nil)
        batches.incrementAndGet()
        ()
      }.start()
    assert(q.awaitTermination(60000))
    val listings = WalTail.listings.get() - listings0
    assert(store.rows("public.accounts").map(_("id")).toSet == (21L to 25L).toSet)
    assert(batches.get == 5, "one transaction per batch")
    // five triggers with data, then the one that finds the pinned end
    assert(listings >= 1 && listings <= batches.get + 1, s"$listings listings")
  }
}
