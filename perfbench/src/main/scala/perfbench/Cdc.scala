package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

import graft.sql.JdbcTxStore
import graft.streaming.CdcPipeline

/** What one CDC run measured: changes offered and failed, the per-
  * transaction lags, the pipeline's own progress reports, and the
  * store timings of the traced part. */
final class CdcOutcome {
  var attempted = 0L
  var failed = 0L
  val problems = mutable.ArrayBuffer.empty[String]
  /** Transaction lag percentiles (ms) and the transactions behind them. */
  var lagP50 = 0.0
  var lagP99 = 0.0
  var samples = 0L
  /** cdc_backfill: (p50, p99) of each drain's transaction lags. */
  val drainLags = mutable.ArrayBuffer.empty[(Double, Double)]
  var appliedChanges = 0L
  var applySeconds = 0.0
  val times = new StoreTimes
  val progress = mutable.ArrayBuffer.empty[StreamingQueryProgress]
  val layers = mutable.LinkedHashMap.empty[String, (Double, String)]
}

/** The two replication workloads. Both run the program's own pipeline,
  * `CdcPipeline.start`, into `JdbcTxStore` on an in-memory Derby
  * replica, and check the replica against the generator's model. */
object Cdc {
  val SourceId = "perfbench"
  val BacklogChanges = 25000
  /** About how long one drain takes at the parent commit. */
  val DrainSeconds = 5
  val SegmentChanges = 2000

  /** The program's store on a new connection to the replica at `url`.
    * Untraced, only the commit log observes it; traced, a timing store
    * sits under the log. */
  final class Target(url: String, times: Option[StoreTimes]) {
    val jdbc = new JdbcTxStore(java.sql.DriverManager.getConnection(url))
    val timing: Option[TimingStore] = times.map(new TimingStore(jdbc, _))
    val log = new CommitLog(timing.getOrElse(jdbc))

    /** Check the committed replica through a second connection, then
      * close the store. */
    def check(model: Model, last: graft.cdc.Checkpoint, out: CdcOutcome): Unit = {
      val reader = java.sql.DriverManager.getConnection(url)
      val problems = try Replica.diff(reader, model, SourceId, last) finally reader.close()
      out.failed += problems.size
      out.problems ++= problems.take(10)
      jdbc.close()
    }
  }

  /** Write a backlog as segments of about SegmentChanges changes. */
  def writeBacklog(dir: String, txs: Seq[Tx]): Unit = {
    var first = true
    val seg = mutable.ArrayBuffer.empty[Tx]
    def flush(): Unit = if (seg.nonEmpty) {
      Wire.segment(dir, seg.toSeq, withRelations = first)
      first = false
      seg.clear()
    }
    txs.foreach { tx =>
      seg += tx
      if (seg.map(_.ops.size).sum >= SegmentChanges) flush()
    }
    flush()
  }

  private def fresh(work: String, tag: String): String =
    Files.createTempDirectory(Paths.get(work), tag).toString

  /** Generate a backlog, write it, and create a replica: the part of
    * set-up that repeats. Returns the feed directory, the generator (with
    * its model) and the transactions. */
  private def backlogFixture(work: String, seed: Long, changes: Int): (String, FeedGen, Seq[Tx]) = {
    val gen = new FeedGen(seed)
    val txs = gen.backlog(changes)
    val dir = fresh(work, "wal")
    writeBacklog(dir, txs)
    Replica.drop(Replica.create())
    (dir, gen, txs)
  }

  /** Drain the backlog once with `Trigger.AvailableNow` into the empty
    * replica at `url`, check it, and empty it again; returns the time from
    * stream start to the final commit. */
  private def drain(spark: SparkSession, work: String, url: String, wal: String,
      gen: FeedGen, txs: Seq[Tx], traced: Boolean, out: CdcOutcome): Double = {
    val target = new Target(url, if (traced) Some(out.times) else None)
    target.timing.foreach(_.on = true)
    val t0 = System.nanoTime()
    val q = CdcPipeline.start(spark, wal, fresh(work, "ck"), target.log, SourceId)
    q.awaitTermination()
    val seconds = (target.log.lastCommitNs - t0) / 1e9
    LiveHeap.checkpoint()
    val lags = target.log.appliedAt(txs).map(t => (t - t0) / 1e6)
    out.drainLags += ((Stats.quantile(lags, 0.5), Stats.quantile(lags, 0.99)))
    out.samples += lags.size
    target.timing.foreach(_.finish())
    if (traced) out.progress ++= q.recentProgress
    out.attempted += txs.map(_.ops.size).sum
    target.check(gen.model, txs.last.last, out)
    Replica.clear(url)
    seconds
  }

  /** Single-threaded decode rate of the feed's segments. */
  private def replayRate(wal: String): Double = {
    val segs = graft.sources.WalFiles.segments(wal).map(_._2)
    Stats.median((1 to 3).map { _ =>
      val t0 = System.nanoTime()
      val n = graft.sources.WalFiles.replay(segs).size
      n / ((System.nanoTime() - t0) / 1e9)
    })
  }

  /** `cdc_backfill`. Untraced: `seconds` / DrainSeconds drains.
    * Traced: untraced, traced and untraced drains. */
  def backfill(spark: SparkSession, work: String, seed: Long, seconds: Int,
      traced: Boolean, setup: Setup): CdcOutcome = {
    val out = new CdcOutcome
    val (wal, gen, txs) =
      setup.repeated(3)(backlogFixture(work, seed, BacklogChanges))
    // one replica for the whole run, emptied between drains, as a
    // long-lived replica would be: Derby compiles each statement once
    val url = setup.once("warmup") {
      val url = Replica.create()
      val (w, g, t) = backlogFixture(work, seed + 1, BacklogChanges)
      drain(spark, work, url, w, g, t, traced = false, new CdcOutcome)
      url
    }
    // each drain's lags form a few steps, one per store commit; a median
    // over drains is steadier than percentiles of the pooled lags
    def lagsOf(drains: Seq[(Double, Double)]): Unit = {
      out.lagP50 = Stats.median(drains.map(_._1))
      out.lagP99 = Stats.median(drains.map(_._2))
    }
    if (!traced) {
      (1 to Stats.units(seconds, DrainSeconds)).foreach { _ =>
        out.applySeconds += drain(spark, work, url, wal, gen, txs, traced = false, out)
        out.appliedChanges += txs.map(_.ops.size).sum
      }
      lagsOf(out.drainLags.toSeq)
    } else {
      // untraced, traced, untraced: a warm-up trend across the drains
      // cancels out of the overhead
      val times = Seq(false, true, false).map(t =>
        t -> drain(spark, work, url, wal, gen, txs, t, out))
      val plain = times.filterNot(_._1).map(_._2).sum / 2
      val withTrace = times(1)._2
      out.applySeconds = 2 * plain
      out.appliedChanges = 2L * txs.map(_.ops.size).sum
      lagsOf(times.indices.filterNot(times(_)._1).map(out.drainLags))
      out.layers("trace.overhead_pct") = (100 * (withTrace - plain) / plain, "%")
      out.layers("codec.replay_changes_per_s") = (replayRate(wal), "1/s")
      out.layers("sources.backlog_max_changes") = (txs.map(_.ops.size).sum.toDouble, "changes")
    }
    Replica.drop(url)
    out
  }

  /** `cdc_oltp`. An open-loop generator thread appends one segment every
    * Tick at TxPerSecond; the pipeline runs back-to-back micro-batches.
    * Lag is measured from each transaction's scheduled due time. */
  val TxPerSecond = 400
  val TickMs = 25
  val WarmupSeconds = 10
  val HotRows = 2000

  def oltp(spark: SparkSession, work: String, seed: Long, seconds: Int,
      traced: Boolean, setup: Setup): CdcOutcome = {
    val out = new CdcOutcome
    val tickNs = TickMs * 1000000L
    val perTick = TxPerSecond * TickMs / 1000
    val warmTicks = WarmupSeconds * 1000 / TickMs
    val totalTicks = warmTicks + seconds * 1000 / TickMs
    // traced runs switch store timing on for every other second of the
    // window, so the overhead compares interleaved halves
    def tracedTick(k: Int) = k >= warmTicks && (k - warmTicks) * TickMs / 1000 % 2 == 1
    // tick k's transactions are due when tick k is written
    val (gen, prefill, ticks) = setup.repeated(3) {
      val gen = new FeedGen(seed)
      val prefill = gen.prefill(HotRows)
      val ticks = (0 until totalTicks).map { k =>
        val txs = IndexedSeq.fill(perTick)(gen.oltp((k + 1) * tickNs / 1000))
        (txs, txs.flatMap(Wire.frames))
      }
      (gen, prefill, ticks)
    }
    val wal = fresh(work, "wal")
    val url = Replica.create()
    val target = new Target(url, if (traced) Some(out.times) else None)
    val q = setup.once("stream") {
      Wire.segment(wal, prefill, withRelations = true)
      val q = CdcPipeline.start(spark, wal, fresh(work, "ck"), target.log, SourceId,
        trigger = Trigger.ProcessingTime(0L))
      awaitCommitted(q, target.log, prefill.last.last)
      q
    }
    val txs = ticks.flatMap(_._1)
    val written = txs.scanLeft(0L)(_ + _.ops.size).tail
    val lsns = txs.map(_.lsn).toArray
    val late = mutable.ArrayBuffer.empty[Double]
    var backlogMax = 0L
    var progressAtWarm = 0
    val t0 = System.nanoTime() + 50000000L
    def due(k: Int) = t0 + (k + 1) * tickNs
    val generator = new Thread(() => {
      ticks.zipWithIndex.foreach { case ((tickTxs, frames), k) =>
        while (System.nanoTime() < due(k))
          java.util.concurrent.locks.LockSupport.parkNanos(due(k) - System.nanoTime())
        if (k >= warmTicks) late += (System.nanoTime() - due(k)) / 1e6
        graft.sources.WalFiles.writeSegment(wal, tickTxs.head.lsn, frames)
        if (k == warmTicks) progressAtWarm = q.recentProgress.length
        target.timing.foreach(_.on = tracedTick(k))
        val i = java.util.Arrays.binarySearch(lsns, target.log.committed.lsn)
        val committed = if (i >= 0) written(i) else 0L
        backlogMax = math.max(backlogMax, written((k + 1) * perTick - 1) - committed)
      }
    }, "perfbench-oltp-generator")
    generator.start()
    generator.join()
    setup.parts("warmup") = (due(warmTicks - 1) - t0 + 50000000L) / 1e9
    awaitCommitted(q, target.log, txs.last.last)
    LiveHeap.checkpoint()
    q.stop()
    target.timing.foreach(_.finish())

    val applied = target.log.appliedAt(txs)
    val measured = (warmTicks * perTick) until txs.size
    val lags = measured.map(i => (applied(i) - due(i / perTick)) / 1e6)
    out.lagP50 = Stats.quantile(lags, 0.5)
    out.lagP99 = Stats.quantile(lags, 0.99)
    out.samples = lags.size
    out.appliedChanges = measured.map(txs(_).ops.size.toLong).sum
    out.applySeconds = (applied.last - due(warmTicks - 1)) / 1e9
    out.attempted = (prefill ++ txs).map(_.ops.size.toLong).sum
    if (traced) {
      val (on, off) = measured.indices.partition(j => tracedTick(measured(j) / perTick))
      val p0 = Stats.quantile(off.map(lags), 0.5)
      out.layers("trace.overhead_pct") =
        (100 * (Stats.quantile(on.map(lags), 0.5) - p0) / p0, "%")
      out.progress ++= q.recentProgress.drop(progressAtWarm)
      out.layers("sources.backlog_max_changes") = (backlogMax.toDouble, "changes")
      out.layers("gen.late_ms_p99") = (Stats.quantile(late.toSeq, 0.99), "ms")
    }
    target.check(gen.model, txs.last.last, out)
    Replica.drop(url)
    out
  }

  private def awaitCommitted(q: StreamingQuery, log: CommitLog,
      last: graft.cdc.Checkpoint): Unit = {
    val deadline = System.nanoTime() + 60000000000L
    while (log.committed < last) {
      q.exception.foreach(e => throw e)
      require(System.nanoTime() < deadline, s"pipeline did not reach $last in 60 s")
      Thread.sleep(2)
    }
  }

  /** Per-trigger means of the progress reports' duration parts. */
  def progressLayers(out: CdcOutcome): Unit = {
    val ps = out.progress.filter(_.numInputRows > 0)
    if (ps.isEmpty) return
    def mean(key: String) =
      ps.map(p => Option(p.durationMs.get(key)).map(_.toDouble).getOrElse(0.0)).sum / ps.size
    val n = ps.size.toDouble
    val applyMs =
      if (out.times.batches > 0) out.times.applyNs / 1e6 / out.times.batches else 0.0
    out.times.metrics.foreach { case (k, v, u) => out.layers(k) = (v, u) }
    out.layers ++= Seq(
      "sources.latest_offset_ms" -> (mean("latestOffset"), "ms"),
      "sources.get_batch_ms" -> (mean("getBatch"), "ms"),
      "sources.triggers" -> (n, "count"),
      "sources.changes_per_trigger" -> (ps.map(_.numInputRows).sum / n, "changes"),
      "streaming.trigger_ms" -> (mean("triggerExecution"), "ms"),
      "streaming.add_batch_ms" -> (mean("addBatch"), "ms"),
      "streaming.query_planning_ms" -> (mean("queryPlanning"), "ms"),
      "streaming.wal_commit_ms" -> (mean("walCommit"), "ms"),
      "streaming.commit_offsets_ms" -> (mean("commitOffsets"), "ms"),
      "streaming.collect_ms" -> (mean("addBatch") - applyMs, "ms"),
      "streaming.apply_ms" -> (applyMs, "ms"))
  }
}
