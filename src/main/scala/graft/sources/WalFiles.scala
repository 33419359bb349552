package graft.sources

import java.io.{BufferedInputStream, BufferedOutputStream, FileInputStream, FileOutputStream}
import java.nio.file.{Files, Path, Paths}

import graft.cdc.Checkpoint
import graft.codec.{BytesReader, BytesWriter, PgOutput, PgType}

/** File-backed WAL feed for the pgcapture streaming source.
  *
  * Layout mirrors PostgreSQL's WAL segment naming so segment pruning
  * works the same way a replication client's restart_lsn does: each
  * segment file `wal-<16-hex-lsn>.seg` is named by the LSN of its
  * first transaction, and frames inside are `[u32 length][pgoutput
  * message bytes]`. A reader resuming from checkpoint (lsn, seq) starts
  * at the segment that holds the first row after it, seeded with the
  * replay state the driver planned for that segment ([[SegPlan]]), and
  * drops already-seen messages with the consistency-gate filter — the
  * reference's resume path (pkg/source/pulsar.go:122-148 gate;
  * pkg/source/postgres.go:51-163 slot restart).
  *
  * The sandbox has no live PostgreSQL, so this is the capture feed the
  * DSv2 source reads; against a real server the same MicroBatchStream
  * would wrap a replication connection instead of segment files.
  */
object WalFiles {

  def segmentName(firstLsn: Long): String =
    f"wal-$firstLsn%016x.seg"

  /** Append one segment of framed messages. Segments are write-once
    * (the tail's incremental contract); `overwrite = true` is for
    * DETERMINISTIC producers running inside Spark tasks, where a retry
    * or speculative attempt re-writes identical bytes and must land as
    * success, not FileAlreadyExistsException. The tmp name is unique
    * per attempt so concurrent attempts never race on it. */
  def writeSegment(dir: String, firstLsn: Long,
      messages: Seq[Array[Byte]], overwrite: Boolean = false): Path = {
    Files.createDirectories(Paths.get(dir))
    val tmp = Paths.get(dir,
      s".tmp-${java.util.UUID.randomUUID()}-${segmentName(firstLsn)}")
    val out = new BufferedOutputStream(new FileOutputStream(tmp.toFile))
    try messages.foreach { m =>
      val w = new BytesWriter().int32(m.length).raw(m)
      out.write(w.result())
    } finally out.close()
    val fin = Paths.get(dir, segmentName(firstLsn))
    if (overwrite)
      Files.move(tmp, fin, java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    else Files.move(tmp, fin, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    fin
  }

  /** Segment files in LSN order, with their starting LSN. */
  def segments(dir: String): Seq[(Long, Path)] = {
    val d = Paths.get(dir)
    if (!Files.isDirectory(d)) return Seq.empty
    import scala.jdk.CollectionConverters._
    Files.list(d).iterator().asScala
      .filter(p => p.getFileName.toString.matches("wal-[0-9a-f]{16}\\.seg"))
      .map { p =>
        val hex = p.getFileName.toString.stripPrefix("wal-").stripSuffix(".seg")
        (java.lang.Long.parseUnsignedLong(hex, 16), p)
      }
      .toSeq.sortBy { case (lsn, _) => lsn ^ Long.MinValue } // unsigned order
  }

  /** Read raw frames of one segment. */
  def readFrames(p: Path): Iterator[Array[Byte]] = {
    val bytes = Files.readAllBytes(p)
    new Iterator[Array[Byte]] {
      private val r = new BytesReader(bytes)
      def hasNext: Boolean = r.remaining >= 4
      def next(): Array[Byte] = r.bytes(r.int32())
    }
  }

  /** One decoded change event stamped with its checkpoint. */
  final case class WalEvent(cp: Checkpoint, commitTimeUs: Long,
      change: PgOutput.Change)

  /** Synthetic relation carrying an op=MESSAGE control row: table =
    * the message prefix (routable by the tables regex), columns typed
    * so the envelope's oids map decodes the image downstream. */
  private def messageRel(prefix: String): PgOutput.Relation =
    PgOutput.Relation(0, "", prefix, 'n', Seq(
      PgOutput.Column("content", PgType.Bytea, isKey = false),
      PgOutput.Column("transactional", PgType.Bool, isKey = false),
      PgOutput.Column("message_lsn", PgType.Int8, isKey = false)))

  /** Per-reader tally of the decode path's non-row frames. `unknowns`
    * are frames the decoder intentionally skips (the Unknown contract,
    * r13 ask #4: skip, keep (lsn, seq) exactly as if the frame were
    * absent, never throw, never emit a phantom row — never drop
    * SILENTLY): 'O'rigin, 'Y' type, 'M'essage, PG14 streaming frames.
    * `truncates` counts DELIVERED op=TRUNCATE control rows — truncate
    * is first-class since r15 (the decoder promotes 'T' to
    * [[PgOutput.Truncate]]; the reader emits one control row per
    * relation), so the figure is batch-window-scoped by the reader's
    * checkpoint filter, not a per-replay-pass frame count. Each reader
    * reports its tally as DSv2 custom task metrics (Spark sums them
    * across executors into the scan node's metrics); the JVM-level
    * [[truncateFrames]]/[[unknownFrames]] mirror feeds the
    * GraftMetricsListener gauge. */
  final class SkipTally {
    var truncates: Long = 0L
    var unknowns: Long = 0L
  }
  /** JVM-level counters (per-executor on a cluster — the cluster-wide
    * aggregate is the scan's custom metric; this mirror is the
    * driver-visible gauge in local mode and a per-executor log signal
    * otherwise). [[truncateFrames]] counts delivered truncate control
    * rows; [[unknownFrames]] counts skipped unknown frames, scoped to
    * the batch window via `tallyFrom` (ADVICE r14: a frame replayed
    * across micro-batches must not be recounted). */
  val truncateFrames = new java.util.concurrent.atomic.AtomicLong
  val unknownFrames = new java.util.concurrent.atomic.AtomicLong

  /** Replay a segment list into checkpoint-stamped change events,
    * tracking (lsn, seq) the way the reference's fetch loop does
    * (pkg/source/postgres.go:165-248): Begin sets the transaction LSN,
    * seq increments per message within the transaction. A Truncate
    * frame fans out to one op=TRUNCATE control row per affected
    * relation, each taking a seq slot (so checkpoints stay dense and
    * WalTail/planBatch agree on offsets).
    *
    * `tallyFrom` and `tallyTo` window the unknown-frame count to the
    * batch: a reader resuming mid-segment replays already-delivered
    * frames, and one reading up to its batch end decodes the frames
    * just past it, so counting either again every micro-batch overstates
    * the gauge (ADVICE r14) — only frames whose would-be checkpoint lies
    * after `tallyFrom` and at or before `tallyTo` count. */
  def replay(segs: Seq[Path],
      decoder: PgOutput.WireDecoder = new PgOutput.Decoder,
      startLsn: Long = 0L, startSeq: Int = 0,
      startCommitUs: Long = 0L, tally: SkipTally = null,
      tallyFrom: Checkpoint = Checkpoint.Zero,
      tallyTo: Checkpoint = Checkpoint.Max): Iterator[WalEvent] = {
    var lsn = startLsn
    var seq = startSeq
    var commitUs = startCommitUs
    segs.iterator.flatMap(readFrames).flatMap { frame =>
      decoder.decode(frame) match {
        case PgOutput.Begin(finalLsn, ts, _) =>
          lsn = finalLsn; seq = 0; commitUs = ts; None
        case c: PgOutput.Change =>
          seq += 1
          Some(WalEvent(Checkpoint(lsn, seq), commitUs, c))
        case PgOutput.Truncate(rels, _, _) =>
          // first-class control rows, one per relation (r14 ask #1);
          // cascade is already explicit in the relid fan-out and
          // restart-identity is a sequence concern — neither needs to
          // ride the envelope
          rels.map { rel =>
            seq += 1
            WalEvent(Checkpoint(lsn, seq), commitUs,
              PgOutput.Change("TRUNCATE", rel, None, None))
          }
        case PgOutput.LogicalMessage(txn, msgLsn, prefix, content) =>
          // first-class op=MESSAGE control row (r15):
          // pg_logical_emit_message payloads surface in the envelope
          // with table = the message prefix (so publication scoping
          // regexes route them) and a typed new-image carrying the
          // content, the transactional flag, and the frame's own WAL
          // lsn. Takes a seq slot like every delivered row; a
          // non-transactional message between transactions stamps at
          // the last transaction's (lsn, seq+1) — monotone and dense.
          seq += 1
          Some(WalEvent(Checkpoint(lsn, seq), commitUs,
            PgOutput.Change("MESSAGE", messageRel(prefix), Some(Map(
              "content" -> content,
              "transactional" -> PgType.encode(PgType.Bool, txn),
              "message_lsn" -> PgType.encode(PgType.Int8, msgLsn))),
              None)))
        case PgOutput.Unknown(_) =>
          // skip + advance, never throw, zero rows (r13 ask #4) — and
          // counted only inside the batch window: the frame sits at
          // would-be checkpoint (lsn, seq+1), so a tx fully delivered
          // before `tallyFrom` never recounts on replay, and a frame past
          // `tallyTo` waits for the batch that delivers its position
          val at = Checkpoint(lsn, seq + 1)
          if (at.after(tallyFrom) && !at.after(tallyTo)) {
            unknownFrames.incrementAndGet()
            if (tally != null) tally.unknowns += 1
          }
          None
        case _ => None // Commit / Relation advance no checkpoint
      }
    }
  }

  /** Where replay of one segment starts: the (lsn, seq) and commit time
    * in force at the segment's first frame, plus the latest Relation
    * frame of every relation declared before it (in the sidecar catalog
    * or an earlier segment). A reader seeded with a plan decodes its
    * segment, and any that follow it, without reading anything else of
    * the feed: the driver plans, executors replay. */
  final case class SegPlan(path: String, startLsn: Long, startSeq: Int,
      startCommitUs: Long, relations: Seq[Array[Byte]]) {
    def start: Checkpoint = Checkpoint(startLsn, startSeq)
  }

  /** Index of the plan a replay of the rows after `from` starts at: the
    * last whose start state is at or before `from` (every earlier
    * segment's rows are at or before it), else the first. The stream's
    * batches and the batch scan's `startLsn` prune by this one rule. */
  def startIndex(plans: collection.Seq[SegPlan], from: Checkpoint): Int =
    math.max(0, plans.lastIndexWhere(!_.start.after(from)))

  /** Replay state between segments, as [[scan]] advances it. `rels`
    * holds the last raw 'R' frame per relation id: a decoder keeps one
    * relation per id, so older declarations of the same id change
    * nothing and the state stays bounded by the table count. */
  final case class ScanState(lsn: Long, seq: Int, commitUs: Long,
      rels: Map[Int, Array[Byte]]) {
    def planAt(p: Path): SegPlan =
      SegPlan(p.toString, lsn, seq, commitUs, rels.values.toSeq)
  }

  private def pglogical(plugin: String): Boolean =
    plugin != null && plugin.equalsIgnoreCase("pglogical")

  /** The state before a feed's first retained segment: no position yet,
    * and the relations preserved from truncated history. */
  def initialState(dir: String, plugin: String): ScanState = {
    val cat = relationsPath(dir)
    val empty = ScanState(0L, 0, 0L, Map.empty)
    if (!Files.exists(cat)) empty
    else scan(empty, readFrames(cat), plugin)((_, _) => ())
  }

  /** Advance `st` over one segment's frames with a tag-level scan: frame
    * tags, Begin headers and Relation ids only, no tuple decode. `onRow`
    * sees the checkpoint of every row the segment delivers. Both wire
    * formats share the tag alphabet ('B' begin, 'R' relation, I/U/D
    * rows, each advancing seq once, exactly as [[replay]] does); at this
    * level pglogical differs only by a flags byte after the tag
    * (reference pkg/decode/pglogical.go:43-75 vs pgoutput.go). A pgoutput
    * 'T' frame advances seq by its relid count and an 'M' frame by one
    * (one control row each in replay); pglogical has neither message, so
    * its decoder reads them as Unknown, zero rows. */
  def scan(st: ScanState, frames: Iterator[Array[Byte]], plugin: String)(
      onRow: (Long, Int) => Unit): ScanState = {
    val flagsByte = pglogical(plugin)
    var lsn = st.lsn; var seq = st.seq; var cus = st.commitUs
    var rels = st.rels
    def header(f: Array[Byte]): BytesReader = {
      val r = new BytesReader(f)
      r.byte()
      if (flagsByte) r.byte()
      r
    }
    frames.foreach { f =>
      if (f.nonEmpty) f(0).toChar match {
        case 'B' =>
          val r = header(f)
          lsn = r.int64(); cus = r.int64(); seq = 0
        case 'I' | 'U' | 'D' => seq += 1; onRow(lsn, seq)
        case 'T' if !flagsByte =>
          seq += header(f).int32(); onRow(lsn, seq)
        case 'M' if !flagsByte => seq += 1; onRow(lsn, seq)
        case 'R' => rels = rels.updated(header(f).int32(), f)
        case _ => ()
      }
    }
    ScanState(lsn, seq, cus, rels)
  }

  /** One plan per segment of the feed, for the parallel batch decode of
    * `spark.read.format("pgcapture")`: a fold of [[scan]] from the
    * catalog. */
  def planBatch(dir: String, plugin: String = "pgoutput"): Seq[SegPlan] = {
    var st = initialState(dir, plugin)
    segments(dir).map { case (_, p) =>
      val plan = st.planAt(p)
      st = scan(st, readFrames(p), plugin)((_, _) => ())
      plan
    }
  }

  /** Decoder for a plugin name (source option `plugin`, A2/A3). */
  def decoderFor(plugin: String): PgOutput.WireDecoder =
    if (pglogical(plugin)) new graft.codec.PgLogical.Decoder()
    else new PgOutput.Decoder

  /** Sidecar relation catalog: raw 'R' frames preserved from truncated
    * segments; [[initialState]] seeds every scan with them. */
  def relationsPath(dir: String): Path = Paths.get(dir, "_relations.seg")

  /** Ack-driven WAL retention (the recycling a standby-status ack
    * enables — reference: the replication slot's restart_lsn advancing
    * frees server WAL, pkg/source/postgres.go:250-275): delete every
    * segment STRICTLY below the one containing the acked checkpoint,
    * preserving their Relation frames in the sidecar catalog first so
    * a later resume can still decode rows of relations declared only
    * in dropped history. Returns the number of segments dropped.
    * Single-writer maintenance op (run it where the producer runs).
    *
    * Retention belongs to the feed's producer, not to the pipeline:
    * neither the source nor [[graft.streaming.CdcPipeline]] calls this.
    * A long-lived feed needs its producer to run it after acks, as the
    * reference frees WAL when the slot's restart_lsn advances. Without
    * it the feed grows, and so does the one thing the source still does
    * per trigger in proportion to the feed: the driver's listing of the
    * directory ([[WalTail]]), O(retained segments). Readers never list. */
  def truncateAcked(dir: String): Int = readAck(dir) match {
    case None => 0
    case Some(cp) =>
      val all = segments(dir)
      var keepFrom = all.lastIndexWhere { case (first, _) =>
        java.lang.Long.compareUnsigned(first, cp.lsn) <= 0
      }
      // never sever a transaction: if the first kept segment does not
      // begin with a Begin frame, its opening rows continue a tx whose
      // Begin lives in an earlier segment — dropping that segment would
      // make later replays misstamp the continuation (lsn 0, epoch
      // commit_ts). Walk back until the boundary is a tx boundary.
      def startsAtTx(p: Path): Boolean =
        readFrames(p)
          .find(f => f.nonEmpty && "BIUDCTM".indexOf(f(0).toChar) >= 0)
          .forall(_(0) == 'B')
      while (keepFrom > 0 && !startsAtTx(all(keepFrom)._2)) keepFrom -= 1
      if (keepFrom <= 0) return 0
      val drop = all.take(keepFrom).map(_._2)
      // preserve relation declarations before deleting bytes
      val rFrames = drop.iterator.flatMap(readFrames)
        .filter(f => f.nonEmpty && f(0) == 'R').toSeq
      if (rFrames.nonEmpty) {
        val keep =
          if (Files.exists(relationsPath(dir)))
            readFrames(relationsPath(dir)).toSeq
          else Seq.empty
        val tmp = Paths.get(dir, ".tmp-relations")
        val out = new BufferedOutputStream(new FileOutputStream(tmp.toFile))
        try (keep ++ rFrames).foreach { f =>
          out.write(new BytesWriter().int32(f.length).raw(f).result())
        } finally out.close()
        Files.move(tmp, relationsPath(dir),
          java.nio.file.StandardCopyOption.ATOMIC_MOVE,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
      drop.foreach(Files.delete)
      drop.size
  }

  /** Standby-status feedback (A10): persist the acked checkpoint so
    * the feed's producer can truncate, like `setFlushedLSN`. */
  def writeAck(dir: String, cp: Checkpoint): Unit = {
    val tmp = Paths.get(dir, ".tmp-ack")
    Files.writeString(tmp, cp.serialize)
    Files.move(tmp, Paths.get(dir, "_ack"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  def readAck(dir: String): Option[Checkpoint] = {
    val p = Paths.get(dir, "_ack")
    if (Files.exists(p)) Some(Checkpoint.parse(Files.readString(p))) else None
  }
}
