package graft.streaming

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.unsafe.Platform

/** Pipeline composition (A37, reference cmd/root.go:46-79
  * `sourceToSink`): `readStream.format("pgcapture")` → ordered
  * exactly-once apply via [[CdcApplier]] in `foreachBatch`.
  *
  * The micro-batch arrives offset-bounded by the source's (lsn, seq)
  * checkpoints; inside the batch we re-sort by the same total order and
  * hand the slice to the applier, whose own watermark filter makes
  * redelivery (batch retry, checkpoint replay) a no-op — the two layers
  * of exactly-once the reference builds by hand with its consistency
  * gate + sources table.
  */
object CdcPipeline {

  /** Collect one micro-batch into applier changes, in arrival order
    * (each consumer filters and sorts its own slice by (lsn, seq)).
    * The collect runs on the executor/driver boundary — the ordered
    * apply is inherently single-writer (A22); upstream decode and
    * routing stay distributed.
    *
    * One planning pass and one job per trigger. `foreachBatch` hands
    * over the micro-batch's own RDD, already planned, wrapped in a
    * `LogicalRDD`; the job runs it as is, so the micro-batch's scan and
    * `observe()` node run inside it, and nothing plans the wrapper. Any
    * other frame runs its own executed plan. Each [[CdcApplier.Change]]
    * is read from the collected `InternalRow`s directly, with no `Row`
    * encoder: a NULL datum stays a present key with a null value, an
    * unchanged-TOAST column stays absent. */
  def toChanges(batch: DataFrame): Seq[CdcApplier.Change] = {
    val Array(op, schema, table, nw, old, oids, lsn, seq, keys) =
      Array("op", "schema", "table", "new", "old", "oids", "lsn", "seq", "keys")
        .map(batch.schema.fieldIndex)
    def strings(a: ArrayData, n: Int): Iterator[String] =
      Iterator.range(0, n).map(a.getUTF8String(_).toString)
    def bytesMap(r: InternalRow, i: Int): Map[String, Array[Byte]] =
      if (r.isNullAt(i)) Map.empty else {
        val m = r.getMap(i)
        val vs = m.valueArray()
        strings(m.keyArray(), m.numElements()).zipWithIndex.map { case (k, j) =>
          k -> (if (vs.isNullAt(j)) null else vs.getBinary(j))
        }.toMap
      }
    collect(batch).map { r =>
      CdcApplier.Change(r.getUTF8String(op).toString,
        r.getUTF8String(schema).toString, r.getUTF8String(table).toString,
        bytesMap(r, nw), bytesMap(r, old),
        if (r.isNullAt(oids)) Map.empty else {
          val m = r.getMap(oids)
          val vs = m.valueArray()
          strings(m.keyArray(), m.numElements()).zipWithIndex
            .map { case (k, j) => k -> vs.getInt(j) }.toMap
        },
        r.getLong(lsn), r.getInt(seq),
        keys = if (r.isNullAt(keys)) None else {
          val a = r.getArray(keys)
          Some(strings(a, a.numElements()).toList)
        })
    }
  }

  /** The frame's rows, in partition order, from one job. The job runs
    * through `SparkContext.runJob` with a function declared here: the
    * closure cleaner then reads this small class, not `RDD`'s and
    * `SparkContext`'s, which `RDD.collect` makes it read every trigger.
    * Each task ships its rows as one byte array, as Spark's own collect
    * does, so no row passes through Java serialization. */
  private def collect(batch: DataFrame): Seq[InternalRow] = {
    val rdd = batch.queryExecution.logical match {
      case l: LogicalRDD => l.rdd
      case _ => batch.queryExecution.toRdd
    }
    val parts = new Array[Array[Byte]](rdd.getNumPartitions)
    batch.sparkSession.sparkContext.runJob(rdd, encodeRows, parts.indices,
      (i: Int, bytes: Array[Byte]) => parts(i) = bytes)
    val numFields = batch.schema.length
    parts.toSeq.flatMap(decodeRows(_, numFields))
  }

  /** A partition's rows as (size, bytes) pairs. Executed plans produce
    * `UnsafeRow`s; Spark's collect relies on the same. */
  private val encodeRows = (_: TaskContext, rows: Iterator[InternalRow]) => {
    val bytes = new java.io.ByteArrayOutputStream
    val out = new java.io.DataOutputStream(bytes)
    val buffer = new Array[Byte](4096)
    rows.foreach { r =>
      val row = r.asInstanceOf[UnsafeRow]
      out.writeInt(row.getSizeInBytes)
      row.writeToStream(out, buffer)
    }
    out.flush()
    bytes.toByteArray
  }

  private def decodeRows(bytes: Array[Byte], numFields: Int): Seq[InternalRow] = {
    val rows = Seq.newBuilder[InternalRow]
    val in = java.nio.ByteBuffer.wrap(bytes)
    while (in.hasRemaining) {
      val size = in.getInt
      val row = new UnsafeRow(numFields)
      row.pointTo(bytes, Platform.BYTE_ARRAY_OFFSET + in.position(), size)
      rows += row
      in.position(in.position() + size)
    }
    rows.result()
  }

  /** Start the capture→apply pipeline over a WAL feed directory.
    *
    * Self-describing: every row's envelope carries the replica-identity
    * columns in force when it was captured (the `keys` column, from the
    * table's Relation message — SURVEY A6), so the apply leg needs no
    * out-of-band catalog. The stream carries an `observe()` block
    * (changes, max lsn, latest commit_ts) so every StreamingQueryProgress
    * event reports apply metrics — attach a [[GraftMetricsListener]] via
    * `spark.streams.addListener` for the A38 lag gauge.
    *
    * WAL retention is not part of the pipeline: the stream acks each
    * committed batch ([[graft.sources.WalFiles.writeAck]]) but never
    * deletes segments. A long-lived feed needs its producer to run
    * [[graft.sources.WalFiles.truncateAcked]] after acks; without it the
    * source's per-trigger directory listing on the driver grows as
    * O(retained segments).
    *
    * When `spark`'s conf leaves Spark's checkpoint-manager setting
    * ([[NioCheckpointFileManager.Key]]) unset, this sets it on that
    * session to [[NioCheckpointFileManager]], so the stream's offset and
    * commit logs are written without forking processes; an explicit
    * choice of the caller stays. [[startBusLeg]] does the same. */
  def start(spark: SparkSession, walDir: String, checkpointDir: String,
      store: CdcApplier.TxStore, sourceId: String,
      tablesRegex: Option[String] = None,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    useNioCheckpoints(spark)
    val reader = spark.readStream.format("pgcapture").option("path", walDir)
    tablesRegex.foreach(r => reader.option("tables", r))
    reader.load()
      .observe(GraftMetricsListener.MetricName,
        count(lit(1)).as("changes"),
        max(col("lsn")).as("max_lsn"),
        max(col("commit_ts")).as("last_commit_ts"))
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        CdcApplier.applyBatch(store, sourceId, toChanges(batch), (_, _) => Nil)
        ()
      }
      .start()
  }

  private def useNioCheckpoints(spark: SparkSession): Unit =
    if (spark.conf.getOption(NioCheckpointFileManager.Key).isEmpty)
      spark.conf.set(NioCheckpointFileManager.Key, NioCheckpointFileManager.ClassName)

  /** The capture→bus leg (the reference's pg2pulsar, cmd/pg2pulsar.go):
    * WAL feed → bus producer, idempotent via the producer's cached
    * watermark (A11-A13). Against a real broker this leg is
    * `writeStream.format("kafka")` with `key = lsn|seq` and the broker's
    * log compaction playing the part of the segment file — the seam is
    * the foreachBatch body. */
  def startBusLeg(spark: SparkSession, walDir: String, checkpointDir: String,
      busDir: String, tablesRegex: Option[String] = None,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    useNioCheckpoints(spark)
    val reader = spark.readStream.format("pgcapture").option("path", walDir)
    tablesRegex.foreach(r => reader.option("tables", r))
    reader.load()
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        Bus.produce(busDir, toChanges(batch))
        ()
      }
      .start()
  }
}
