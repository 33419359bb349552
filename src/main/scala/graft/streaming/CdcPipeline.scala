package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

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
    * routing stay distributed. One action only: a second would re-read
    * and re-decode the offset range's segments. */
  def toChanges(batch: DataFrame): Seq[CdcApplier.Change] = {
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
