package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Persisted MinHash-LSH postings index — INCREMENTAL near-dup
  * screening for an append-only corpus. The batch q35 pass answers
  * "find all near-dup pairs in the landed corpus"; a live pipeline
  * also needs "does this incoming batch duplicate anything ALREADY
  * landed" without re-running all-pairs over history. The index is
  * that primitive:
  *
  *  - [[build]] materializes the corpus's band postings
  *    (doc_id, band, h1, h2 — the identical 32×2 banding q35 shuffles
  *    on) and the shingle-gram sidecar as BUCKETED tables, bucketed on
  *    the join keys;
  *  - [[screen]] computes the incoming batch's postings map-side and
  *    joins them against the index: because the index is bucketed on
  *    the band key, only the BATCH side shuffles — the corpus-sized
  *    posting table is read bucket-aligned, never re-exchanged
  *    (LshIndexSpec pins this in the plan). Candidates verify with
  *    exact Jaccard against the gram sidecar (bucketed on doc_id, same
  *    story);
  *  - [[append]] lands a screened batch's postings+grams into the
  *    index with the bucket layout preserved — the incremental loop.
  *
  * 100 TB arithmetic: screening cost is O(batch × bands) shuffle
  * volume plus bucket-pruned index reads; the index pays its one-time
  * build shuffle at ingest (the BucketedJoinSpec trade). Recall is
  * q35's: a J ≥ 0.8 pair misses all 32 bands with probability
  * (1−J²)³² ≤ 4e-15.
  */
object LshIndex {

  require(Sketches.BandRows == 2, "postings schema assumes 2-row bands")

  /** One posting row per (doc, band): (doc_id, band, h1, h2). Pure
    * map-side projection (shingle → codegen'd minhash_sig → band
    * slices). */
  def postings(docs: DataFrame): DataFrame =
    postingsFromShingled(Sketches.shingled(docs))

  /** [[postings]] from an already-shingled (doc_id, grams) frame — so
    * the ingest loop can compute the shingles ONCE per batch and feed
    * screen and append from the same (scoped-persisted) frame. */
  private[queries] def postingsFromShingled(sh: DataFrame): DataFrame = {
    val sig = Sketches.withMinHashSignature(sh)
      .select(col("doc_id"), col("sig"))
    val bands = (0 until Sketches.NumBands).map { j =>
      struct(lit(j).as("band"),
        expr(s"sig[${j * Sketches.BandRows}]").as("h1"),
        expr(s"sig[${j * Sketches.BandRows + 1}]").as("h2"))
    }
    sig.select(col("doc_id"), explode(array(bands: _*)).as("b"))
      .select(col("doc_id"), col("b.band").as("band"),
        col("b.h1").as("h1"), col("b.h2").as("h2"))
  }

  /** Drop table `t` AND its warehouse location — the session catalog
    * is in-memory, so a location left by a previous JVM would
    * otherwise block the managed-table create. */
  private def dropTableAndDir(s: org.apache.spark.sql.SparkSession,
      t: String): Unit = {
    s.sql(s"drop table if exists $t")
    val wh = s.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
    }
    rm(new java.io.File(wh, t))
  }

  /** Build/overwrite the persisted index `name`: `<name>_postings`
    * bucketed on the band key, `<name>_grams` bucketed on doc_id.
    * Every row carries a `batch_id` provenance column (−1 for the
    * initial build) — the replay-idempotence key for streaming
    * appends (see [[appendPrepared]]). */
  def build(corpus: DataFrame, name: String, buckets: Int = 8): Unit = {
    val s = corpus.sparkSession
    for (t <- Seq(s"${name}_postings", s"${name}_grams"))
      dropTableAndDir(s, t)
    // the shingle projection feeds both table builds — compute it once
    // (scoped persist, released before return), and run the two
    // independent writes concurrently (guide §2.6, same as appends)
    val sh = Sketches.shingled(corpus).persist()
    try bothTables(s.sparkContext,
      () => graft.Tables.bucketize(
        postingsFromShingled(sh).withColumn("batch_id", lit(-1L)),
        s"${name}_postings", buckets, "band", "h1", "h2"),
      () => graft.Tables.bucketize(
        sh.withColumn("batch_id", lit(-1L)),
        s"${name}_grams", buckets, "doc_id"))
    finally { sh.unpersist(); () }
  }

  /** Append a landed batch into the index, preserving the bucket
    * layout (Spark validates the writer spec against the table's).
    * Pass the micro-batch id as `batchId` from at-least-once callers
    * (foreachBatch): an id that ALREADY landed in a table is skipped,
    * so a batch replayed after a crash cannot double-append — and the
    * per-table gate also heals a crash BETWEEN the two table writes
    * (the replay re-appends only the table that missed). The default
    * −1 marks ungated manual appends (batch API, not replayed). */
  def append(docs: DataFrame, name: String, buckets: Int = 8,
      batchId: Long = -1L): Unit = {
    val sh = Sketches.shingled(docs)
    appendPrepared(postingsFromShingled(sh), sh, name, buckets, batchId)
  }

  /** True iff `batchId`'s rows already landed in `table`. A parquet
    * append is job-committed (files appear only at commit), so a
    * table holds either all of a batch's rows or none — one probe
    * row decides. The probe is a column-pruned scan of the stamp
    * column with the equality pushed to parquet row-group stats. */
  private def batchApplied(s: org.apache.spark.sql.SparkSession,
      table: String, batchId: Long): Boolean =
    batchId >= 0L &&
      !s.table(table).where(col("batch_id") === batchId).isEmpty

  /** Highest batch id THIS JVM successfully appended, per table — the
    * O(1) fast path for the replay gate. Batch ids from a streaming
    * checkpoint are monotone and the index is single-writer (the A22
    * discipline), so within one JVM: an id ≤ the recorded high-water
    * mark certainly landed (we wrote it — a same-JVM restart replay
    * skips without any table read), the successor id certainly did
    * not (append without probing), and anything else — a fresh JVM,
    * an id gap — falls back to the one-probe-row table check. */
  private val appendedHwm =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  private def shouldAppend(s: org.apache.spark.sql.SparkSession,
      table: String, batchId: Long): Boolean =
    if (batchId < 0L) true
    else Option(appendedHwm.get(table)) match {
      case Some(hwm) if batchId <= hwm => false
      case Some(hwm) if batchId == hwm + 1L => true
      case _ => !batchApplied(s, table, batchId)
    }

  private def recordAppended(table: String, batchId: Long): Unit =
    if (batchId >= 0L) {
      appendedHwm.merge(table, batchId,
        (a, b) => if (a >= b) a else b)
      ()
    }

  /** Test hook: drop the in-JVM high-water marks for `name`'s tables,
    * simulating a process death — a subsequent replayed append must
    * go through the durable table probe, not JVM memory. */
  private[queries] def forgetJvmState(name: String): Unit = {
    appendedHwm.remove(s"${name}_postings")
    appendedHwm.remove(s"${name}_grams")
    ()
  }

  /** Run the two independent index-table writes concurrently: each is
    * its own small Spark job (gate probe + bucket shuffle + commit),
    * and launched from one driver thread they serialize, leaving the
    * cluster idle in each job's tail (guide §2.6). The per-table
    * replay gates already heal ANY crash interleaving — parallelism
    * adds no new window. Each write runs in its own job group with
    * finite patience: a wedged write cancels both groups and fails the
    * caller loudly (ADVICE r17 #1). Both writes are awaited; a second
    * failure is suppressed on the first. */
  private[queries] def bothTables(sc: org.apache.spark.SparkContext,
      left: () => Unit, right: () => Unit): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec = scala.concurrent.ExecutionContext.fromExecutor(pool)
    val tag = java.util.UUID.randomUUID()
    val writes = Seq("postings" -> left, "grams" -> right).map { case (t, w) =>
      val grp = s"lsh_index_${t}_$tag"
      grp -> scala.concurrent.Future {
        sc.setJobGroup(grp, s"LSH index $t write")
        w()
      }
    }
    val patience = scala.concurrent.duration.Duration(10, "min")
    try {
      val failures = writes.flatMap { case (_, f) =>
        try {
          scala.concurrent.Await.ready(f, patience)
          f.value.flatMap(_.failed.toOption)
        } catch { case e: java.util.concurrent.TimeoutException =>
          writes.foreach { case (g, _) => sc.cancelJobGroup(g) }
          Some(e)
        }
      }
      failures.reduceOption { (first, second) =>
        first.addSuppressed(second); first
      }.foreach(e => throw e)
    } finally { pool.shutdown(); () }
  }

  /** [[append]] from pre-computed postings + shingles (the ingest-loop
    * path: both frames are scoped-persisted by the caller, so the two
    * table writes don't recompute the minhash kernels). Each write is
    * repartitioned ONTO the bucket function first — `repartition(n,
    * keys)` hashes exactly like the bucket-id expression, so every
    * task holds one whole bucket and each append lands `buckets`
    * files, not tasks×buckets (the small-file bound that keeps
    * [[maybeCompact]] a rare event rather than a treadmill). */
  private[queries] def appendPrepared(post: DataFrame, sh: DataFrame,
      name: String, buckets: Int = 8, batchId: Long = -1L): Unit = {
    val s = post.sparkSession
    bothTables(s.sparkContext,
      () => if (shouldAppend(s, s"${name}_postings", batchId)) {
        post.withColumn("batch_id", lit(batchId))
          .repartition(buckets, col("band"), col("h1"), col("h2"))
          .write.mode("append")
          .bucketBy(buckets, "band", "h1", "h2").sortBy("band", "h1", "h2")
          .format("parquet").saveAsTable(s"${name}_postings")
        recordAppended(s"${name}_postings", batchId)
      },
      () => if (shouldAppend(s, s"${name}_grams", batchId)) {
        sh.withColumn("batch_id", lit(batchId))
          .repartition(buckets, col("doc_id"))
          .write.mode("append")
          .bucketBy(buckets, "doc_id").sortBy("doc_id")
          .format("parquet").saveAsTable(s"${name}_grams")
        recordAppended(s"${name}_grams", batchId)
      })
  }

  /** Rewrite both index tables down to one file per bucket, keeping
    * the bucket spec (and the `batch_id` provenance values, so the
    * replay gate stays correct across compactions). The rewrite goes
    * to a side table first and swaps in by rename — a crash mid-
    * compaction leaves the original intact. */
  def compact(name: String, buckets: Int = 8): Unit = {
    compactTable(s"${name}_postings", buckets, Seq("band", "h1", "h2"))
    compactTable(s"${name}_grams", buckets, Seq("doc_id"))
  }

  /** [[compact]] only when the postings table has grown past
    * `maxFilesPerBucket` files per bucket — the append-loop wiring:
    * call after every append and compaction runs only when the
    * small-file debt justifies a rewrite (q161's planner policy
    * applied to the index's own storage). */
  def maybeCompact(name: String, buckets: Int = 8,
      maxFilesPerBucket: Int = 6): Unit = {
    val s = org.apache.spark.sql.SparkSession.active
    if (s.table(s"${name}_postings").inputFiles.length >
        buckets * maxFilesPerBucket)
      compact(name, buckets)
  }

  private def compactTable(tbl: String, buckets: Int,
      keys: Seq[String]): Unit = {
    val s = org.apache.spark.sql.SparkSession.active
    val tmp = s"${tbl}__c"
    dropTableAndDir(s, tmp)
    // Force the BUCKETED scan for the rewrite: one read partition per
    // bucket (merging all that bucket's small files), so each task
    // writes exactly one output file for its own bucket — a
    // shuffle-free compaction. Without the pin the planner, seeing no
    // join that wants the distribution, falls back to file-grouped
    // read tasks (and elides an explicit repartition as redundant
    // against the table's bucket partitioning), scattering every
    // bucket across every task — tasks×buckets files, the opposite
    // of compaction.
    val key = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    val prev = s.conf.get(key)
    s.conf.set(key, "false")
    try s.table(tbl)
      .write.bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .format("parquet").saveAsTable(tmp)
    finally s.conf.set(key, prev)
    s.sql(s"drop table $tbl")
    s.sql(s"alter table $tmp rename to $tbl")
  }

  /** Verified near-dup pairs (batch `doc1`, indexed `doc2`, jaccard ≥
    * `minJaccard`) between an incoming batch and the landed index. */
  def screen(newDocs: DataFrame, name: String,
      minJaccard: Double): DataFrame = {
    val sh = Sketches.shingled(newDocs)
    screenPrepared(postingsFromShingled(sh), sh, name, minJaccard)
  }

  /** [[screen]] from pre-computed postings + shingles (see
    * [[appendPrepared]]). */
  private[queries] def screenPrepared(post: DataFrame, sh: DataFrame,
      name: String, minJaccard: Double): DataFrame = {
    val s = post.sparkSession
    val cand = post
      .join(s.table(s"${name}_postings").withColumnRenamed("doc_id", "doc2"),
        Seq("band", "h1", "h2"))
      .filter(col("doc_id") =!= col("doc2"))
      .select(col("doc_id").as("doc1"), col("doc2")).distinct()
    val g1 = sh
      .select(col("doc_id").as("doc1"), col("grams").as("g1"))
    val g2 = s.table(s"${name}_grams")
      .select(col("doc_id").as("doc2"), col("grams").as("g2"))
    cand.join(g1, "doc1").join(g2, "doc2")
      .withColumn("jaccard", Sketches.exactJaccard)
      .filter(col("jaccard") >= minJaccard)
      .select(col("doc1"), col("doc2"),
        round(col("jaccard"), 6).as("jaccard"))
  }
}
