package graft.queries

import graft.SparkTestSession
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The persisted LSH index: screening finds exactly the exact-Jaccard
  * cross pairs, the candidate join leaves the bucketed posting table
  * in place (only the batch side shuffles — the 100 TB point), and
  * appends keep the index incremental. */
class LshIndexSpec extends AnyFunSuite {

  private val spark = SparkTestSession.spark
  import spark.implicits._

  private val base = (1 to 30).map(i => s"w$i").mkString(" ")
  private val nearDup = (1 to 29).map(i => s"w$i").mkString(" ") + " zz"
  private def uniq(seed: Char) = (1 to 30).map(i => s"$seed$i").mkString(" ")

  private def exactPairs(batch: Seq[(Long, String)],
      corpus: Seq[(Long, String)], minJ: Double): Set[(Long, Long)] = {
    def grams(t: String): Set[String] = {
      val w = t.trim.toLowerCase.split("\\s+")
      (0 to w.length - 3).map(i => s"${w(i)} ${w(i + 1)} ${w(i + 2)}").toSet
    }
    (for {
      (i1, t1) <- batch; (i2, t2) <- corpus
      g1 = grams(t1); g2 = grams(t2)
      if g1.nonEmpty && g2.nonEmpty
      j = g1.intersect(g2).size.toDouble / g1.union(g2).size
      if j >= minJ
    } yield (i1, i2)).toSet
  }

  /** Runs `body` with forced shuffle joins and static plans, then
    * asserts `screened`'s plan joins the `<name>_postings` scan
    * bucket-aligned: some shuffle-join side holds the postings scan
    * with NO exchange in between. */
  private def assertScreenInPlace(name: String)(
      screened: => org.apache.spark.sql.DataFrame)
      : Set[(Long, Long)] = {
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    // AQE wraps the tree in AdaptiveSparkPlanExec (a leaf to
    // collect()); the static plan is what the assertion reads
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = screened
      val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val plan = df.queryExecution.executedPlan
      val joinChildren = plan.collect {
        case j: SortMergeJoinExec => Seq(j.left, j.right)
        case j: ShuffledHashJoinExec => Seq(j.left, j.right)
      }.flatten
      val inPlace = joinChildren.exists(side =>
        side.collect { case s: ShuffleExchangeExec => s }.isEmpty &&
          side.collect { case f: FileSourceScanExec => f }.exists(
            _.tableIdentifier.exists(_.table == s"${name}_postings")))
      assert(inPlace,
        s"postings must join bucket-aligned, not re-shuffled:\n$plan")
      got
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
    }
  }

  test("screen == exact cross pairs; index side joins without a shuffle") {
    val corpus = Seq(1L -> base, 2L -> uniq('a'), 3L -> uniq('b'))
    val batch = Seq(10L -> nearDup, 11L -> uniq('c'), 12L -> base)
    try {
      LshIndex.build(corpus.toDF("doc_id", "text"), "lshspec", buckets = 4)
      val got = assertScreenInPlace("lshspec")(
        LshIndex.screen(batch.toDF("doc_id", "text"), "lshspec", 0.8))
      assert(got == exactPairs(batch, corpus, 0.8),
        s"screen must equal the exact cross-pair set: $got")

      // incremental append: land the batch, screen a second batch that
      // near-dups one of the APPENDED docs
      LshIndex.append(batch.toDF("doc_id", "text"), "lshspec", buckets = 4)
      val second = Seq(20L -> nearDup, 21L -> uniq('d'))
      val got2 = LshIndex.screen(second.toDF("doc_id", "text"), "lshspec", 0.8)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got2 == exactPairs(second, corpus ++ batch, 0.8),
        s"screen after append must see the landed batch: $got2")
      assert(got2.contains((20L, 10L)),
        "the second batch's near-dup of an APPENDED doc must surface")
    } finally {
      spark.sql("drop table if exists lshspec_postings")
      spark.sql("drop table if exists lshspec_grams")
    }
  }

  /** The q138 ingest loop's crash story: foreachBatch is
    * at-least-once, so a batch whose side effects LANDED but whose
    * checkpoint commit didn't is re-run on restart. The loop is the
    * r17 append-FIRST shape: the batch lands in the index, then one
    * bucket-aligned screen against the index (which now contains the
    * batch) finds cross-batch AND within-batch pairs — no separate
    * within-leg. The injected crash throws AFTER the index appends
    * and the pair write of batch 1 — the worst case — and the
    * restart must (a) replay batch 1 (observed), (b) not
    * double-append it (batch_id gate), (c) still produce exactly the
    * brute-force near-dup pair set, within-batch pairs included. */
  test("ingest loop: a replayed batch cannot double-append the index") {
    import scala.jdk.CollectionConverters._
    val docs = Seq(
      1L -> base, 2L -> uniq('a'),
      3L -> nearDup, 4L -> uniq('b'),
      5L -> base, 6L -> base,
      7L -> uniq('c'), 8L -> uniq('d'))
    val tmp = java.nio.file.Files.createTempDirectory("lshrestart").toFile
    val feedDir = new java.io.File(tmp, "feed").getAbsolutePath
    val ckDir = new java.io.File(tmp, "ck").getAbsolutePath
    val outDir = new java.io.File(tmp, "pairs").getAbsolutePath
    val name = "lshrestart"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    @volatile var crashed = false
    def run(): Unit = {
      val q = spark.readStream
        .schema(spark.read.parquet(feedDir).schema)
        .option("maxFilesPerTrigger", 1).parquet(feedDir)
        .writeStream.option("checkpointLocation", ckDir)
        .foreachBatch {
          (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
            seen.add(batchId)
            val sh = Sketches.shingled(batch).persist()
            val post = LshIndex.postingsFromShingled(sh).persist()
            try {
              LshIndex.appendPrepared(post, sh, name, buckets = 4,
                batchId = batchId)
              LshIndex.screenPrepared(post, sh, name, 0.8)
                .select(least(col("doc1"), col("doc2")).as("doc1"),
                  greatest(col("doc1"), col("doc2")).as("doc2"),
                  col("jaccard"))
                .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
              if (batchId == 1 && !crashed) {
                crashed = true
                sys.error("injected crash AFTER batch 1's side effects")
              }
            } finally { post.unpersist(); sh.unpersist(); () }
        }
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    try {
      docs.toDF("doc_id", "text").repartitionByRange(4, col("doc_id"))
        .write.parquet(feedDir)
      LshIndex.build(spark.read.parquet(feedDir).filter(lit(false)),
        name, buckets = 4)
      graft.streaming.StreamRun.withStatePartitions(spark, 4) {
        intercept[Exception](run()) // dies on the injected crash
        // simulate a REAL process death: without this the replay gate
        // would be answered from the JVM high-water mark; dropping it
        // forces the durable table-probe path
        LshIndex.forgetJvmState(name)
        run()                       // resumes from the checkpoint
      }
      assert(seen.asScala.count(_ == 1L) >= 2, s"batch 1 must replay: $seen")
      val postings = spark.table(s"${name}_postings")
      val dupPostings = postings
        .groupBy(col("doc_id"), col("band")).count()
        .filter(col("count") > 1)
      assert(dupPostings.isEmpty,
        s"replay double-appended postings: ${dupPostings.collect().toSeq}")
      val dupGrams = spark.table(s"${name}_grams")
        .groupBy(col("doc_id")).count().filter(col("count") > 1)
      assert(dupGrams.isEmpty,
        s"replay double-appended grams: ${dupGrams.collect().toSeq}")
      assert(postings.select(col("batch_id")).distinct()
        .collect().map(_.getLong(0)).toSet == Set(0L, 1L, 2L, 3L),
        "every batch must land exactly once")
      val got = spark.read.parquet(outDir)
        .select(col("doc1"), col("doc2")).distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val expected = exactPairs(docs, docs, 0.8).filter(p => p._1 < p._2)
      assert(got == expected,
        s"pairs after crash+replay must equal brute force: $got != $expected")
    } finally {
      spark.sql(s"drop table if exists ${name}_postings")
      spark.sql(s"drop table if exists ${name}_grams")
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(tmp)
    }
  }

  /** Small-file lifecycle: repeated appends accumulate files;
    * [[LshIndex.maybeCompact]] rewrites both tables down to one file
    * per bucket without losing rows, the replay gate (batch_id
    * values) survives the rewrite, and the screen join stays
    * bucket-aligned against the COMPACTED table. */
  test("compaction bounds index files and preserves the replay gate") {
    val name = "lshcompact"
    val corpus = Seq(1L -> base)
    try {
      LshIndex.build(corpus.toDF("doc_id", "text"), name, buckets = 4)
      val batches = (0 until 8).map(i =>
        i.toLong -> Seq((100L + i) -> uniq(('e' + i).toChar)))
      for ((id, docs) <- batches)
        LshIndex.append(docs.toDF("doc_id", "text"), name, buckets = 4,
          batchId = id)
      val before = spark.table(s"${name}_postings").inputFiles.length
      assert(before > 8, s"appends should accumulate files, got $before")
      val rows = spark.table(s"${name}_postings").count()
      val gramRows = spark.table(s"${name}_grams").count()
      LshIndex.maybeCompact(name, buckets = 4, maxFilesPerBucket = 1)
      assert(spark.table(s"${name}_postings").inputFiles.length <= 4,
        "compaction must leave at most one file per bucket")
      assert(spark.table(s"${name}_grams").inputFiles.length <= 4)
      assert(spark.table(s"${name}_postings").count() == rows,
        "compaction must not lose or duplicate posting rows")
      assert(spark.table(s"${name}_grams").count() == gramRows)
      // the replay gate reads batch_id from the COMPACTED files: a
      // replay of an already-landed batch must still be a no-op even
      // from a fresh JVM (high-water marks dropped → durable probe)
      LshIndex.forgetJvmState(name)
      LshIndex.append(batches(3)._2.toDF("doc_id", "text"), name,
        buckets = 4, batchId = 3L)
      assert(spark.table(s"${name}_postings").count() == rows,
        "an already-applied batch must not re-append after compaction")
      // and the screen contract holds against the compacted table
      val probe = Seq(200L -> nearDup)
      val got = assertScreenInPlace(name)(
        LshIndex.screen(probe.toDF("doc_id", "text"), name, 0.8))
      val landed = corpus ++ batches.flatMap(_._2)
      assert(got == exactPairs(probe, landed, 0.8),
        s"screen after compaction must equal the exact cross-pair set: $got")
    } finally {
      spark.sql(s"drop table if exists ${name}_postings")
      spark.sql(s"drop table if exists ${name}_grams")
      spark.sql(s"drop table if exists ${name}_postings__c")
      spark.sql(s"drop table if exists ${name}_grams__c")
    }
  }

  /** The INTERLEAVING the two specs above prove only separately: a
    * crash BETWEEN an append's two table writes (postings landed,
    * grams did not — the worst partial state), then a COMPACTION over
    * that half-landed index, then the replay. Two replay paths are
    * exercised in order: (1) same-JVM — the high-water-mark fast path
    * must skip the compacted-but-landed postings (hwm == batchId) and
    * append the missing grams (hwm + 1 == batchId) with no table
    * probe; (2) fresh-JVM (marks dropped) — a second replay must
    * answer both gates from the durable batch_id column of the
    * COMPACTED files and no-op. Zero duplicates, no lost rows, and
    * the screen contract stays oracle-green and bucket-aligned. */
  test("mid-append crash + compaction + replay: no dup, no loss") {
    val name = "lshrace"
    val corpus = Seq(1L -> base, 2L -> uniq('a'))
    val b0 = Seq(100L -> uniq('e'))
    val b1 = Seq(101L -> nearDup)
    try {
      LshIndex.build(corpus.toDF("doc_id", "text"), name, buckets = 4)
      LshIndex.append(b0.toDF("doc_id", "text"), name, buckets = 4,
        batchId = 0L)
      // ---- batch 1, crashing between the postings and grams writes:
      // the grams frame detonates at evaluation time, AFTER the
      // postings write job committed
      val shReal = Sketches.shingled(b1.toDF("doc_id", "text"))
      val post1 = LshIndex.postingsFromShingled(shReal)
      val shBoom = shReal.select(col("doc_id"),
        expr("if(doc_id >= 0, raise_error('injected mid-append crash'), null)")
          .cast("array<string>").as("grams"))
      intercept[Exception] {
        LshIndex.appendPrepared(post1, shBoom, name, buckets = 4,
          batchId = 1L)
      }
      assert(spark.table(s"${name}_postings")
        .filter(col("batch_id") === 1L).count() > 0,
        "fixture: postings of batch 1 must have landed before the crash")
      assert(spark.table(s"${name}_grams")
        .filter(col("batch_id") === 1L).isEmpty,
        "fixture: grams of batch 1 must be missing after the crash")
      // ---- compaction runs over the half-landed index (the swap the
      // verdict flagged as racing the hwm fast path)
      LshIndex.compact(name, buckets = 4)
      // ---- same-JVM replay: hwm fast paths (skip postings, append
      // grams) must be correct AGAINST THE SWAPPED TABLES
      LshIndex.appendPrepared(post1, shReal, name, buckets = 4,
        batchId = 1L)
      val postRows = spark.table(s"${name}_postings").count()
      val gramRows = spark.table(s"${name}_grams").count()
      // ---- fresh-JVM replay: durable probe path over compacted files
      LshIndex.forgetJvmState(name)
      LshIndex.appendPrepared(post1, shReal, name, buckets = 4,
        batchId = 1L)
      assert(spark.table(s"${name}_postings").count() == postRows,
        "fresh-JVM replay re-appended postings")
      assert(spark.table(s"${name}_grams").count() == gramRows,
        "fresh-JVM replay re-appended grams")
      val dupPostings = spark.table(s"${name}_postings")
        .groupBy(col("doc_id"), col("band")).count()
        .filter(col("count") > 1)
      assert(dupPostings.isEmpty,
        s"duplicate postings: ${dupPostings.collect().toSeq}")
      val dupGrams = spark.table(s"${name}_grams")
        .groupBy(col("doc_id")).count().filter(col("count") > 1)
      assert(dupGrams.isEmpty,
        s"duplicate grams: ${dupGrams.collect().toSeq}")
      assert(spark.table(s"${name}_grams")
        .filter(col("batch_id") === 1L).count() == 1,
        "the replay must have healed the missing grams write")
      // ---- and the screen contract holds over the healed index
      val probe = Seq(200L -> nearDup)
      val got = assertScreenInPlace(name)(
        LshIndex.screen(probe.toDF("doc_id", "text"), name, 0.8))
      assert(got == exactPairs(probe, corpus ++ b0 ++ b1, 0.8),
        s"screen after crash+compact+replay: $got")
    } finally {
      spark.sql(s"drop table if exists ${name}_postings")
      spark.sql(s"drop table if exists ${name}_grams")
      spark.sql(s"drop table if exists ${name}_postings__c")
      spark.sql(s"drop table if exists ${name}_grams__c")
    }
  }

  test("the two table writes run in their own job groups and surface both failures") {
    def write(table: String, fail: Exception): () => Unit = () => {
      val group = spark.sparkContext.getLocalProperty("spark.jobGroup.id")
      assert(group.startsWith(s"lsh_index_${table}_"), group)
      throw fail
    }
    val e = intercept[IllegalStateException](LshIndex.bothTables(
      spark.sparkContext,
      write("postings", new IllegalStateException("postings")),
      write("grams", new IllegalArgumentException("grams"))))
    assert(e.getMessage == "postings")
    assert(e.getSuppressed.map(_.getMessage).toSeq == Seq("grams"))
  }
}
