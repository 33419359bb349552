package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Loaders for the driver-generated TPC-H-ish corpus (TESTDATA.md).
  *
  * One parquet file per table under the given sf directory. All query
  * entry points take `(spark, sfDir)` so the same code runs at any
  * scale factor — and, on a real cluster, against a 100 TB lake by
  * pointing `sfDir` at the lake root.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$dir/$name.parquet")
    // Normalize events.ts to session-TZ TIMESTAMP whatever parquet
    // form the generator used. Earlier corpora wrote TIMESTAMP(NANOS),
    // which Spark only reads as a long (spark.sql.legacy.parquet
    // .nanosAsLong, set by GraftSession) — values are
    // µs-precision, so ns→µs is lossless. Newer corpora write
    // TIMESTAMP(MICROS, isAdjustedToUTC=false), which arrives as
    // TIMESTAMP_NTZ; the session TZ is UTC everywhere, so the NTZ→LTZ
    // cast denotes the same instant DuckDB reads.
    df.schema.find(_.name == "ts").map(_.dataType) match {
      case Some(LongType) =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case Some(org.apache.spark.sql.types.TimestampNTZType) =>
        df.withColumn("ts",
          col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }
  }

  /** Fan a (small-file, compute-heavy) scan out to full parallelism.
    * Small parquet inputs arrive as 1-2 input partitions (row-group
    * granularity), which serializes CPU-bound projections like
    * tokenization or wire encoding onto one core; a round-robin
    * rebalance of the raw rows is cheap relative to that compute.
    *
    * Reserved for per-row CPU-heavy pipelines — cheap scans (hash
    * aggregations, projections) lose more to the exchange than they
    * gain (r3 measured q30 0.2 s → 1.9 s under a blanket rebalance).
    * The gate reads optimizer statistics (file sizes), NOT
    * `df.rdd.getNumPartitions`, which forced a full physical-plan
    * evaluation per call: a scan big enough to already fan out to
    * `defaultParallelism` partitions passes through untouched — on a
    * real lake this is a no-op and AQE owns the layout.
    */
  def wide(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val target = spark.sparkContext.defaultParallelism
    val maxPartBytes = spark.sessionState.conf.filesMaxPartitionBytes
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (bytes >= BigInt(maxPartBytes) * target) df
    else df.repartition(target)
  }

  /** Write `df` into the session catalog bucketed (and sorted) by
    * `keys` — the 100 TB co-location tool: two tables bucketed the same
    * way join/aggregate on the bucket keys with NO shuffle exchange
    * (each bucket pair meets on one task). Bucket the big fact tables
    * once at ingest; every later join is exchange-free
    * (BucketedJoinSpec asserts the plan shape). Bucket count should be
    * sized so one bucket ≈ one task's worth of data at the target
    * scale — it is fixed at write time, unlike AQE shuffle coalescing.
    */
  def bucketize(df: DataFrame, table: String, buckets: Int,
      keys: String*): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .format("parquet")
      .saveAsTable(table)

  /** Register all tables as temp views for spark.sql entry points. */
  def registerAll(spark: SparkSession, dir: String): Unit =
    all.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
}
