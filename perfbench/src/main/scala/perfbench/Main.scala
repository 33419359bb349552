package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One benchmark run inside one JVM. `run.py` builds the classpath,
  * starts this, checks the query results against the oracle, and prints
  * the contract line. Writes `<work>/result.json`.
  *
  * Arguments: `<workload> <seed> <seconds> <trace 0|1> <cores> <work> [data dir]`,
  * or `oracles <file>` to write the query suite's oracle SQL. */
object Main {
  /** The session `graft.Bench` runs queries in: ANSI, AQE, shuffle
    * partitions = cores; scratch space under the run's directory. */
  def session(cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.ansi.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Peak resident memory with the heap counted by what it holds: the
    * process's `VmHWM` less the committed heap, plus `LiveHeap.peak`.
    * `run.py` gives the JVM a fixed, pre-touched heap, so `VmHWM` less
    * that heap is the native peak, and a program that keeps more on the
    * heap shows, though the heap's size stays fixed. */
  private def peakMemMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    val hwmKb = try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble).getOrElse(0.0)
    finally src.close()
    val committed = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getCommitted
    hwmKb / 1024 + (LiveHeap.peak - committed) / 1048576.0
  }

  def main(args: Array[String]): Unit = {
    if (args.head == "oracles") return Queries.writeOracles(java.nio.file.Paths.get(args(1)))
    val Array(workload, seedArg, secondsArg, traceArg, coresArg, work) = args.take(6)
    val (seed, seconds, traced) = (seedArg.toLong, secondsArg.toInt, traceArg == "1")
    val setup = new Setup
    val spark = session(coresArg.toInt, work)
    setup.parts("session") =
      ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    var layers = mutable.LinkedHashMap.empty[String, (Double, String)]
    val result = mutable.LinkedHashMap.empty[String, Any]

    def latency(done: Double, seconds: Double, p50: Double, p99: Double,
        samples: Long): Unit = {
      metrics("done_per_s") = (done / seconds, "1/s")
      metrics("lag_p50_ms") = (p50, "ms")
      metrics("lag_p99_ms") = (p99, "ms")
      result("samples") = samples
    }

    workload match {
      case "cdc_backfill" | "cdc_oltp" =>
        val out =
          if (workload == "cdc_backfill") Cdc.backfill(spark, work, seed, seconds, traced, setup)
          else Cdc.oltp(spark, work, seed, seconds, traced, setup)
        latency(out.appliedChanges.toDouble, out.applySeconds, out.lagP50, out.lagP99,
          out.samples)
        if (traced) Cdc.progressLayers(out)
        layers = out.layers
        result("attempted") = out.attempted
        result("failed") = out.failed
        result("problems") = out.problems
      case "query_suite" =>
        val data = args(6)
        val (runs, ls) = Queries.run(spark, data, s"$work/results", seed, seconds, traced, setup)
        val timed = runs.filter(_.pass > 0)
        val ms = timed.map(_.seconds * 1e3)
        latency(timed.size.toDouble, timed.map(_.seconds).sum,
          Stats.quantile(ms, 0.5), Stats.quantile(ms, 0.99), ms.size)
        layers = ls
        result("attempted") = runs.size
        result("failed") = 0
        result("results") = runs.map(r => Map("name" -> r.name, "out" -> r.out))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    spark.stop()
    metrics("setup_s") = (setup.seconds, "s")
    metrics("peak_rss_mb") = (peakMemMb(), "MB")
    result("setup_parts") = setup.parts
    def pairs(m: mutable.LinkedHashMap[String, (Double, String)]) =
      m.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }
    result("metrics") = pairs(metrics)
    result("layers") = pairs(layers)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(work, "result.json"),
      Stats.json(result))
  }
}
