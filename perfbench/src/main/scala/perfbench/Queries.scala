package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One timed query: `construct` is the `fn(spark, dir)` call, `exec`
  * the action that writes the rows the oracle check reads. */
final case class QueryRun(pass: Int, name: String, cls: String,
    construct: Double, exec: Double, out: String) {
  def seconds: Double = construct + exec
}

/** Job, task and shuffle counts per query, from a listener the
  * benchmark registers for the traced pass. */
final class QueryListener extends SparkListener {
  final class Counts {
    var jobs = 0L; var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var shuffleBytes = 0L
  }
  val byQuery: mutable.Map[String, Counts] = mutable.Map.empty
  private val stageQuery = mutable.Map.empty[Int, String]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val q = Option(e.properties).flatMap(p => Option(p.getProperty(Queries.Property)))
    q.foreach { name =>
      byQuery.getOrElseUpdate(name, new Counts).jobs += 1
      e.stageIds.foreach(stageQuery(_) = name)
    }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (name <- stageQuery.get(e.stageId); m <- Option(e.taskMetrics)) {
      val c = byQuery.getOrElseUpdate(name, new Counts)
      c.tasks += 1
      c.runMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.shuffleBytes += m.shuffleReadMetrics.totalBytesRead
    }
  }
}

/** `query_suite`: relational and curation queries from the program's
  * registry over the generated tables, in two classes.
  *  - capture: single-plan relational and CDC-surface queries, no
  *    eager jobs before the final plan exists.
  *  - curation: text and vector dedup queries whose functions run many
  *    eager jobs (28 and 60 at the parent commit) before returning.
  * The streaming queries (q93, q138) and the WAL-feed codec queries
  * (q52, q337, q338) are left out: they write their feeds to fixed
  * paths outside the benchmark's working directory. */
object Queries {
  val Property = "perfbench.query"
  /** About how long one pass takes at the parent commit. */
  val PassSeconds = 10
  val classes: Seq[(String, Seq[String])] = Seq(
    "capture" -> Seq("q07_left_join_spend", "q08_asof_latest", "q25_cdc_apply",
      "q41_codec_roundtrip", "q42_codec_txlog", "q47_merge_snapshot",
      "q49_typed_projection"),
    "curation" -> Seq("q69_dup_clusters", "q85_semantic_dedup"))
  private val classOf = for ((c, qs) <- classes; q <- qs) yield q -> c

  /** Write the oracle SQL of the selected queries for the checker. */
  def writeOracles(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path,
      Stats.json(classOf.map { case (q, _) => q -> graft.SparkEntry.oracleSql(q) }.toMap))
  }

  /** Run every query once, in an order drawn from `seed`. */
  def pass(spark: SparkSession, data: String, results: String, pass: Int,
      seed: Long): Seq[QueryRun] = {
    val order = new scala.util.Random(seed * 1000003L + pass).shuffle(classOf)
    order.map { case (name, cls) =>
      val out = s"$results/p$pass/$name"
      spark.sparkContext.setLocalProperty(Property, name)
      // settle the heap first, as graft.Bench does, so one query's
      // garbage is not collected inside the next one's time
      LiveHeap.checkpoint()
      try {
        val t0 = System.nanoTime()
        val df = graft.SparkEntry.queries(name)(spark, data)
        val t1 = System.nanoTime()
        df.write.mode("overwrite").parquet(out)
        val t2 = System.nanoTime()
        QueryRun(pass, name, cls, (t1 - t0) / 1e9, (t2 - t1) / 1e9, out)
      } finally spark.sparkContext.setLocalProperty(Property, null)
    }
  }

  /** Untraced: `seconds` / PassSeconds passes. Traced: untraced, traced
    * and untraced passes; the layer metrics come from the traced one. */
  def run(spark: SparkSession, data: String, results: String, seed: Long,
      seconds: Int, traced: Boolean, setup: Setup)
      : (Seq[QueryRun], mutable.LinkedHashMap[String, (Double, String)]) = {
    writeOracles(java.nio.file.Paths.get(results, "oracle_sql.json"))
    val warm = setup.once("warmup")(pass(spark, data, results, 0, seed))
    val layers = mutable.LinkedHashMap.empty[String, (Double, String)]
    if (!traced) {
      val runs = mutable.ArrayBuffer.empty[QueryRun]
      (1 to Stats.units(seconds, PassSeconds)).foreach(p =>
        runs ++= pass(spark, data, results, p, seed))
      return (warm ++ runs, layers)
    }
    // untraced, traced, untraced: a warm-up trend across the passes
    // cancels out of the overhead
    val before = pass(spark, data, results, 1, seed)
    val listener = new QueryListener
    spark.sparkContext.addSparkListener(listener)
    val withTrace = pass(spark, data, results, 2, seed)
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    val after = pass(spark, data, results, 3, seed)
    val (t0, t1) = ((before ++ after).map(_.seconds).sum / 2, withTrace.map(_.seconds).sum)
    layers("trace.overhead_pct") = (100 * (t1 - t0) / t0, "%")
    for ((cls, names) <- classes) {
      val runs = withTrace.filter(_.cls == cls)
      val counts = names.flatMap(listener.byQuery.get)
      def sum(f: listener.Counts => Long) = counts.map(f).sum.toDouble
      layers ++= Seq(
        s"queries.$cls.construct_s" -> (runs.map(_.construct).sum, "s"),
        s"queries.$cls.exec_s" -> (runs.map(_.exec).sum, "s"),
        s"queries.$cls.jobs" -> (sum(_.jobs), "count"),
        s"queries.$cls.tasks" -> (sum(_.tasks), "count"),
        s"queries.$cls.task_run_s" -> (sum(_.runMs) / 1e3, "s"),
        s"queries.$cls.task_cpu_s" -> (sum(_.cpuNs) / 1e9, "s"),
        s"queries.$cls.shuffle_read_mb" -> (sum(_.shuffleBytes) / 1e6, "MB"))
    }
    withTrace.foreach(r => layers(s"queries.${r.name}.s") = (r.seconds, "s"))
    (warm ++ before ++ withTrace ++ after, layers)
  }
}
