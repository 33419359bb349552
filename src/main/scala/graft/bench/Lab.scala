package graft.bench

import graft.GraftSession
import org.apache.spark.GraftBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import java.nio.file.Files

import scala.jdk.CollectionConverters._

/** Optimization-round workbench (not part of the driver contract):
  * times named queries exactly the way Bench does ([[Measure.pass]],
  * min-of-N) and dumps each query's `explain("formatted")` to
  * plans/<tag>/<query>_<suffix>.txt so plan-shape claims in
  * OPTIMIZATION_rNN.md are reproducible. Usage:
  *
  *   sbt "runMain graft.bench.Lab <tag> <suffix> <reps> q.. q.."
  *
  * e.g. `runMain graft.bench.Lab r16 before 2 q138_stream_index_loop`.
  * With reps 0 it only writes the plans, skipping the warmup. Reads
  * SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS like Bench.
  */
object Lab {
  private val Usage =
    "usage: runMain graft.bench.Lab <tag> <suffix> <reps> <query> [query ...]" +
      " (conf A/B via SPARK_GRAFT_LAB_CONF=\"key=val;key=val\")"

  def main(args: Array[String]): Unit = {
    // malformed usage must die with the usage line, not an
    // ArrayIndexOutOfBounds/MatchError (ADVICE r16 #4)
    if (args.length < 4 || args(2).toIntOption.isEmpty) {
      System.err.println(Usage)
      sys.exit(2)
    }
    val tag = args(0)
    val suffix = args(1)
    val reps = args(2).toInt
    val names = args.drop(3).toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // conf A/B hook: SPARK_GRAFT_LAB_CONF="key=val;key=val"
    val conf = sys.env.get("SPARK_GRAFT_LAB_CONF").toSeq
      .flatMap(_.split(";").filter(_.nonEmpty))
      .map { kv =>
        kv.split("=", 2) match {
          case Array(k, v) => k -> v
          case _ =>
            System.err.println(
              s"[lab] malformed SPARK_GRAFT_LAB_CONF entry '$kv' — $Usage")
            sys.exit(2)
        }
      }
      .toMap
    val spark = GraftSession(GraftSession.cpus, "graft-lab", conf)

    val unknown = names.filterNot(graft.SparkEntry.queries.keySet)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")

    val dir = new java.io.File(s"plans/$tag")
    dir.mkdirs()

    // same warmup query Bench uses, absorbing JVM/codegen startup
    if (reps > 0) Measure.pass(spark, sfDir, "q01_pricing_summary")

    // job inventory: per-job wall time + description over the LAST
    // pass of each query, so a multi-job query (streaming foreachBatch
    // loops, eager checkpoints) shows WHERE its wall-clock goes —
    // guide §1's "decide whether the time is going to shuffle read /
    // compute / scheduler" at job grain. Listener events arrive
    // asynchronously: the bus is drained before the log is cleared or
    // read, so no job lands in the wrong pass.
    val jobLog = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.sparkContext.addSparkListener(new SparkListener {
      private val starts =
        new java.util.concurrent.ConcurrentHashMap[Int, SparkListenerJobStart]()
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        starts.put(j.jobId, j); ()
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        Option(starts.remove(j.jobId)).foreach { s =>
          val desc = Option(s.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description")))
            .getOrElse("")
          val secs = (j.time - s.time) / 1000.0
          jobLog.add(f"job ${j.jobId}%4d $secs%7.3fs  $desc"); ()
        }
    })
    val out = BenchRecord.mapper.createObjectNode()
    names.foreach { n =>
      val plan = graft.SparkEntry.queries(n)(spark, sfDir).queryExecution
        .explainString(org.apache.spark.sql.execution.FormattedMode)
      Files.writeString(
        new java.io.File(dir, s"${n}_$suffix.txt").toPath, plan + "\n")
      val times = (1 to reps).map { _ =>
        GraftBus.drain(spark.sparkContext)
        jobLog.clear()
        val (seconds, steal) = Measure.pass(spark, sfDir, n)
        val st = steal.fold("?")(p => f"$p%.1f")
        System.err.println(f"[lab] $n pass: $seconds%.2fs steal=$st%%")
        seconds
      }
      if (reps > 0) {
        GraftBus.drain(spark.sparkContext)
        System.err.println(s"[lab] $n job inventory (${jobLog.size} jobs):")
        jobLog.asScala.foreach(l => System.err.println(s"[lab]   $l"))
      }
      val a = out.putArray(n)
      times.foreach(t => a.add(math.round(t * 1000) / 1000.0))
    }
    println(BenchRecord.mapper.writeValueAsString(out))
    spark.stop()
  }
}
