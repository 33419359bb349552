package graft

import org.apache.spark.sql.SparkSession

/** The one Spark session every main and the test suites run on, so
  * Bench times, Verify checks, Lab inspects and the tests exercise the
  * same semantics: a plan that holds under one of them holds under all.
  */
object GraftSession {

  /** Local cores for the harness mains: `SPARK_GRAFT_CPUS`, default 4. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.toInt)

  /** A `local[cpus]` session with one shuffle partition per core, UTC,
    * nanosecond parquet timestamps read as longs ([[Tables.load]]
    * converts them), AQE and ANSI on, and no UI. `conf` is set after
    * these, so it overrides them. */
  def apply(cpus: Int, appName: String,
      conf: Map[String, String] = Map.empty): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.ansi.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config(conf)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
