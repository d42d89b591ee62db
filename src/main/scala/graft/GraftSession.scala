package graft

import org.apache.spark.sql.SparkSession

/** The one local-session config shared by `Bench`, `Verify`, the specs and
  * `testkit.Probe`, so the plan a probe dumps is the plan the bench runs. */
object GraftSession {
  /** `SPARK_GRAFT_CPUS`, else the machine's cores. */
  def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // events.ts is nanosecond parquet; read as long, Tables.events converts
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
