package graft

import org.apache.spark.sql.SparkSession

/** The one session shape the mains share (benches, `Verify`, `PlanCheck`,
  * `Main`); each adds only what differs. */
object Sessions {

  /** `local[cpus]` with `cpus` shuffle partitions (`SPARK_GRAFT_CPUS`,
    * default 32), AQE on, UTC session time, parquet timestamps never
    * inferred as NTZ, UI off. Callers add to or override the builder
    * before [[start]]. */
  def builder(cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      : SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")

  /** Get or create the session and set the driver log level. */
  def start(b: SparkSession.Builder = builder(),
      logLevel: String = "WARN"): SparkSession = {
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
