package graft

import org.apache.spark.sql.SparkSession

/** The one local SparkSession recipe every entry point and the test
  * suite share: `local[cpus]` with one shuffle partition per core,
  * nanosecond parquet timestamps read as Long (`Tables.events`
  * normalizes them), UTC so tz-dependent queries (hour windows, date
  * rollups) compute the same thing on any machine, and no UI. */
object Sessions {
  /** Core count from `SPARK_GRAFT_CPUS`, 4 when unset. */
  def envCpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  def local(cpus: String, logLevel: String = "WARN"): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    // the engine's only unpartitioned windows rank ≤k-row tops (PLANS
    // documents the bound) — WindowExec's blanket single-partition
    // warning is noise here; a constant partition key cannot silence
    // it (EliminateWindowPartitions folds it away), so quiet the
    // logger directly
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    spark
  }
}
