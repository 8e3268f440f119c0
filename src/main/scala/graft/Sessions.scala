package graft

import org.apache.spark.sql.SparkSession

/** The one local SparkSession set-up shared by every main and the test
  * suite: `local[cpus]`, shuffle partitions = cpus, UTC session time
  * zone, UI off, WARN logging.
  */
object Sessions {

  /** Local cores: `SPARK_GRAFT_CPUS`, else every available processor. */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors().toString)

  def local(appName: String, cpus: String = cpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
