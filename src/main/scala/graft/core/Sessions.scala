package graft.core

import org.apache.spark.sql.SparkSession

/** The one SparkSession builder of the graft mains. */
object Sessions {

  /** A session on `master` with `shufflePartitions` shuffle partitions,
    * UTC session time and the Spark UI off, its driver log at
    * `logLevel`. `appName` is Spark's generated one unless given. */
  def local(master: String, shufflePartitions: String, logLevel: String,
      appName: Option[String] = None): SparkSession = {
    val b = SparkSession.builder().master(master)
    appName.foreach(b.appName)
    val s = b
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel(logLevel)
    s
  }
}
