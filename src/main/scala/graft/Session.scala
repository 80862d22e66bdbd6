package graft

import org.apache.spark.sql.SparkSession

/** The one local-session builder of the mains (`Bench`, `Verify`, `Explain`,
  * `ScalingProbe`): AQE on (Spark's default, stated), the UTC session time
  * zone and no UI. Each caller passes its cores, shuffle partitions, log
  * level and any extra settings (`conf`). */
object Session {
  def local(cores: String, shufflePartitions: String, logLevel: String = "WARN",
            conf: Map[String, String] = Map.empty): SparkSession = {
    val base = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val s = conf.foldLeft(base) { case (b, (k, v)) => b.config(k, v) }.getOrCreate()
    s.sparkContext.setLogLevel(logLevel)
    s
  }
}
