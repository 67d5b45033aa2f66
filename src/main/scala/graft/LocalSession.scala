package graft

import org.apache.spark.sql.SparkSession

/** The one place a local-mode SparkSession is configured for the mains under
  * `graft.bench` and for the test suite: `local[cpus]` with one shuffle
  * partition per core, AQE on, UTC session time zone, no UI, ERROR logging.
  * Callers pass only the settings that are really theirs in `extraConf`,
  * applied after (and so overriding) the shared ones.
  *
  * [[graft.Bench]] and [[graft.Verify]] build their sessions themselves:
  * their config is frozen so round-over-round numbers stay comparable. */
object LocalSession {
  /** Local core count: `SPARK_GRAFT_CPUS`, else every available processor. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  def apply(app: String, cpus: Int, extraConf: (String, String)*): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(app)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val spark = extraConf.foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
