package graft

import org.apache.spark.sql.SparkSession

/** The one builder of local sessions for graft's mains (`Bench`, `Verify`,
  * `Dev`) and its test fixture: `local[cpus]`, `partitions` shuffle
  * partitions, UTC session time zone, no UI, WARN logging.
  *
  * `getOrCreate` hands back a session already running in the JVM, with only
  * the runtime confs (shuffle partitions, time zone) re-applied: the master
  * and app name of the first call win.
  */
object LocalSpark {

  def apply(cpus: Int, partitions: Int, appName: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", partitions.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** `SPARK_GRAFT_CPUS`, the parallelism level of a main, or `default`. */
  def envCpus(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(default)
}
