package graft

import org.apache.spark.sql.SparkSession

/** The specs' one session: `local[4]`, 4 shuffle partitions, UTC, built
  * once per test JVM by [[LocalSpark]] and never stopped by a suite.
  *
  * All suites run in one forked JVM, where `getOrCreate` hands every later
  * builder the first one's session anyway: its master wins, later
  * `withExtensions` are dropped and runtime confs leak from suite to suite.
  * A suite that needs another conf sets it and restores it (`withConf`).
  */
trait SharedSpark {
  protected lazy val spark: SparkSession = LocalSpark(4, 4, "graft-test")

  /** Runs `f` with runtime conf `key` set to `value`, then restores it. */
  protected def withConf[T](key: String, value: String)(f: => T): T = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try f
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
