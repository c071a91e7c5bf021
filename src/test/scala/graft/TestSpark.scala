package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites — built through
  * [[GraftSession]] so every spec runs with the production wiring
  * (UTC, nanosAsLong, and the GraftExtensions Catalyst additions:
  * RangeJoinRewrite + BucketedJoinStrategy). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder(cores = 4)
      .appName("graft-test")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Runs `body` with the given session confs set, restoring the previous
    * values (or unsetting keys that had none) afterwards. */
  def withConf[A](pairs: (String, String)*)(body: => A): A = {
    val old = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
