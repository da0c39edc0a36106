package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.Suite

/** A suite's Spark session: the [[GraftSession]] factory's, at a fixed
  * local[4] so results do not depend on the host's core count.
  *
  * All suites in a test JVM share one session. Building it here means the
  * first session carries the factory's static confs (the codegen cache
  * size) whichever suite runs first, and re-applies the factory's runtime
  * confs each time a suite starts. A suite that needs another runtime conf
  * sets it with [[withConf]], which restores the previous value, so it does
  * not leak into later suites.
  */
trait SparkSuite { this: Suite =>

  lazy val spark: SparkSession =
    GraftSession.builder(cpus = 4).getOrCreate()

  def withConf[A](kvs: (String, String)*)(body: => A): A = {
    val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
