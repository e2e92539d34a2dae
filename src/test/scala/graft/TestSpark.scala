package graft

import org.apache.spark.sql.SparkSession

/** One SparkSession shared across all suites (sbt runs suites in one
  * JVM; local[8] keeps test latency low while still exercising
  * multi-partition behavior), built by the program's own factory. */
object TestSpark {
  lazy val spark: SparkSession = Harness.session(cpus = 8)

  /** Run `body` with SQL confs overridden, restoring prior values (or
    * unsetting) afterwards — for specs that flip optimizer knobs. */
  def withConfs[A](confs: Map[String, String])(body: => A): A = {
    val saved = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
