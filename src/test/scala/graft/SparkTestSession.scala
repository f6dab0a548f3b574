package graft

import org.apache.spark.sql.SparkSession

import graft.obs.Measure

/** One shared local session for all suites (sbt forks a single test JVM). */
object SparkTestSession {
  lazy val spark: SparkSession = Measure.session(4, extra = Map(
    "spark.app.name" -> "graft-tests",
    "spark.sql.shuffle.partitions" -> "8"))
}
