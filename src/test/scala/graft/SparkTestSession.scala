package graft

import org.apache.spark.sql.SparkSession

import graft.obs.Measure

/** One shared local session for all suites (sbt forks a single test JVM). */
object SparkTestSession {
  lazy val spark: SparkSession = Measure.session(4, extra = Map(
    "spark.app.name" -> "graft-tests",
    "spark.sql.shuffle.partitions" -> "8"))

  /** `body` with adaptive execution's partition coalescing off, so the
    * shuffles it runs keep all 8 partitions even on a tiny input. */
  def uncoalesced[T](body: => T): T = {
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    val before = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try body
    finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}
