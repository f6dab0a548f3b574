package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
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

  /** `body`'s result and the Spark jobs it started. */
  def withJobs[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(l)
    try { val r = body; ListenerBusDrain(sc); (r, n.get) }
    finally sc.removeSparkListener(l)
  }
}
