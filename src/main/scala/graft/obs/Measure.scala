package graft.obs

import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

/** The measurement harness of every entry point but the frozen
  * [[graft.Bench]]: session setup, process CPU, warm-up then best-of-K,
  * and interleaved two-leg rounds, under the BASELINE.md noise rules (a
  * single sample on a shared host is not evidence).
  */
object Measure {

  /** Corpus parquet compresses about 3×: splits this small keep featurize
    * from being input-bound at any core count (the setting graft.Bench
    * uses).
    */
  val SmallSplits: Map[String, String] =
    Map("spark.sql.files.maxPartitionBytes" -> s"${8 * 1024 * 1024}")

  /** The local core count an sbt run asks for in SPARK_GRAFT_CPUS, or
    * `default`. */
  def envCpus(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").fold(default)(_.toInt)

  /** The confs a session builder gets: the defaults for `cpus` local cores,
    * then the caller's, minus every key the JVM's system properties hold.
    * spark-submit passes `--master` and each `--conf` as a system property,
    * and a conf set on the builder would override it, so what the command
    * line sets wins.
    */
  def confs(cpus: Int, caller: Map[String, String],
      props: collection.Map[String, String]): Map[String, String] =
    (Map(
      "spark.master" -> s"local[$cpus]",
      "spark.sql.shuffle.partitions" -> cpus.toString,
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false") ++ caller)
      .filter { case (k, _) => !props.contains(k) }

  /** A session with [[confs]] of `extra` over this JVM's system
    * properties. */
  def session(cpus: Int, logLevel: String = "WARN",
      extra: Map[String, String] = Map.empty): SparkSession = {
    val spark = confs(cpus, extra, sys.props)
      .foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }

  /** Stops the current session, so the next [[session]] starts a fresh
    * context with its own master. */
  private def stopSession(): Unit = {
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** CPU seconds this JVM has used, all threads. */
  private def processCpuSec(): Double = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    .getProcessCpuTime / 1e9

  /** One measured run: its result, wall seconds and CPU seconds. */
  final case class Sample[T](result: T, wallSec: Double, cpuSec: Double)

  /** `body`'s result with its wall seconds on `clockNs`. */
  def timed[T](body: => T,
      clockNs: () => Long = () => System.nanoTime()): (T, Double) = {
    val t0 = clockNs()
    val r = body
    (r, (clockNs() - t0) / 1e9)
  }

  /** Runs `warmUp` once, uncounted (JIT and codegen), then `body` `k`
    * times, and returns the run with the least wall time together with
    * that run's own CPU — not the least CPU of any run. `body` returns its
    * result and its wall seconds ([[timed]], or a figure it measures
    * itself); `cpuSec` is a cumulative counter, process CPU by default or
    * a [[graft.ExecCpuMeter]].
    */
  def bestOf[T](k: Int, warmUp: => Any = (),
      cpuSec: () => Double = () => processCpuSec())(
      body: => (T, Double)): Sample[T] = {
    require(k >= 1, s"best of $k runs")
    warmUp
    (1 to k).map { _ =>
      val c0 = cpuSec()
      val (r, wall) = body
      Sample(r, wall, cpuSec() - c0)
    }.minBy(_.wallSec)
  }

  /** `rounds` rounds of two legs, `a` first in odd rounds and `b` first in
    * even ones, so a drift in host load lands on both. `endLeg` runs after
    * every leg; by default it stops the session the leg opened. Returns
    * each leg's results in round order.
    */
  def interleaved[A](rounds: Int, a: () => A, b: () => A,
      endLeg: () => Unit = () => stopSession()): (Seq[A], Seq[A]) = {
    def leg(f: () => A): A = try f() finally endLeg()
    val rs = (1 to rounds).map { r =>
      if (r % 2 == 1) { val x = leg(a); (x, leg(b)) }
      else { val y = leg(b); (leg(a), y) }
    }
    (rs.map(_._1), rs.map(_._2))
  }
}
