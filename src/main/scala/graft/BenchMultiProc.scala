package graft

import graft.obs.Measure

/** Multi-process scaling evidence: the SAME dedup-cluster job on REAL
  * separate executor JVMs via Spark's local-cluster mode — task binaries,
  * shuffle blocks and broadcasts cross process boundaries with full
  * serialization, one step closer to the executor-scale-out claim than
  * the in-process local[N] legs (BASELINE.md "Measured scaling").
  *
  * Leg A: 1 executor × 2 cores; leg B: 4 executors × 2 cores — same
  * per-executor shape, 4× the executors, so eff = thr(B) / (4 · thr(A))
  * is the executor-boundary analog of the north rule's two-cluster-size
  * criterion. Work efficiency is measured from summed per-task
  * executorCpuTime (a SparkListener), i.e. CPU actually burned inside
  * the executor processes — the contention-robust metric on this host.
  *
  * Run: SPARK_HOME=/opt/spark sbt "runMain graft.BenchMultiProc [nBases] [rounds]"
  */
object BenchMultiProc {

  private val addOpens = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar")
    .map(p => s"--add-opens=$p=ALL-UNNAMED").mkString(" ")

  /** One leg: warm-up + best-of-2 pipeline runs on a local-cluster of
    * `workers` executor processes × `cores` each; the CPU of the best run
    * is its executor CPU. */
  private def once(workers: Int, cores: Int, nBases: Long, warm: Long) = {
    val spark = Measure.session(workers * cores, extra = Measure.SmallSplits ++ Map(
      "spark.master" -> s"local-cluster[$workers,$cores,6144]",
      "spark.executor.memory" -> "5g",
      // executors are fresh JVMs: they need the app classes and the JDK17
      // module opens that spark-submit would normally inject
      "spark.executor.extraClassPath" -> sys.props("java.class.path"),
      "spark.executor.extraJavaOptions" -> addOpens))
    val meter = new ExecCpuMeter(spark.sparkContext)
    // the warm-up JITs and codegens in every executor, and writes the
    // measured corpus outside every timed CPU window
    Measure.bestOf(2, {
        Bench.corpusPath(spark, nBases); Bench.runPipeline(spark, warm)
      },
      () => meter.settledNs() / 1e9)(Bench.runPipeline(spark, nBases))
  }

  def main(args: Array[String]): Unit = {
    // fail fast with the fix instead of 2x "Cannot find any build
    // directories" executor crashes: the release-layout SPARK_HOME has no
    // launcher/target, so the worker's command builder needs the version
    // pinned in the environment
    require(sys.env.contains("SPARK_HOME") && sys.env.contains("SPARK_SCALA_VERSION"),
      "run with SPARK_HOME=/opt/spark SPARK_SCALA_VERSION=2.13 " +
      "(local-cluster executors are launched via the Spark distribution)")
    val nBases = args.headOption.map(_.toLong).getOrElse(10000L)
    val rounds = args.lift(1).map(_.toInt).getOrElse(2)
    val warm = math.max(nBases / 10, 1000)
    // interleaved legs + per-leg best, per the BASELINE.md noise rules
    val (legA, legB) = Measure.interleaved(rounds,
      () => once(1, 2, nBases, warm), () => once(4, 2, nBases, warm))
    val (a, b) = (legA.minBy(_.wallSec), legB.minBy(_.wallSec))
    require(a.result == b.result)
    val thrA = a.result / a.wallSec
    val thrB = b.result / b.wallSec
    val eff = thrB / (4.0 * thrA)
    val workEff = a.cpuSec / b.cpuSec
    println(
      f"""{"metric":"multiproc_scaling_efficiency","value":$eff%.4f,"files":${a.result},""" +
      f""""executorsA":1,"executorsB":4,"coresPerExecutor":2,""" +
      f""""secA":${a.wallSec}%.2f,"secB":${b.wallSec}%.2f,""" +
      f""""filesPerSecA":$thrA%.1f,"filesPerSecB":$thrB%.1f,""" +
      f""""execCpuSecA":${a.cpuSec}%.1f,"execCpuSecB":${b.cpuSec}%.1f,"workEfficiency":$workEff%.4f}""")
  }
}
