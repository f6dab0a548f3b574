package graft

import graft.obs.Measure

/** Scaling-efficiency evidence for the north rule: the same dedup-cluster
  * job on the same input at local[N] and local[4N] (sandbox stand-in for
  * N vs 4N executors). Prints one JSON line with both throughputs and
  * eff = thr(4N) / (4 · thr(N)).
  *
  * Run: sbt "runMain graft.BenchScaling [nBases] [N] [rounds]"
  */
object BenchScaling {

  /** A fresh session at `cores`: warm-up, then best-of-2 pipeline runs;
    * the process CPU of the best run is the contention-independent work
    * measure. */
  private def once(cores: Int, nBases: Long, warmBases: Long) = {
    val spark = Measure.session(cores, extra = Measure.SmallSplits)
    // the warm-up also writes the measured corpus, so no timed run's CPU
    // window pays for generating it
    Measure.bestOf(2, {
      Bench.corpusPath(spark, nBases); Bench.runPipeline(spark, warmBases)
    })(Bench.runPipeline(spark, nBases))
  }

  def main(args: Array[String]): Unit = {
    val nBases = args.headOption.map(_.toLong).getOrElse(20000L)
    val n = args.lift(1).map(_.toInt).getOrElse(8)
    val rounds = args.lift(2).map(_.toInt).getOrElse(2)
    val warm = math.max(nBases / 10, 1000)
    // interleave the two legs and take the per-leg best: the sandbox
    // host's load drifts on the minutes scale
    val (legN, leg4N) = Measure.interleaved(rounds,
      () => once(n, nBases, warm), () => once(4 * n, nBases, warm))
    val (a, b) = (legN.minBy(_.wallSec), leg4N.minBy(_.wallSec))
    require(a.result == b.result)
    val thrN = a.result / a.wallSec
    val thr4N = b.result / b.wallSec
    val eff = thr4N / (4.0 * thrN)
    // work efficiency: total CPU burned at 4N vs N for identical output —
    // ≈1.0 means no parallel overhead, i.e. the job scales on
    // uncontended hardware even when shared-host wall clock is noisy
    val workEff = a.cpuSec / b.cpuSec
    println(
      f"""{"metric":"scaling_efficiency","value":$eff%.4f,"files":${a.result},""" +
      f""""coresN":$n,"cores4N":${4 * n},"secN":${a.wallSec}%.2f,"sec4N":${b.wallSec}%.2f,""" +
      f""""filesPerSecN":$thrN%.1f,"filesPerSec4N":$thr4N%.1f,""" +
      f""""cpuSecN":${a.cpuSec}%.1f,"cpuSec4N":${b.cpuSec}%.1f,"workEfficiency":$workEff%.4f}""")
  }
}
