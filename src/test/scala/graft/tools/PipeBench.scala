package graft.tools

import graft.obs.Measure

/** Isolated pipeline-leg timing: fresh session, warm-up, best-of-K —
  * exactly the Bench methodology, without the 3-minute query sweep.
  * Run: sbt "Test/runMain graft.tools.PipeBench [nBases] [cores] [reps]"
  */
object PipeBench {
  def main(args: Array[String]): Unit = {
    val nBases = args.headOption.map(_.toLong).getOrElse(20000L)
    val cores = args.lift(1).map(_.toInt).getOrElse(32)
    val reps = args.lift(2).map(_.toInt).getOrElse(3)
    val spark = Measure.session(cores, extra = Measure.SmallSplits)
    // the warm-up also writes the measured corpus, outside every timed
    // CPU window
    val best = Measure.bestOf(reps, {
        graft.Bench.corpusPath(spark, nBases)
        graft.Bench.runPipeline(spark, math.max(nBases / 10, 1000))
      }) {
      val (n, s) = graft.Bench.runPipeline(spark, nBases)
      println(f"[pipe] $n files ${s}%.2f s wall  ${n / s}%.0f files/s")
      (n, s)
    }
    println(f"[pipe] best wall ${best.wallSec}%.2f s, cpu of that run ${best.cpuSec}%.1f s over $reps reps")
    spark.stop()
  }
}
