package graft

import graft.obs.Measure

/** One `spark-submit` scaling leg — the literal reading of the north
  * rule's "run via spark-submit on a multi-executor cluster at two
  * cluster sizes". The master and executor topology come from the
  * spark-submit command line (`scripts/submit_scaling.sh` launches
  * `local-cluster[1,2,…]` then `local-cluster[4,2,…]` — real separate
  * executor JVMs started by the Spark distribution, app classes shipped
  * as the packaged jar); this main only runs the dedup-cluster pipeline
  * (JIT warm-up leg, then best-of-2) and prints ONE JSON line
  * `{files, sec, execCpuSec, master}` for the script to aggregate into
  * scaling efficiency. Interleaving, best-of-K, and the work-efficiency
  * computation live in the script, per the BASELINE.md noise rules.
  */
object SubmitLeg {
  def main(args: Array[String]): Unit = {
    val nBases = args.headOption.map(_.toLong).getOrElse(10000L)
    val warm = math.max(nBases / 10, 1000L)
    // master, partitions and memory come from spark-submit, whose
    // settings win over the session defaults
    val spark = Measure.session(2)
    val meter = new ExecCpuMeter(spark.sparkContext)
    // the warm-up JITs and codegens in every executor
    val best = Measure.bestOf(2, Bench.runPipeline(spark, warm),
      () => meter.settledNs() / 1e9)(Bench.runPipeline(spark, nBases))
    println(
      f"""{"metric":"submit_leg","files":${best.result},"sec":${best.wallSec}%.3f,""" +
      f""""execCpuSec":${best.cpuSec}%.2f,"master":"${spark.sparkContext.master}"}""")
    spark.stop()
  }
}
