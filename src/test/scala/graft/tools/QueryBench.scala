package graft.tools

import graft.SparkEntry
import graft.obs.Measure

/** Times queries best-of-K after a warm-up, with the process CPU of the
  * best run — the only valid way to compare on this noisy host (see
  * BASELINE.md noise rules).
  *
  * `QueryBench <sfDir> <reps> <name>...` times each query in one session
  * at SPARK_GRAFT_CPUS (default: every core; the graft.Bench convention,
  * so numbers compare).
  *
  * `QueryBench <name> [sfDir] [c1] [c2] [rounds]` is two-parallelism
  * scaling evidence for ONE query, the per-query analog of
  * graft.BenchScaling: interleaved rounds of a fresh local[c1] and a fresh
  * local[c2] session, each warmed by one run and then best-of-2, and the
  * per-level best with its process CPU — work efficiency is the
  * contention-robust metric.
  *
  * Run: sbt "Test/runMain graft.tools.QueryBench <args>"
  */
object QueryBench {
  def main(all: Array[String]): Unit = {
    val query = all.headOption.filter(SparkEntry.queries.contains)
    val args = all.drop(query.size)
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    query.fold(bench(sfDir, args))(scaling(_, sfDir, args))
  }

  private def bench(sfDir: String, args: Array[String]): Unit = {
    val reps = args.lift(1).map(_.toInt).getOrElse(3)
    val names = if (args.length > 2) args.drop(2).toSeq
      else Seq("e_ann_topk", "e_lsh_dedup", "e_ivf_topk", "e_cosine_dedup")
    val spark = Measure.session(Measure.envCpus(Runtime.getRuntime.availableProcessors))
    SparkEntry.queries("q1_agg")(spark, sfDir).count() // session warm-up
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      val best = Measure.bestOf(reps)(Measure.timed(fn(spark, sfDir).count()))
      println(f"[qbench] $name%-24s best ${best.wallSec}%7.3f s  cpu ${best.cpuSec}%.1f s")
    }
    spark.stop()
  }

  private def scaling(name: String, sfDir: String, args: Array[String]): Unit = {
    val c1 = args.lift(1).map(_.toInt).getOrElse(2)
    val c2 = args.lift(2).map(_.toInt).getOrElse(8)
    val rounds = args.lift(3).map(_.toInt).getOrElse(3)
    val fn = SparkEntry.queries(name)
    def once(cores: Int) = {
      val spark = Measure.session(cores, "ERROR")
      val s = Measure.bestOf(2, fn(spark, sfDir).count())(
        Measure.timed(fn(spark, sfDir).count()))
      println(f"[qscale] local[$cores] wall=${s.wallSec}%.2f cpu=${s.cpuSec}%.1f")
      s
    }
    val (l1, l2) = Measure.interleaved(rounds, () => once(c1), () => once(c2))
    val (a, b) = (l1.minBy(_.wallSec), l2.minBy(_.wallSec))
    val speedup = a.wallSec / b.wallSec
    val wallEff = speedup / (c2.toDouble / c1)
    val workEff = a.cpuSec / b.cpuSec
    println(f"[qscale] $name best: local[$c1] ${a.wallSec}%.2f s (cpu ${a.cpuSec}%.1f) -> local[$c2] ${b.wallSec}%.2f s (cpu ${b.cpuSec}%.1f)")
    println(f"[qscale] $name speedup x$speedup%.2f at x${c2 / c1} cores | wall-clock eff $wallEff%.2f | workEff $workEff%.2f")
  }
}
