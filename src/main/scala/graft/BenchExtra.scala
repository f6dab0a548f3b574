package graft

import graft.obs.Measure

/** Supplementary noop-sink benchmark (optimization guide §1.4): times each
  * headline query with `df.write.format("noop")` — which computes EVERY
  * column of EVERY row — alongside the frozen driver bench's `count()`
  * action (which may let the optimizer prune columns). The driver-facing
  * [[Bench]] is FROZEN for measurement and unchanged; this main exists so
  * per-query claims can be cross-checked against a sink that cannot
  * under-count the compute. Prints ONE JSON line.
  *
  * Run: SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=... sbt "runMain graft.BenchExtra"
  */
object BenchExtra {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Measure.envCpus(32)
    val names = if (args.nonEmpty) args.toSeq else Bench.headline
    val spark = Measure.session(cpus, extra = Measure.SmallSplits)
    SparkEntry.queries("q1_agg")(spark, sfDir).count() // session warm-up
    SparkEntry.queries("d_exact_dedup")(spark, sfDir).count()
    val results = names.flatMap { name =>
      SparkEntry.queries.get(name).map { fn =>
        spark.sparkContext.setJobDescription(s"noop: $name")
        val best = Measure.bestOf(2)(Measure.timed( // best-of-2, like Bench
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()))
        spark.sparkContext.setJobDescription(null)
        name -> best.wallSec
      }
    }
    val qs = results.map { case (k, s) => s""""$k":$s""" }.mkString("{", ",", "}")
    val total = results.map(_._2).sum
    println(
      s"""{"metric":"total_noop","value":$total,"unit":"sec","queries":$qs,""" +
      s""""cpus":$cpus,"sf":"$sfDir"}""")
    spark.stop()
  }
}
