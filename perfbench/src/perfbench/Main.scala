package perfbench

import org.apache.spark.sql.SparkSession

/** One JVM of a benchmark run, like one spark-submit: start a session,
  * generate the workload's inputs from the seed, then either run the
  * workload's job once, timed and checked (`--mode job`), or run it once
  * traced, a span around every layer call (`--mode trace`). The last line
  * of standard output is a JSON object with what was measured; run.py
  * starts these JVMs, takes medians and prints the benchmark's result.
  */
object Main {

  final case class Opts(mode: String, workload: String, seed: Long,
      smoke: Boolean, cores: Int, work: String, traces: String)

  private def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def get(k: String) = kv.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    Opts(get("--mode"), get("--workload"), get("--seed").toLong,
      kv.get("--size").contains("smoke"), get("--cores").toInt, get("--work"),
      get("--traces"))
  }

  def session(o: Opts): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"${o.work}/hadoop-tmp")
      // the corpus parquet is small: one split per file, so every core
      // gets a share of featurize
      .config("spark.sql.files.maxPartitionBytes", s"${1 << 20}")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def nums(m: Iterable[(String, Double)]): String =
    Json.obj(m.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) })

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getStartTime
    val w = Workload(o.workload)
    val spark = session(o)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val env = Env(spark, new Ledger, 2 * o.cores)
    val dir = Inputs.dir(o.work, w.name, o.seed, if (o.smoke) "smoke" else "full")
    // each JVM writes its own roots, so no sample resumes another's tables
    val jobDir = s"${o.work}/${o.mode}-${ProcessHandle.current.pid}"
    val fields =
      try {
        if (o.mode == "trace")
          traced(o, w, env, w.generate(spark, o.seed, o.smoke, dir, env.parts),
            jobDir)
        else {
          val t0 = System.nanoTime()
          val in = w.generate(spark, o.seed, o.smoke, dir, env.parts)
          val inputsS = (System.nanoTime() - t0) / 1e9
          println(f"[perfbench] ${w.name} seed ${o.seed}: ${in.totalFiles} " +
            f"files, ${in.totalMb}%.1f MB; session $sessionS%.2f s, inputs " +
            f"$inputsS%.2f s")
          ("setup_s" -> Json.num(sessionS + inputsS)) +: job(o, w, env, in,
            jobDir)
        }
      } finally {
        spark.stop()
        Jobs.deleteTree(jobDir)
      }
    val l = env.ledger
    l.errors.foreach(e => println(s"[perfbench] error: $e"))
    println(Json.obj(fields ++ Seq(
      "attempted" -> Json.num(l.attempted), "failed" -> Json.num(l.failed))))
    sys.exit(if (l.failed == 0) 0 else 1)
  }

  /** The workload's job once, on a cold engine as a spark-submit runs it.
    * The meter keeps wall per phase, and CPU and peak RSS over the phases
    * only, not over the output checks between them. */
  private def job(o: Opts, w: Workload, env: Env, in: Inputs,
      jobDir: String): Seq[(String, String)] = {
    val meter = new Meter(env.spark.sparkContext)
    System.gc()
    val out =
      try Some(w.job(env, in, jobDir, s"perfbench-${o.seed}", meter))
      catch { case _: CallFailed => None }
    val probe =
      try w.probe(env, in, trace = false)
      catch { case _: CallFailed => Map.empty[String, Double] }
    println(f"[perfbench] job: " + meter.wallS.map { case (k, v) =>
      f"$k $v%.3f s" }.mkString(", ") + f"; cpu ${meter.cpuS}%.2f s, " +
      f"executor cpu ${meter.execCpuS}%.2f s, peak rss " +
      f"${meter.peakRssMb}%.0f MB")
    Seq(
      "files" -> Json.num(in.totalFiles),
      "mb" -> Json.num(in.totalMb),
      "phases_s" -> nums(meter.wallS),
      "cpu_s" -> Json.num(meter.cpuS),
      "exec_cpu_s" -> Json.num(meter.execCpuS),
      "peak_rss_mb" -> Json.num(meter.peakRssMb),
      "counts" -> nums(out.fold(Map.empty[String, Double])(
        _.counts.map { case (k, v) => k -> v.toDouble })),
      "product" -> nums(out.fold(Map.empty[String, Double])(_.product) ++ probe))
  }

  /** The traced run, the kernels and the span-tree self-check. */
  private def traced(o: Opts, w: Workload, env: Env, in: Inputs,
      jobDir: String): Seq[(String, String)] = {
    val tr = new Tracer(env.spark.sparkContext)
    val out =
      try Some(env.ledger.call("traced run") {
        tr.span("run")(w.traced(env, in, jobDir,
          s"perfbench-trace-${o.seed}", tr))
      })
      catch { case _: CallFailed => None }
      finally tr.close()
    out.fold(Seq.empty[(String, String)]) { out =>
      val problems = tr.selfCheck()
      env.ledger.require(problems.isEmpty,
        s"span tree: ${problems.mkString("; ")}")
      val probe =
        try w.probe(env, in, trace = true)
        catch { case _: CallFailed => Map.empty[String, Double] }
      val layer = tr.layerMetrics(Set("featurize", "candidate_pairs",
        "verified_pairs", "cc")) ++ out.layer ++ probe ++
        Kernels.run(o.seed, w.cfg)
      val file = s"${o.traces}/${w.name}-seed${o.seed}.json"
      java.nio.file.Files.write(java.nio.file.Paths.get(file),
        tr.toJson(layer).getBytes("UTF-8"))
      println(f"[perfbench] traced run ${tr.root.wallS}%.3f s, uncovered " +
        f"${tr.selfS(tr.root)}%.3f s; spans written to $file")
      Seq(
        "wall_s" -> Json.num(tr.root.wallS),
        "layer" -> nums(layer),
        "counts" -> nums(out.counts.map { case (k, v) => k -> v.toDouble }))
    }
  }
}
