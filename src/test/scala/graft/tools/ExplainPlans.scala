package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.FormattedMode

import graft.obs.Measure

/** Physical-plan inspection.
  *
  * `ExplainPlans [sfDir]` prints the [[PlanAudit]] plans of the headline
  * queries (PushedFilters / ReadSchema pruning / broadcast joins /
  * whole-stage codegen spans), then exits nonzero if any plan violates the
  * audit rules (the same rules `PlanAuditSpec` enforces inside `sbt test`).
  *
  * `ExplainPlans <suffix> <sfDir> <name>...` writes each named query's
  * `explain("formatted")` to plans/r06/<name>_<suffix>.txt — the
  * round-6 optimization evidence files. Its session mirrors graft.Bench
  * (local[SPARK_GRAFT_CPUS], default 32, as many shuffle partitions, AQE
  * on, 8 MiB splits), so the captured plans are the benched plans.
  *
  * Run: sbt "Test/runMain graft.tools.ExplainPlans [args]"
  */
object ExplainPlans {
  def main(args: Array[String]): Unit =
    if (args.length >= 3) dump(args(0), args(1), args.drop(2).toSeq)
    else audit(args)

  private def audit(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = Measure.session(4, "ERROR")
    val audits = PlanAudit.auditAll(spark, dir)
    for (a <- audits) {
      println(s"\n===== ${a.name} =====")
      println(a.plan)
      a.violations.foreach(v => println(s"VIOLATION[${a.name}]: $v"))
    }
    val bad = audits.filter(_.violations.nonEmpty)
    spark.stop()
    if (bad.nonEmpty) {
      System.err.println(s"plan audit FAILED for: ${bad.map(_.name).mkString(", ")}")
      sys.exit(1)
    }
    println(s"\nplan audit clean: ${audits.size} queries")
  }

  private def dump(suffix: String, sfDir: String, names: Seq[String]): Unit = {
    val spark = Measure.session(Measure.envCpus(32),
      "ERROR", Measure.SmallSplits)
    val outDir = Paths.get("plans", "r06")
    Files.createDirectories(outDir)
    names.foreach { name =>
      val plan = graft.SparkEntry.queries(name)(spark, sfDir).queryExecution
        .explainString(FormattedMode)
      Files.writeString(outDir.resolve(s"${name}_$suffix.txt"), plan)
      println(s"[plandump] wrote ${name}_$suffix.txt (${plan.length} chars)")
    }
    spark.stop()
  }
}
