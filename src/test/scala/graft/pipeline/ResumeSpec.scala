package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession
import graft.corpus.CorpusGen

/** North-rule resumability: a killed-mid-run job re-submitted with the
  * same checkpoint root must produce identical final tables, without
  * recomputing committed stages.
  */
class ResumeSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def freshDir(): String = {
    val d = java.nio.file.Files.createTempDirectory("graft_ckpt_").toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  private lazy val corpus = spark.createDataset(
    CorpusGen.generateLocal(nBases = 60).map(_._1))(
    org.apache.spark.sql.Encoders.product[graft.corpus.CorpusFile])

  private def clustersOf(root: String): Map[Long, Long] =
    spark.read.parquet(s"$root/clusters")
      .select($"fileId", $"clusterId").as[(Long, Long)].collect().toMap

  test("full run writes all stage tables with lineage and metrics") {
    val root = freshDir()
    val s = ClusterJob.run(corpus, root, "run-a")
    assert(s.files === corpus.count())
    assert(s.verifiedPairs > 0 && s.clusters > 0)
    for (t <- Seq("signatures", "chunks", "unique_chunks", "containers",
        "recipe", "candidate_pairs", "verified_pairs", "clusters"))
      assert(TableIO.committed(s"$root/$t"), t)
    // lineage column present and populated
    val lin = spark.read.parquet(s"$root/chunks")
      .select($"_lineage.stage", $"_lineage.runId").distinct()
      .as[(String, String)].collect()
    assert(lin.toSeq === Seq(("chunks", "run-a")))
    val metrics = spark.read.parquet(s"$root/metrics")
    assert(metrics.filter($"metric" === "dedup_ratio").count() === 1)
    // per-phase throughput block: one wall+cpu row pair per stage
    for (t <- Seq("signatures", "chunks", "unique_chunks", "containers",
        "recipe", "candidate_pairs", "verified_pairs", "clusters")) {
      assert(metrics.filter($"stage" === t && $"metric" === "wall_sec")
        .count() === 1, s"wall_sec for $t")
      assert(metrics.filter($"stage" === t && $"metric" === "cpu_sec")
        .count() === 1, s"cpu_sec for $t")
    }
  }

  test("mid-run kill + resume yields identical outputs without recompute") {
    val full = freshDir()
    ClusterJob.run(corpus, full, "run-full")

    // simulate a kill after stage 3: run, then delete the later stages
    val partial = freshDir()
    ClusterJob.run(corpus, partial, "run-1")
    for (t <- Seq("candidate_pairs", "verified_pairs", "clusters"))
      assert(new java.io.File(s"$partial/$t").exists())
    import scala.reflect.io.Directory
    for (t <- Seq("candidate_pairs", "verified_pairs", "clusters", "metrics"))
      new Directory(new java.io.File(s"$partial/$t")).deleteRecursively()

    // resume under a new run id
    ClusterJob.run(corpus, partial, "run-2")

    // identical final clusters
    assert(clustersOf(partial) === clustersOf(full))

    // committed stages were NOT recomputed: lineage still run-1
    val early = spark.read.parquet(s"$partial/recipe")
      .select($"_lineage.runId").distinct().as[String].collect()
    assert(early.toSeq === Seq("run-1"))
    // resumed stages carry the new run id
    val late = spark.read.parquet(s"$partial/clusters")
      .select($"_lineage.runId").distinct().as[String].collect()
    assert(late.toSeq === Seq("run-2"))
  }

  test("re-running a completed job is a no-op returning the same summary") {
    val root = freshDir()
    val a = ClusterJob.run(corpus, root, "run-x")
    val b = ClusterJob.run(corpus, root, "run-y")
    assert(a === b)
    val lin = spark.read.parquet(s"$root/clusters")
      .select($"_lineage.runId").distinct().as[String].collect()
    assert(lin.toSeq === Seq("run-x"))
    // resumed stages append NO phantom per-phase rows — every wall_sec
    // row still belongs to the original computing run
    val phases = spark.read.parquet(s"$root/metrics")
      .filter($"metric" === "wall_sec")
      .select($"runId").distinct().as[String].collect()
    assert(phases.toSeq === Seq("run-x"))
  }

  test("config-driven run adds rewrite/har_sparse/restore_sim stages per the directives, resumable") {
    val root = freshDir()
    val settings = DestorConfig.parse(
      """chunk-algorithm fastcdc
        |rewrite-algorithm cfl 64
        |rewrite-enable-har yes
        |restore-cache lru 8
        |simulation-level restore""".stripMargin)
    val a = ClusterJob.run(corpus, root, "run-c1", settings)
    for (t <- Seq("rewrite", "har_sparse", "restore_sim"))
      assert(TableIO.committed(s"$root/$t"), t)
    val rw = spark.read.parquet(s"$root/rewrite")
    assert(rw.count() > 0)
    assert(rw.columns.toSet ===
      Set("stream", "seq", "size", "containerId", "dup", "write", "_lineage"))
    // uniques always written; rewrite metrics rows recorded once
    assert(rw.filter(!$"dup" && !$"write").count() === 0L)
    val m = spark.read.parquet(s"$root/metrics")
    assert(m.filter($"metric" === "rewritten_chunks").count() === 1)
    // directive stages carry the same per-phase wall/cpu rows as the core
    for (t <- Seq("rewrite", "har_sparse", "restore_sim"))
      assert(m.filter($"stage" === t && $"metric" === "wall_sec")
        .count() === 1, s"wall_sec for $t")
    val rs = spark.read.parquet(s"$root/restore_sim")
    assert(rs.count() > 0 &&
      rs.columns.contains("speedFactor") && rs.columns.contains("cfl"))
    // resume: identical summary, no stage recompute, no duplicate metrics
    val b = ClusterJob.run(corpus, root, "run-c2", settings)
    assert(a === b)
    assert(spark.read.parquet(s"$root/rewrite")
      .select($"_lineage.runId").distinct().as[String].collect().toSeq
      === Seq("run-c1"))
    assert(spark.read.parquet(s"$root/metrics")
      .filter($"metric" === "rewritten_chunks").count() === 1)
  }
}
