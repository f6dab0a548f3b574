package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession
import graft.corpus.CorpusGen
import graft.operators.SuffixArray

/** The Spark-job budget of every public call on a fixed CorpusGen input.
  * At this scale the engine pays per job — planning, scheduling and
  * codegen on the driver — more than per row, so a change that adds a job
  * to a call fails here; a change that removes jobs lowers the call's
  * pin. The counts hold for the shared test session (local[4], 8 shuffle
  * partitions, adaptive execution on).
  */
class JobBudgetSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def freshDir(): String = {
    val d = java.nio.file.Files.createTempDirectory("graft_budget_").toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  private lazy val files = CorpusGen.generateLocal(nBases = 40).map(_._1)
    .sortBy(f => (f.repo, f.path, f.commit))
  private def corpusOf(fs: Seq[graft.corpus.CorpusFile]) =
    spark.createDataset(fs)(
      org.apache.spark.sql.Encoders.product[graft.corpus.CorpusFile])

  /** perfbench `backup_chain`'s directives: cbr + HAR, an LRU restore
    * cache and the restore simulation. */
  private val settings = DestorConfig.parse(
    """chunk-algorithm fastcdc
      |rewrite-algorithm cbr 64
      |rewrite-enable-har yes
      |restore-cache lru 8
      |simulation-level restore""".stripMargin)

  /** The Spark jobs `body` starts. */
  private def jobsOf(body: => Unit): Int = SparkTestSession.withJobs(body)._2

  private def within(call: String, jobs: Int, budget: Int): Unit = {
    info(s"$call: $jobs jobs (budget $budget)")
    assert(jobs <= budget, s"$call started $jobs Spark jobs, budget $budget")
  }

  test("ClusterJob.run, fresh and resumed, stays within its job budget") {
    val root = freshDir()
    val corpus = corpusOf(files)
    within("fresh run", jobsOf(ClusterJob.run(corpus, root, "jb-run")), 31)
    within("resumed run", jobsOf(ClusterJob.run(corpus, root, "jb-run")), 12)
  }

  test("config-driven ClusterJob.run stays within its job budget") {
    within("config run", jobsOf(ClusterJob.run(corpusOf(files), freshDir(),
      "jb-cfg", settings)), 60)
  }

  test("backup (fresh and chained) and expire stay within their job budgets") {
    val (b1, b2, ex) = (freshDir(), freshDir(), freshDir())
    val n = files.size
    within("fresh backup", jobsOf(ClusterJob.backup(
      corpusOf(files.take(n * 2 / 3)), b1, "jb-b1", settings, None, 4096L)),
      8)
    within("chained backup", jobsOf(ClusterJob.backup(
      corpusOf(files.drop(n / 3)), b2, "jb-b2", settings, Some(b1), 4096L)),
      12)
    // the chain's fold on the driver: the bounded collect, the three
    // stage writes (the recipes' with its broadcast) and the run log
    within("expire", jobsOf(ClusterJob.expire(
      spark, Seq(b1, b2), "b1", ex, "jb-ex", 4096L)), 6)
    within("expire, distributed", jobsOf(ClusterJob.expire(
      spark, Seq(b1, b2), "b1", freshDir(), "jb-exd", 4096L, localCap = 0)),
      21)
    // every store stage is committed: the call reads its tables back
    // with declared schemas, so no footer-inference job runs
    within("resumed chained backup", jobsOf(ClusterJob.backup(
      corpusOf(files.drop(n / 3)), b2, "jb-b2", settings, Some(b1), 4096L)),
      11)
    within("chained backup, distributed store step", jobsOf(
      ClusterJob.backup(corpusOf(files.drop(n / 3)), freshDir(), "jb-b2d",
        settings, Some(b1), 4096L, localCap = 0)), 39)
  }

  test("ConnectedComponents.run on a small graph stays within its job budget") {
    // the driver-side union-find path: one job collects the edges, the
    // rest read the labels and the anti-joined singletons
    import spark.implicits._
    val vertices = (0L until 2000L).toDF("fileId")
    val edges = (0L until 1000L).map(i => (i / 10 * 10, i)).toDF("a", "b")
    within("ConnectedComponents.run, collected", jobsOf(
      ConnectedComponents.run(vertices, edges).collect()), 3)
  }

  test("the segmented scans stay within their job budgets") {
    // each scan call: the range bounds' sample, the shuffle, the summary
    // job that materializes the checkpoint; SuffixArray.ranks adds its
    // text stats and one scan per doubling round
    import spark.implicits._
    val docs = (1L to 12L).map(id => id -> ("abcab" * (id.toInt + 3)))
      .toDF("doc_id", "text")
    within("SuffixArray.ranks, counted", jobsOf(
      SuffixArray.ranks(docs).count()), 20)
    val runs = (0 until 600).map(i => (i % 3L, i.toLong, i / 7 % 5L))
      .toDF("stream", "seq", "containerId")
    within("DedupPipeline.streamRuns, counted", jobsOf(
      DedupPipeline.streamRuns(runs, "stream", Seq("seq"), "containerId",
        "newRun", "runId").count()), 5)
  }

  test("Restore.materialize stays within its job budget") {
    val out = freshDir()
    within("Restore.materialize", jobsOf(Restore.materialize(
      corpusOf(files), settings.dedupConfig, out)), 11)
  }
}
