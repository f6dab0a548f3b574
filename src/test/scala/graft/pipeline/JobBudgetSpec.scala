package graft.pipeline

import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import graft.SparkTestSession
import graft.corpus.CorpusGen

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
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(l)
    try { body; ListenerBusDrain(sc); n.get }
    finally sc.removeSparkListener(l)
  }

  private def within(call: String, jobs: Int, budget: Int): Unit = {
    info(s"$call: $jobs jobs (budget $budget)")
    assert(jobs <= budget, s"$call started $jobs Spark jobs, budget $budget")
  }

  test("ClusterJob.run, fresh and resumed, stays within its job budget") {
    val root = freshDir()
    val corpus = corpusOf(files)
    within("fresh run", jobsOf(ClusterJob.run(corpus, root, "jb-run")), 41)
    within("resumed run", jobsOf(ClusterJob.run(corpus, root, "jb-run")), 12)
  }

  test("config-driven ClusterJob.run stays within its job budget") {
    within("config run", jobsOf(ClusterJob.run(corpusOf(files), freshDir(),
      "jb-cfg", settings)), 71)
  }

  test("backup (fresh and chained) and expire stay within their job budgets") {
    val (b1, b2, ex) = (freshDir(), freshDir(), freshDir())
    val n = files.size
    within("fresh backup", jobsOf(ClusterJob.backup(
      corpusOf(files.take(n * 2 / 3)), b1, "jb-b1", settings, None, 4096L)),
      35)
    within("chained backup", jobsOf(ClusterJob.backup(
      corpusOf(files.drop(n / 3)), b2, "jb-b2", settings, Some(b1), 4096L)),
      39)
    within("expire", jobsOf(ClusterJob.expire(
      spark, Seq(b1, b2), "b1", ex, "jb-ex", 4096L)), 23)
  }

  test("Restore.materialize stays within its job budget") {
    val out = freshDir()
    within("Restore.materialize", jobsOf(Restore.materialize(
      corpusOf(files), settings.dedupConfig, out)), 13)
  }
}
