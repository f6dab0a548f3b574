package graft.pipeline

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener
import graft.SparkTestSession
import graft.corpus.CorpusGen

/** The stage-table write contract of [[TableIO.stage]] and the run log of
  * [[ClusterJob]]: a fresh stage is read back with the schema it wrote,
  * which must be the schema a resume reads off disk; every public call
  * appends its metrics rows in one write, also when it throws.
  */
class RunLogSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def freshDir(): String = {
    val d = java.nio.file.Files.createTempDirectory("graft_runlog_").toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  private lazy val files = CorpusGen.generateLocal(nBases = 30).map(_._1)
    .sortBy(f => (f.repo, f.path, f.commit))
  private def corpusOf(fs: Seq[graft.corpus.CorpusFile]) =
    spark.createDataset(fs)(
      org.apache.spark.sql.Encoders.product[graft.corpus.CorpusFile])

  private val settings = DestorConfig.parse(
    """chunk-algorithm fastcdc
      |rewrite-algorithm cfl 64
      |rewrite-enable-har yes
      |restore-cache lru 8
      |simulation-level restore""".stripMargin)

  /** (output path, schema of the written DataFrame) of every file-source
    * write `body` makes, in commit order. */
  private def recordWrites(body: => Unit, lastPath: String)
      : Seq[(String, StructType)] = {
    val seen = new ConcurrentLinkedQueue[(String, StructType)]()
    val l = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        qe.logical.foreach {
          case c: InsertIntoHadoopFsRelationCommand =>
            seen.add(c.outputPath.toUri.getPath -> c.query.schema)
          case _ =>
        }
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      body
      // listener events arrive in order on the bus: once the call's last
      // write is seen, every earlier one is too
      eventually(timeout(60.seconds), interval(100.millis)) {
        assert(seen.asScala.exists(_._1 == lastPath))
      }
    } finally spark.listenerManager.unregister(l)
    seen.asScala.toSeq
  }

  private def stageDirs(root: String): Seq[String] =
    new java.io.File(root).listFiles().toSeq
      .filter(d => d.isDirectory && d.getName != "metrics")
      .map(_.getName).sorted

  test("a fresh stage is read back with the schema a resume reads off disk: config-driven run, chained backup, expire") {
    val (run, b1, b2, ex) = (freshDir(), freshDir(), freshDir(), freshDir())
    val n = files.size
    val writes = recordWrites({
      ClusterJob.run(corpusOf(files), run, "s-run", settings)
      ClusterJob.backup(corpusOf(files.take(n * 2 / 3)), b1, "s-b1",
        settings, None, 4096L)
      ClusterJob.backup(corpusOf(files.drop(n / 3)), b2, "s-b2", settings,
        Some(b1), 4096L)
      ClusterJob.expire(spark, Seq(b1, b2), "b1", ex, "s-ex", 4096L)
    }, s"$ex/metrics")
    val written = writes.toMap

    val expected = Map(
      run -> Seq("candidate_pairs", "chunks", "clusters", "containers",
        "har_sparse", "recipe", "restore_sim", "rewrite", "signatures",
        "unique_chunks", "verified_pairs"),
      b1 -> Seq("chunks", "final_recipe", "har_sparse", "index",
        "restore_sim"),
      b2 -> Seq("chunks", "final_recipe", "har_sparse", "index",
        "restore_sim"),
      ex -> Seq("index", "migration", "recipes"))
    for ((root, stages) <- expected) {
      assert(stageDirs(root) === stages)
      // one run-log write per public call
      assert(writes.count(_._1 == s"$root/metrics") === 1, root)
    }

    // replay each stage's written schema through TableIO.stage's fresh
    // path and compare with a plain read of the committed directory —
    // nested fields, nullability and metadata included
    val check = freshDir()
    var nonNullable = 0
    for ((root, stages) <- expected; name <- stages) {
      val schema = written(s"$root/$name")
      if (schema.exists(!_.nullable)) nonNullable += 1
      val input = spark.createDataFrame(java.util.Collections.emptyList[Row](),
        StructType(schema.filterNot(_.name == "_lineage")))
      val tag = s"${new java.io.File(root).getName}_$name"
      val fresh = TableIO.stage(spark, check, tag, "s-check")(input)
      val committed = spark.read.parquet(s"$root/$name")
      assert(fresh.schema === committed.schema, s"$root/$name")
      assert(TableIO.stage(spark, check, tag, "s-check")(
        throw new AssertionError("resume recomputed")).schema
        === committed.schema)
    }
    // the written schemas are not already the read-back ones, so the
    // comparison above is not vacuous
    assert(nonNullable > 0)
  }

  test("a run that throws keeps the rows of every committed stage; the resume logs only the stages it computes") {
    val root = freshDir()
    val core = Seq("signatures", "chunks", "unique_chunks", "containers",
      "recipe", "candidate_pairs", "verified_pairs", "clusters")
    val directive = Seq("rewrite", "har_sparse", "restore_sim")
    // an unknown rewrite algorithm fails the first directive stage, after
    // every core stage has committed
    val broken = settings.copy(
      rewrite = settings.rewrite.copy(algorithm = "bogus"))
    val e = intercept[IllegalArgumentException] {
      ClusterJob.run(corpusOf(files), root, "rl-1", broken)
    }
    assert(e.getMessage.contains("bogus"))
    core.foreach(t => assert(TableIO.committed(s"$root/$t"), t))
    assert(!TableIO.committed(s"$root/rewrite"))

    val m1 = spark.read.parquet(s"$root/metrics")
    assert(m1.schema.map(f => f.name -> f.dataType) === Seq(
      "metric" -> StringType, "value" -> DoubleType, "runId" -> StringType,
      "stage" -> StringType, "ts" -> TimestampType))
    def timed(m: org.apache.spark.sql.DataFrame, runId: String) =
      m.filter($"runId" === runId && $"metric".isin("wall_sec", "cpu_sec"))
        .select($"stage", $"metric").as[(String, String)].collect()
        .toSeq.sorted
    assert(timed(m1, "rl-1") ===
      core.flatMap(s => Seq(s -> "cpu_sec", s -> "wall_sec")).sorted)
    assert(m1.filter($"stage" === "summary").count() === 9)

    // the resume computes only the directive stages and logs only those
    val writes = recordWrites(
      ClusterJob.run(corpusOf(files), root, "rl-2", settings),
      s"$root/metrics")
    assert(writes.map(_._1).filter(_ != s"$root/metrics") ===
      directive.map(t => s"$root/$t"))
    assert(writes.count(_._1 == s"$root/metrics") === 1)
    val m2 = spark.read.parquet(s"$root/metrics")
    assert(timed(m2, "rl-2") ===
      directive.flatMap(s => Seq(s -> "cpu_sec", s -> "wall_sec")).sorted)
    assert(timed(m2, "rl-1") === timed(m1, "rl-1"))
    assert(m2.filter($"runId" === "rl-2" && $"stage" === "rewrite" &&
      $"metric" === "rewritten_chunks").count() === 1)
  }
}
