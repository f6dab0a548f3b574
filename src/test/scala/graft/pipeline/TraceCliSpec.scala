package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestSession
import graft.corpus.CorpusGen

/** `destor -t` (make_trace) CLI arm — reference src/destor.c:347-357 +
  * src/trace_phase.c: [[ClusterJob.trace]] chunks + hashes a corpus with
  * the configured chunker and writes the reference-format `.trace`,
  * completing the four-job command surface (backup/restore/expire/trace).
  * The emitted trace must be (a) a lossless encoding of the real chunk
  * stream and (b) replayable through the `simulation-level all` pipeline
  * exactly like a reference-produced trace.
  */
class TraceCliSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private lazy val corpus = spark.createDataset(
    CorpusGen.generateLocal(nBases = 40).map(_._1))(
    org.apache.spark.sql.Encoders.product[graft.corpus.CorpusFile])

  test("trace arm round-trips the exact chunk stream") {
    val f = java.nio.file.Files.createTempFile("graft_cli_", ".trace")
    f.toFile.deleteOnExit()
    val cfg = DedupConfig()
    val n = ClusterJob.trace(corpus, f.toString, cfg)
    assert(n > 0)

    // read-back == the direct chunk stream, row for row
    val direct = DedupPipeline.chunkTableDF(
        DedupPipeline.featurize(corpus, cfg).toDF())
      .select(concat_ws("@", col("repo"), col("path"), col("commit"))
          .as("path"),
        col("chunkIdx"), col("fp"), col("size"))
    val replayed = graft.sources.TraceSource.read(spark, f.toString).toDF()
    assert(replayed.count() === n)
    assert(direct.count() === n)
    assert(replayed.exceptAll(direct).isEmpty &&
      direct.exceptAll(replayed).isEmpty)

    // lossless byte coverage: trace sizes sum to the corpus byte total
    val traced = replayed.agg(sum("size")).as[Long].head()
    val total = corpus.select(
      sum(length(encode(col("content"), "UTF-8")))).as[Long].head()
    assert(traced === total)
  }

  test("the written trace replays through simulation-level all") {
    val f = java.nio.file.Files.createTempFile("graft_cli2_", ".trace")
    f.toFile.deleteOnExit()
    ClusterJob.trace(corpus, f.toString, DedupConfig())
    // the shipped settings: the upstream file where the reference tree
    // is present, else the engine's own copy of its directives
    val ref = java.nio.file.Paths.get("/root/reference/destor.config")
    val shipped =
      if (java.nio.file.Files.isRegularFile(ref))
        new String(java.nio.file.Files.readAllBytes(ref),
          java.nio.charset.StandardCharsets.UTF_8)
      else DestorConfig.ShippedDirectives
    val settings = DestorConfig.parse(shipped + "\nsimulation-level all\n")
    val job = graft.sources.TraceSource.read(spark, f.toString).toDF()
    val out = settings.tracePipeline(Seq(job)).collect()
    assert(out.length === 1)
    val r = out.head
    // zero-chunk (empty) file versions never reach the chunk stream, so
    // the replay's file count is the non-empty version count
    val nonEmpty = corpus.filter(length($"content") > 0).count()
    assert(r.getAs[Long]("files") === nonEmpty)
    val chunks = r.getAs[Long]("chunks")
    val uniq = r.getAs[Long]("unique_chunks")
    // the corpus has duplicated bases by construction: real dedup happens
    assert(uniq > 0 && uniq < chunks)
  }
}
