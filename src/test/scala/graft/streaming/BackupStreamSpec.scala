package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.SparkTestSession
import graft.pipeline.{DestorConfig, TableIO, TracePipeline,
  TraceJobStats}

/** Continuous chained backup ([[StreamIngest.backupStream]]): each
  * micro-batch replays as one backup job against the persistent chained
  * store, sharing [[graft.pipeline.TracePipeline.oneJob]] store semantics
  * with the batch chain — so the streaming run must produce EXACTLY the
  * stats [[graft.pipeline.TracePipeline.run]] computes in memory on the
  * same job sequence.
  */
class BackupStreamSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val settings = DestorConfig.parse(
    """rewrite-enable-har yes
      |rewrite-har-utilization-threshold 0.5
      |rewrite-har-rewrite-limit 0.5
      |restore-cache lru 8
      |simulation-level restore""".stripMargin)
  private val Payload = 512L

  // overlapping key windows (job b covers keys [(b-1)*40, (b-1)*40+120)):
  // job 2 half-references job 1's containers so HAR observes sparsity,
  // job 3 re-references job-1-era chunks homed in those sparse containers
  // and rewrites them — the same cadence BackupChainSpec/d_trace_pipeline
  // exercise
  private def jobRows(b: Int): Seq[(String, Int, String, Int)] =
    (((b - 1) * 40) until ((b - 1) * 40 + 120)).map { k =>
      (s"f${k / 8}", k % 8, f"$k%040x", (k % 97) + 1)
    }
  private def jobDf(b: Int): DataFrame =
    jobRows(b).toDF("path", "chunkIdx", "fp", "size")

  test("streaming backup chain equals the in-memory trace replay job for job") {
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_bkstream_")
      .toString
    val stream = MemoryStream[(String, Int, String, Int)]
    val q = StreamIngest.backupStream(
      stream.toDF().toDF("path", "chunkIdx", "fp", "size"), root, settings,
      Payload)
    (1 to 3).foreach { b =>
      stream.addData(jobRows(b): _*)
      q.processAllAvailable() // one micro-batch per job
    }
    q.stop()

    // every job root is a complete committed backup() root
    (0 to 2).foreach { j =>
      for (t <- Seq("final_recipe", "index", "har_sparse", "restore_sim"))
        assert(TableIO.committed(s"$root/jobs/j$j/$t"), s"j$j/$t")
    }

    // replaying a delivered batch resumes-by-skip: stats rebuilt from the
    // committed tables, nothing recomputed, no duplicate metrics
    val streamed: Seq[TraceJobStats] = (1 to 3).map { b =>
      StreamIngest.backupBatch(jobDf(b), b - 1L, root, settings, Payload)
    }
    assert(spark.read.parquet(s"$root/jobs/j2/final_recipe")
      .select($"_lineage.runId").distinct().as[String].collect().toSeq
      === Seq("stream-j2"))
    assert(spark.read.parquet(s"$root/jobs/j2/metrics")
      .filter($"stage" === "backup" && $"metric" === "backup_id")
      .count() === 1)

    // the chain's semantics ARE the trace replay's: identical backup.log
    // stats job for job (dedup against the cumulative index, continued
    // container ids, HAR sparse handoff, LRU-8 restore)
    val inMemory = TracePipeline
      .run(Seq(jobDf(1), jobDf(2), jobDf(3)), settings, Payload)
      .as[TraceJobStats].collect().toSeq.sortBy(_.backup_id)
    assert(streamed === inMemory)

    // the fixture actually exercises the interesting transitions
    assert(streamed(0).unique_chunks === 120L)
    assert(streamed(1).unique_chunks < streamed(1).chunks) // cross-batch dedup
    assert(streamed(1).sparse_containers > 0)  // sparsity observed at job 2
    assert(streamed(2).rewritten_chunks > 0)   // HAR rewrites at job 3
    // container ids continue across micro-batches
    val j0Max = spark.read.parquet(s"$root/jobs/j0/index")
      .agg(max($"idxCid")).as[Long].head()
    val j1MinWritten = spark.read.parquet(s"$root/jobs/j1/final_recipe")
      .filter($"write").agg(min($"containerId")).as[Long].head()
    assert(j1MinWritten === j0Max + 1)
  }

  test("an empty micro-batch is a no-op backup and the chain continues past it") {
    val root = java.nio.file.Files.createTempDirectory("graft_bkstream_e_")
      .toString
    val s1 = StreamIngest.backupBatch(jobDf(1), 0L, root, settings, Payload)
    assert(s1.backup_id === 1L && s1.unique_chunks === 120L)
    val empty = Seq.empty[(String, Int, String, Int)]
      .toDF("path", "chunkIdx", "fp", "size")
    val s2 = StreamIngest.backupBatch(empty, 1L, root, settings, Payload)
    assert(s2.backup_id === 2L && s2.chunks === 0L
      && s2.containers_written === 0L)
    // the index carried through the no-op; job 3 dedups against job 1
    val s3 = StreamIngest.backupBatch(jobDf(1), 2L, root, settings, Payload)
    assert(s3.backup_id === 3L)
    assert(s3.unique_chunks === 0L, "all of job 1's fps are in the index")
  }
}
