package graft.pipeline

import scala.concurrent.Await
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._

/** Per-backup-job output row of [[TracePipeline.run]] — the backup.log
  * contract fields that apply to trace replay plus the restore-locality
  * block (reference src/do_backup.c:155-186 + src/do_restore.c:274-275).
  */
final case class TraceJobStats(
    backup_id: Long, files: Long, chunks: Long, data_size: Long,
    unique_chunks: Long, unique_size: Long,
    rewritten_chunks: Long, rewritten_size: Long,
    stored_size: Long, containers_written: Long, sparse_containers: Long,
    container_reads: Long, speed_factor: Double, cfl: Double)

/** The distributed state ONE backup job against a cumulative store
  * produces, which a follow-up job chains from: the job's final recipe,
  * the upserted fingerprint index and the trimmed HAR sparse list for the
  * NEXT job, each materialized once by the caller's
  * [[TracePipeline.Materialize]] — safe to use after the job's internal
  * caches are freed — plus the job's backup.log counters
  * ([[TracePipeline.recipeStats]] over `finalRec`, with the sparse-list
  * size; the restore-sim fields are left 0).
  */
final case class TraceJobResult(
    finalRec: DataFrame, newIndex: DataFrame, sparse: DataFrame,
    stats: TraceJobStats)

/** Trace-driven pipeline — the reference's `simulation-level all`
  * evaluation mode (src/destor.c:263-366 dispatch; src/trace_phase.c:
  * 146-207): a pre-hashed chunk stream (from [[graft.sources.TraceSource]]
  * or [[graft.sources.FslSource]]) REPLACES the read+chunk+hash phases,
  * and each trace file replays as one backup job through first-writer
  * dedup against the cumulative fingerprint index, container packing,
  * the configured rewrite pass (+ HAR against the previous job's sparse
  * list), and the configured restore-cache simulation. This is exactly
  * how the reference reproduces its published experiments on the public
  * FSL datasets without the raw data.
  *
  * Semantics, one job at a time (jobs replay strictly in sequence, like
  * the reference's successive `destor /path` invocations):
  *
  *  1. the job is ONE stream ordered by (path, chunkIdx) — a destor
  *     backup job is a single sequential stream;
  *  2. duplicate marking: an occurrence is a duplicate iff its fp is in
  *     the index (a previous job wrote it) or an earlier occurrence in
  *     this job exists (4-level lookup collapsed to the exact index, the
  *     J1 simplification the batch engine uses throughout);
  *  3. unique occurrences carry TEMPORARY_ID (-1) into the rewrite pass
  *     exactly like the reference's filter phase; duplicates carry their
  *     indexed container id;
  *  4. write predicate: unique ∨ sparse(HAR, previous job's list) ∨
  *     outOfOrder(configured algorithm). Every WRITTEN occurrence packs
  *     into fresh containers in stream order (cumulative-size packing via
  *     the two-phase distributed prefix sum — rewriting trades capacity
  *     for locality, per-occurrence, matching the open-container write
  *     path); container ids continue across jobs;
  *  5. final recipe container ids: written rows point at their packed
  *     container; unwritten duplicates point at the indexed copy if one
  *     exists, else at the first written copy of their fp this job
  *     (within-job duplicates of a new chunk). Deliberate simplification
  *     vs the reference: an unwritten duplicate AFTER a same-job rewrite
  *     of its fp still points at the old copy (the reference's
  *     cache-aware filter is off in the shipped config, so rewrite
  *     decisions don't retro-bind later lookups either);
  *  6. the index upserts fp → last written copy (latest wins); the HAR
  *     utilization monitor runs over the job's final recipe and its
  *     trimmed sparse list feeds the NEXT job ([[Rewrite
  *     .harSparseContainers]]);
  *  7. the configured restore cache replays the final recipe
  *     ([[RestoreSim.simulate]] — LRU/OPT/ASM per `restore-cache`).
  *
  * Per-job aggregates are collected driver-side (a bounded handful of
  * scalars per backup, like the reference's backup.log line); all
  * per-chunk work stays distributed.
  *
  * [[oneJob]] is the single-backup core; [[graft.pipeline.ClusterJob
  * .backup]] reuses it verbatim for REAL corpora (read+chunk+hash feeding
  * the same dedup→rewrite→pack store semantics, roots chained exactly
  * like successive trace jobs chain in memory): here each result table is
  * localCheckpointed, there its checkpointed stage write is its one
  * materialization.
  */
object TracePipeline {

  /** How [[oneJob]] materializes each result table: given the table's
    * stage name ("final_recipe", "har_sparse", "index") and its plan,
    * returns the materialized table and its row count. */
  type Materialize = (String, DataFrame) => (DataFrame, Long)

  /** In-memory materialization: an eager localCheckpoint, the row count
    * observed on the same job. */
  val checkpoint: Materialize = (_, df) => {
    val obs = Observation()
    val c = df.observe(obs, count(lit(1))).localCheckpoint(true)
    (c, Await.result(obs.future, Duration.Inf).getLong(0))
  }

  /** A job's chunk stream (path, chunkIdx, fp, size) as ONE stream
    * labelled `label`, with a contiguous 1-based `seq` in (path, chunkIdx)
    * order — two-phase distributed rank, never a window sort. */
  private[graft] def sequence(chunks: DataFrame, label: String): DataFrame =
    DedupPipeline.streamPrefix(
        chunks.select(col("path"),
          col("chunkIdx").cast("long").as("chunkIdx"), col("fp"),
          col("size").cast("int").as("size"), lit(label).as("stream"),
          lit(1L).as("one")),
        "stream", Seq("path", "chunkIdx"), "one", "pre")
      .withColumn("seq", col("pre") + 1L).drop("one", "pre")

  /** One backup job against the cumulative store. `seqd` is the job's
    * [[sequence]]d chunk stream (columns path, chunkIdx, fp, size, stream,
    * seq) and may be empty (a valid no-op backup: empty recipe, index
    * carried unchanged, empty HAR monitor); `index` is fp → idxCid (the
    * latest written copy per fingerprint); `prevSparse` is the previous
    * job's trimmed sparse-container list (containerId); `nextCid` is the
    * first free container id. When HAR is off, `sparse` returns
    * `prevSparse` unchanged (the reference only maintains the monitor
    * when rewrite-enable-har is set). `materialize` is the ONLY
    * materialization of each result table; the stats and the HAR monitor
    * read the materialized recipe.
    */
  private[graft] def oneJob(backupId: Long, seqd: DataFrame,
      index: DataFrame, prevSparse: DataFrame, nextCid: Long,
      settings: DestorSettings, payload: Long,
      materialize: Materialize): TraceJobResult = {
    val first = seqd.groupBy(col("fp")).agg(min(col("seq")).as("firstSeq"))
    // every rewrite pass reads its input more than once (cbr: context
    // window + per-stream max; cap, cfl: a self-join), so the joins run
    // once, in their own job: a persisted input would be cached by one
    // job per read inside the pass's first query (adaptive execution does
    // not share cache stages), whose tasks race for the same blocks
    val marked = seqd
      .join(index, Seq("fp"), "left")
      .join(first, Seq("fp"))
      .withColumn("dup",
        col("idxCid").isNotNull || col("seq") > col("firstSeq"))
      .withColumn("containerId", coalesce(col("idxCid"), lit(-1L)))
      .localCheckpoint(true)
    val passed = settings.rewritePass(marked, payload)
    val hared =
      if (settings.rewrite.enableHar) Rewrite.harMark(passed, prevSparse)
      else passed
    val written = Rewrite.writePredicate(hared)
    // pack every written occurrence in stream order; ids continue past
    // the previous jobs' containers (stream is constant within one job,
    // so it is the single packing stream). The packing runs over ALL
    // rows, an unwritten one weighing 0, so each row carries its own pack
    // id and no join brings it back.
    val packed = DedupPipeline.pack(
        written.withColumn("sz",
          when(col("write"), col("size").cast("long")).otherwise(0L)),
        "stream", Seq("seq"), "sz", nextCid, payload, "packCid")
      .withColumn("packCid", when(col("write"), col("packCid")))
    // pack ids never decrease along the stream, so a fingerprint's first
    // written copy this job has its smallest pack id and its last copy
    // the largest — and every pack id is past every indexed one
    val copies = packed.filter(col("write")).select(col("fp"), col("packCid"))
    val (finalRec, _) = materialize("final_recipe", packed
      .join(copies.groupBy(col("fp")).agg(min(col("packCid"))
          .as("firstCopyCid")),
        Seq("fp"), "left")
      .withColumn("containerId",
        coalesce(col("packCid"),
          when(col("idxCid").isNotNull, col("idxCid"))
            .otherwise(col("firstCopyCid"))))
      .select(col("stream"), col("seq"), col("path"), col("fp"),
        col("size"), col("dup"), col("write"), col("containerId")))
    val stats = recipeStats(backupId, finalRec, nextCid)
    val (sparseList, sparseCount) =
      if (settings.rewrite.enableHar)
        materialize("har_sparse",
          Rewrite.harSparseContainers(finalRec,
              settings.rewrite.harUtilizationThreshold,
              settings.rewrite.harRewriteLimit, payload)
            .select(col("containerId")))
      else (prevSparse, 0L)
    // latest copy wins: the max over the old entry and this job's copies
    val (newIndex, _) = materialize("index",
      index.select(col("fp"), col("idxCid"))
        .union(copies)
        .groupBy(col("fp")).agg(max(col("idxCid")).as("idxCid")))
    TraceJobResult(finalRec, newIndex, sparseList,
      stats.copy(sparse_containers = sparseCount))
  }

  /** The backup.log scalars of one job's final recipe in ONE aggregate:
    * files, chunks, data/unique/rewritten sizes, stored size and the
    * containers written past `nextCid` (every written row points at its
    * packed container, so their max is the job's high water). An empty
    * recipe yields all zeros. The sparse-list and restore-sim fields are
    * left 0 for the caller to fill in.
    */
  private[graft] def recipeStats(backupId: Long, finalRec: DataFrame,
      nextCid: Long): TraceJobStats = {
    val dup = col("dup")
    val rewritten = dup && col("write")
    def total(c: Column) =
      coalesce(sum(c).cast("long"), lit(0L))
    val r = finalRec.agg(
        countDistinct(col("path")), count(lit(1)), total(col("size")),
        count(when(!dup, 1)), total(when(!dup, col("size"))),
        count(when(rewritten, 1)), total(when(rewritten, col("size"))),
        max(when(col("write"), col("containerId"))))
      .head()
    val containersWritten =
      if (r.isNullAt(7)) 0L else r.getLong(7) - nextCid + 1L
    TraceJobStats(backupId, r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6),
      r.getLong(4) + r.getLong(6), containersWritten, 0L, 0L, 0.0, 0.0)
  }

  def run(jobs: Seq[DataFrame], settings: DestorSettings,
      payload: Long = Rewrite.ContainerPayload): DataFrame = {
    require(jobs.nonEmpty, "TracePipeline: no trace jobs")
    val spark = jobs.head.sparkSession
    import spark.implicits._
    var index = Seq.empty[(String, Long)].toDF("fp", "idxCid")
    var prevSparse = Seq.empty[Long].toDF("containerId")
    var nextCid = 0L
    val stats = scala.collection.mutable.ArrayBuffer.empty[TraceJobStats]
    jobs.zipWithIndex.foreach { case (job0, i) =>
      val b = i + 1L
      // an empty trace job (a trace of just `stream end`) is a valid no-op
      // backup: zero stats, the index/cid state carries unchanged and the
      // HAR monitor of an empty recipe is empty
      val r = oneJob(b, sequence(job0, s"b$b"), index, prevSparse, nextCid,
        settings, payload, checkpoint)
      val rs =
        if (r.stats.chunks == 0) (0L, 0.0, 0.0)
        else settings.restoreSim(
            r.finalRec.select(col("stream"), col("seq"), col("containerId"),
              col("size")))
          .select(col("containerReads"), col("speedFactor"), col("cfl"))
          .as[(Long, Double, Double)].head()
      stats += r.stats.copy(
        container_reads = rs._1, speed_factor = rs._2, cfl = rs._3)
      index = r.newIndex
      nextCid += r.stats.containers_written
      prevSparse = r.sparse
    }
    spark.createDataset(stats.toSeq).toDF()
  }
}
