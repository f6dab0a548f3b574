package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
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
  * NEXT job. Its backup.log counters come from
  * [[TracePipeline.recipeStats]] over `finalRec`. All three DataFrames
  * are localCheckpoint-materialized — safe to use after the job's
  * internal caches are freed.
  */
final case class TraceJobResult(
    finalRec: DataFrame, newIndex: DataFrame, sparse: DataFrame)

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
  * the same dedup→rewrite→pack store semantics, checkpointed stages,
  * roots chained exactly like successive trace jobs chain in memory).
  */
object TracePipeline {

  /** One backup job against the cumulative store. `seqd` is the job's
    * chunk stream with a contiguous per-stream 1-based `seq` already
    * assigned (columns stream:string, seq:long, path:string, fp:string,
    * size:int) and must be non-empty; `index` is fp → idxCid (the latest
    * written copy per fingerprint); `prevSparse` is the previous job's
    * trimmed sparse-container list (containerId); `nextCid` is the first
    * free container id. When HAR is off, `sparse` returns `prevSparse`
    * unchanged (the reference only maintains the monitor when
    * rewrite-enable-har is set).
    */
  private[graft] def oneJob(seqd: DataFrame, index: DataFrame,
      prevSparse: DataFrame, nextCid: Long, settings: DestorSettings,
      payload: Long): TraceJobResult = {
    val first = seqd.groupBy(col("fp")).agg(min(col("seq")).as("firstSeq"))
    val marked = seqd
      .join(index, Seq("fp"), "left")
      .join(first, Seq("fp"))
      .withColumn("dup",
        col("idxCid").isNotNull || col("seq") > col("firstSeq"))
      .withColumn("containerId", coalesce(col("idxCid"), lit(-1L)))
    val passed = settings.rewritePass(marked, payload)
    val hared =
      if (settings.rewrite.enableHar) Rewrite.harMark(passed, prevSparse)
      else passed
    val written = Rewrite.writePredicate(hared).persist()
    // pack every written occurrence in stream order; ids continue past
    // the previous jobs' containers (stream is constant within one job,
    // so grouping the prefix sum by it is the single-stream fold)
    val packed = DedupPipeline.streamPrefix(
        written.filter(col("write"))
          .select(col("fp"), col("seq"),
            col("size").cast("long").as("sz"), col("stream").as("s")),
        "s", Seq("seq"), "sz", "pre")
      .withColumn("packCid",
        (lit(nextCid) +
          floor(greatest(col("pre") + col("sz") - 1, lit(0L)) / payload))
          .cast("long"))
      .select(col("fp"), col("seq"), col("packCid"))
      .persist()
    val copies = packed.groupBy(col("fp")).agg(
      min(struct(col("seq"), col("packCid"))).as("fc"),
      max(struct(col("seq"), col("packCid"))).as("lc"))
    val finalRec = written
      .join(packed.select(col("seq"), col("packCid")), Seq("seq"), "left")
      .join(copies.select(col("fp"), col("fc.packCid").as("firstCopyCid")),
        Seq("fp"), "left")
      .withColumn("containerId",
        coalesce(col("packCid"),
          when(col("idxCid").isNotNull, col("idxCid"))
            .otherwise(col("firstCopyCid"))))
      .select(col("stream"), col("seq"), col("path"), col("fp"),
        col("size"), col("dup"), col("write"), col("containerId"))
      .localCheckpoint(true)
    val sparseList =
      if (settings.rewrite.enableHar)
        Rewrite.harSparseContainers(finalRec,
            settings.rewrite.harUtilizationThreshold,
            settings.rewrite.harRewriteLimit, payload)
          .select(col("containerId")).localCheckpoint(true)
      else prevSparse
    val newIndex = index.join(copies.select(col("fp")), Seq("fp"), "left_anti")
      .union(copies.select(col("fp"), col("lc.packCid").as("idxCid")))
      .localCheckpoint(true)
    written.unpersist(); packed.unpersist()
    TraceJobResult(finalRec, newIndex, sparseList)
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
      val label = s"b$b"
      // one stream per job, global seq by (path, chunkIdx) — two-phase
      // distributed rank, never a window sort
      val seqd = DedupPipeline.streamPrefix(
          job0.select(col("path"),
            col("chunkIdx").cast("long").as("chunkIdx"), col("fp"),
            col("size").cast("int").as("size"), lit(label).as("stream"),
            lit(1L).as("one")),
          "stream", Seq("path", "chunkIdx"), "one", "pre")
        .withColumn("seq", col("pre") + 1L).drop("one", "pre")
        .persist()
      if (seqd.isEmpty) {
        // an empty trace job (a trace of just `stream end`) is a valid
        // no-op backup: emit a zero-stats row; the index/cid state carries
        // unchanged and the HAR monitor of an empty recipe is empty
        stats += TraceJobStats(b, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L,
          0L, 0L, 0.0, 0.0)
        if (settings.rewrite.enableHar)
          prevSparse = Seq.empty[Long].toDF("containerId")
        seqd.unpersist()
      } else {
        val r = oneJob(seqd, index, prevSparse, nextCid, settings, payload)
        val base = recipeStats(b, r.finalRec, nextCid)
        val rs = settings.restoreSim(
            r.finalRec.select(col("stream"), col("seq"), col("containerId"),
              col("size")))
          .select(col("containerReads"), col("speedFactor"), col("cfl"))
          .as[(Long, Double, Double)].head()
        val sparseCount =
          if (settings.rewrite.enableHar) r.sparse.count() else 0L
        stats += base.copy(sparse_containers = sparseCount,
          container_reads = rs._1, speed_factor = rs._2, cfl = rs._3)
        index = r.newIndex
        nextCid += base.containers_written
        prevSparse = r.sparse
        seqd.unpersist()
      }
    }
    spark.createDataset(stats.toSeq).toDF()
  }
}
