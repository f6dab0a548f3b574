package graft.pipeline

import scala.concurrent.Await
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

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
  * caches are freed — plus the job's backup.log counters (the
  * [[TracePipeline.recipeStats]] scalars of `finalRec`, with the
  * sparse-list size; the restore-sim fields are left 0). `local` is the
  * final recipe as the driver holds it when the store step ran there
  * (seq order), for a restore-cache fold without a Spark job.
  */
final case class TraceJobResult(
    finalRec: DataFrame, newIndex: DataFrame, sparse: DataFrame,
    stats: TraceJobStats, local: Option[Rewrite.LocalStream])

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
  *     into fresh containers in stream order (cumulative-size packing,
  *     [[DedupPipeline.pack]]'s rule — rewriting trades capacity
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
  * Two paths run these semantics, chosen per job by its size with one
  * [[DriverFold.collect]] of its raw chunk stream:
  *
  *  - at most [[LocalCap]] chunks: the driver runs steps 1–6 as the
  *    sequential fold destor itself runs. One more job looks the job's
  *    fingerprints up in the index (a semi-join against their broadcast
  *    set, so the index may be any size) and reads the previous sparse
  *    list; the recipe and the sparse list are [[DriverFold.table]]s, and
  *    the index stays the distributed `index ∪ copies → max`. Step 7
  *    folds the driver's recipe ([[RestoreSim.simulateStream]]).
  *  - above it: every per-chunk step runs distributed (two-phase prefix
  *    sums and run detection, never a whole-stream window).
  *
  * Both paths return the same rows and stats; `localCap = 0` forces the
  * distributed one.
  *
  * [[oneJob]] is the single-backup core; [[graft.pipeline.ClusterJob
  * .backup]] reuses it verbatim for REAL corpora (read+chunk+hash feeding
  * the same dedup→rewrite→pack store semantics, roots chained exactly
  * like successive trace jobs chain in memory): here each result table is
  * [[checkpoint]]ed, there its checkpointed stage write is its one
  * materialization.
  */
object TracePipeline {

  /** How [[oneJob]] materializes each result table: given its stage name
    * ("final_recipe", "har_sparse", "index"), its plan and, for a
    * [[DriverFold.table]], its row count, returns the table and count. */
  type Materialize = (String, DataFrame, Option[Long]) => (DataFrame, Long)

  /** In-memory materialization: a driver-held table as it is, any other
    * an eager localCheckpoint that counts its rows in the same job. */
  val checkpoint: Materialize = {
    case (_, df, Some(rows)) => (df, rows)
    case (_, df, None) =>
      val obs = Observation()
      val c = df.observe(obs, count(lit(1))).localCheckpoint(true)
      (c, Await.result(obs.future, Duration.Inf).getLong(0))
  }

  /** The columns `final_recipe` and expire's `recipes` are written with. */
  private[pipeline] val RecipeSchema = "stream STRING, seq BIGINT, path " +
    "STRING, fp STRING, size INT, dup BOOLEAN, write BOOLEAN, containerId BIGINT"

  /** Chunk count up to which [[oneJob]] runs the store step on the
    * driver, within [[DriverFold]]'s budget.
    *
    * Measured on a 4-core host, `local[4]`, 4 shuffle partitions,
    * adaptive execution on: a chained `ClusterJob.backupChunkStream`
    * under cbr 1024 + HAR + an LRU restore sim at a 256 KiB payload, over
    * a 4-partition parquet stream of n chunks, 70% of them fingerprints
    * the previous backup wrote. Distributed (`localCap = 0`): 5.7–6.7 s
    * at 10^4 chunks, 10.9–11.2 s at 10^5, 39.6 s at 10^6; on the driver
    * 1.8–2.1 s, 4.7–5.2 s and 32.3 s, never slower, so memory sets the
    * cap. The columnar collect and hand-off, medians of 6 before → after:
    * 1.48 → 1.46 s at 10^4 chunks, 4.14 → 3.54 s at 10^5 (spreads 0.38,
    * 0.70 s). Spark's SizeEstimator: 203 B a collected chunk and 150 a
    * recipe-table row, alive together while the recipe is written — 353
    * B a chunk before the fingerprint maps, from about 650.
    *
    * Above the cap a caller that knows the stream's size skips the
    * collect; a stream of unknown size ran up to 15% slower than before
    * the driver path (medians of 4 at 10^6 chunks: `backupChunkStream`
    * 32.3 → 36.0 s, `run` 76.6 → 88.0 s).
    */
  val LocalCap: Int = 100000

  /** A job's chunk stream (path, chunkIdx, fp, size) as ONE stream
    * labelled `label`, with a contiguous 1-based `seq` in (path, chunkIdx)
    * order — two-phase distributed rank, never a window sort. */
  private def sequence(chunks: DataFrame, label: String): DataFrame =
    DedupPipeline.streamPrefix(
        chunks.select(col("path"),
          col("chunkIdx").cast("long").as("chunkIdx"), col("fp"),
          col("size").cast("int").as("size"), lit(label).as("stream"),
          lit(1L).as("one")),
        "stream", Seq("path", "chunkIdx"), "one", "pre")
      .withColumn("seq", col("pre") + 1L).drop("one", "pre")

  /** One backup job against the cumulative store. `chunks` is the job's
    * raw chunk stream (columns path, chunkIdx, fp, size), replayed as ONE
    * stream labelled `label`; it may be empty (a valid no-op backup: empty
    * recipe, index carried unchanged, empty HAR monitor). `index` is fp →
    * idxCid (the latest written copy per fingerprint); `prevSparse` is
    * the previous job's trimmed sparse-container list (containerId);
    * `nextCid` is the first free container id. When HAR is off, `sparse`
    * returns `prevSparse` unchanged (the reference only maintains the
    * monitor when rewrite-enable-har is set). `materialize` is the ONLY
    * materialization of each result table. A caller that knows the
    * stream's `size` passes it, and a stream above `localCap` then skips
    * the bounded collect.
    */
  private[graft] def oneJob(backupId: Long, chunks: DataFrame, label: String,
      index: DataFrame, prevSparse: DataFrame, nextCid: Long,
      settings: DestorSettings, payload: Long, materialize: Materialize,
      localCap: Int = LocalCap, size: Option[Long] = None): TraceJobResult = {
    val collected = if (size.exists(_ > localCap)) None else DriverFold.collect(
      chunks.select(col("path"), col("chunkIdx").cast("long"), col("fp"),
        col("size").cast("int")), localCap)
    collected match {
      case Some(rows) => localJob(backupId, rows, label, index, prevSparse,
        nextCid, settings, payload, materialize)
      case None => distributedJob(backupId, sequence(chunks, label), index,
        prevSparse, nextCid, settings, payload, materialize)
    }
  }

  /** [[oneJob]] on the driver: the fold of [[distributedJob]], statement
    * for statement, over the collected stream. */
  private def localJob(backupId: Long, raw: DriverFold.Columns,
      label: String, index: DataFrame, prevSparse: DataFrame, nextCid: Long,
      settings: DestorSettings, payload: Long,
      materialize: Materialize): TraceJobResult = {
    val spark = index.sparkSession
    val har = settings.rewrite.enableHar
    // (path, chunkIdx) order; UTF8String compares by byte, as Spark does
    val (rawPath, rawIdx) = (raw.strings(0), raw.longs(1))
    val order = Array.range(0, raw.rows).sortWith { (a, b) =>
      val c = rawPath(a).compareTo(rawPath(b))
      if (c != 0) c < 0 else rawIdx(a) < rawIdx(b)
    }
    val n = order.length
    val path = order.map(rawPath(_))
    val fp = order.map(raw.strings(2)(_))
    val size = order.map(raw.ints(3)(_))
    // ONE job reads this job's index entries and, for HAR, the previous
    // sparse list: nulls tag the sparse rows
    val (idx, prevSparseIds) =
      if (n == 0) (Map.empty[UTF8String, Long], Set.empty[Long])
      else {
        val fps = fp.distinct
        val hits = index.select(col("fp"), col("idxCid"))
          .join(broadcast(DriverFold.table(spark, "fp STRING", fps.length)(
            i => Array(fps(i)))), Seq("fp"), "left_semi")
        val got = (if (har) hits.union(prevSparse.select(
            lit(null).cast("string"), col("containerId")))
          else hits).collect()
        val (entries, sparse) = got.partition(!_.isNullAt(0))
        (entries.map(r => UTF8String.fromString(r.getString(0)) ->
            r.getLong(1)).toMap,
          sparse.map(_.getLong(1)).toSet)
      }
    // 1. first-writer duplicate marking
    val seen = scala.collection.mutable.HashSet.empty[UTF8String]
    val dup = fp.map { f => val first = seen.add(f); idx.contains(f) || !first }
    val marked = Rewrite.LocalStream(size,
      fp.map(idx.getOrElse(_, -1L)), dup)
    // 2-4. the rewrite pass, HAR marking, the write predicate
    val outOfOrder = settings.rewritePassLocal(marked, payload)
    val write = Array.tabulate(n) { i =>
      !dup(i) || (har && prevSparseIds.contains(marked.containerId(i))) ||
        outOfOrder(i)
    }
    // 5. packing; 6. the final container ids
    val packCid = DedupPipeline.packLocal(
      Array.tabulate(n)(i => if (write(i)) size(i).toLong else 0L),
      nextCid, payload)
    val firstCopyCid = scala.collection.mutable.HashMap.empty[UTF8String, Long]
    (0 until n).foreach(i =>
      if (write(i)) firstCopyCid.getOrElseUpdate(fp(i), packCid(i)))
    val containerId = Array.tabulate(n) { i =>
      if (write(i)) packCid(i) else idx.getOrElse(fp(i), firstCopyCid(fp(i)))
    }
    // 7. the recipeStats scalars; rows are in path order, so a file starts
    // where the path changes
    var files = 0L
    var dataSize, uniqueChunks, uniqueSize, rewrittenChunks, rewrittenSize = 0L
    var maxWritten = -1L
    (0 until n).foreach { i =>
      if (i == 0 || path(i) != path(i - 1)) files += 1
      dataSize += size(i)
      if (!dup(i)) { uniqueChunks += 1; uniqueSize += size(i) }
      else if (write(i)) { rewrittenChunks += 1; rewrittenSize += size(i) }
      if (write(i)) maxWritten = math.max(maxWritten, packCid(i))
    }
    val stats = TraceJobStats(backupId, files, n, dataSize, uniqueChunks,
      uniqueSize, rewrittenChunks, rewrittenSize, uniqueSize + rewrittenSize,
      if (maxWritten < 0) 0L else maxWritten - nextCid + 1L,
      0L, 0L, 0.0, 0.0)
    val stream = UTF8String.fromString(label)
    val (finalRec, _) = materialize("final_recipe", DriverFold.table(spark,
      RecipeSchema, n)(i => Array(stream, i + 1L, path(i), fp(i), size(i),
      dup(i), write(i), containerId(i))).coalesce(1), Some(n.toLong))
    // 8. the HAR trim
    val recipe = Rewrite.LocalStream(size, containerId, dup)
    val (sparseList, sparseCount) = if (!har) (prevSparse, 0L) else {
      val ids = Rewrite.harSparseLocal(recipe,
        settings.rewrite.harUtilizationThreshold,
        settings.rewrite.harRewriteLimit, payload)
      materialize("har_sparse", DriverFold.table(spark, "containerId BIGINT",
        ids.length)(i => Array(ids(i))).coalesce(1), Some(ids.length.toLong))
    }
    val copies = (0 until n).filter(write(_)).toArray
    val (newIndex, _) = materialize("index", upsert(index,
      DriverFold.table(spark, "fp STRING, idxCid BIGINT", copies.length)(
        i => Array(fp(copies(i)), packCid(copies(i))))), None)
    TraceJobResult(finalRec, newIndex, sparseList,
      stats.copy(sparse_containers = sparseCount), Some(recipe))
  }

  /** [[oneJob]] distributed. `seqd` is the job's [[sequence]]d chunk
    * stream (columns path, chunkIdx, fp, size, stream, seq); the stats and
    * the HAR monitor read the materialized recipe. */
  private def distributedJob(backupId: Long, seqd: DataFrame,
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
        col("size"), col("dup"), col("write"), col("containerId")), None)
    val stats = recipeStats(backupId, finalRec, nextCid)
    val (sparseList, sparseCount) =
      if (settings.rewrite.enableHar)
        materialize("har_sparse",
          Rewrite.harSparseContainers(finalRec,
              settings.rewrite.harUtilizationThreshold,
              settings.rewrite.harRewriteLimit, payload)
            .select(col("containerId")), None)
      else (prevSparse, 0L)
    val (newIndex, _) = materialize("index", upsert(index, copies), None)
    TraceJobResult(finalRec, newIndex, sparseList,
      stats.copy(sparse_containers = sparseCount), None)
  }

  /** The index after a job: latest copy wins, the max over the old
    * entry and the job's written copies (fp, packCid). */
  private def upsert(index: DataFrame, copies: DataFrame): DataFrame =
    index.select(col("fp"), col("idxCid")).union(copies)
      .groupBy(col("fp")).agg(max(col("idxCid")).as("idxCid"))

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
      payload: Long = Rewrite.ContainerPayload,
      localCap: Int = LocalCap): DataFrame = {
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
      val label = s"b$b"
      val r = oneJob(b, job0, label, index, prevSparse, nextCid, settings,
        payload, checkpoint, localCap)
      val rs =
        if (r.stats.chunks == 0) (0L, 0.0, 0.0)
        else r.local match {
          case Some(l) =>
            val s = settings.restoreSimLocal(label, l.accesses)
            (s.containerReads, s.speedFactor, s.cfl)
          case None => settings.restoreSim(
              r.finalRec.select(col("stream"), col("seq"),
                col("containerId"), col("size")))
            .select(col("containerReads"), col("speedFactor"), col("cfl"))
            .as[(Long, Double, Double)].head()
        }
      stats += r.stats.copy(
        container_reads = rs._1, speed_factor = rs._2, cfl = rs._3)
      index = r.newIndex
      nextCid += r.stats.containers_written
      prevSparse = r.sparse
    }
    spark.createDataset(stats.toSeq).toDF()
  }
}
