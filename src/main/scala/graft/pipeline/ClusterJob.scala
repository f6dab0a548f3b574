package graft.pipeline

import scala.concurrent.Await
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{Column, DataFrame, Dataset, Observation, Row,
  SparkSession}
import org.apache.spark.sql.functions._
import graft.corpus.CorpusFile
import graft.obs.Measure

/** The spark-submit job of the north rule: corpus table in → checkpointed
  * stage tables out (signatures, chunks, containers, recipe, pairs,
  * clusters, metrics), resumable mid-run — re-submitting with the same
  * checkpoint root skips every committed stage (SURVEY.md §7.1).
  */
object ClusterJob {

  final case class Summary(
      files: Long, chunks: Long, uniqueChunks: Long,
      totalBytes: Long, uniqueBytes: Long,
      candidatePairs: Long, verifiedPairs: Long, clusters: Long)

  /** The run log of one public call: each freshly computed stage's wall
    * and process-CPU rows (reference: the per-phase throughput block of
    * backup.log, src/do_backup.c:112-131) plus the call's report blocks,
    * kept in memory and appended in ONE write when the call ends
    * ([[RunLog.apply]]). A resumed (read-back) stage logs nothing, so a
    * resume never pollutes the log with near-zero phantom phases. The
    * write runs from a `finally`: a call that throws still logs every
    * stage it committed; a hard kill loses that call's rows — the resume
    * never recomputes a committed stage, so its timing is gone. Metrics
    * are a run log, not part of the resumability contract.
    */
  private final class RunLog(spark: SparkSession, root: String,
      runId: String) {
    private val rows =
      scala.collection.mutable.ArrayBuffer.empty[TableIO.Metric]
    private val osBean = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]

    def add(stage: String, kv: (String, Double)*): Unit = {
      val ts = new java.sql.Timestamp(System.currentTimeMillis())
      kv.foreach { case (m, v) => rows += TableIO.Metric(stage, m, v, ts) }
    }

    /** Compute-or-load a stage table ([[TableIO.stage]]), logging its
      * wall/cpu rows when this call computes it. */
    def stage(name: String)(f: => DataFrame): DataFrame = {
      val fresh = !TableIO.committed(s"$root/$name")
      val c0 = osBean.getProcessCpuTime
      val t0 = System.nanoTime()
      val df = TableIO.stage(spark, root, name, runId)(f)
      if (fresh)
        add(name,
          "wall_sec" -> (System.nanoTime() - t0) / 1e9,
          "cpu_sec" -> (osBean.getProcessCpuTime - c0) / 1e9)
      df
    }

    /** [[stage]] plus the aggregates `stats` over the stage's rows:
      * observed on a fresh stage's write, so they cost no job of their
      * own, and one query over a resumed stage. */
    def observedStage(name: String, stats: Column*)(
        f: => DataFrame): (DataFrame, Row) =
      if (TableIO.committed(s"$root/$name")) {
        val df = stage(name)(f)
        (df, df.agg(stats.head, stats.tail: _*).head())
      } else {
        val obs = Observation()
        val df = stage(name)(f.observe(obs, stats.head, stats.tail: _*))
        (df, Await.result(obs.future, Duration.Inf))
      }

    /** [[stage]] plus a fresh stage's row count, observed on its write;
      * None for a resumed stage, whose count would cost a query. */
    def countedStage(name: String)(
        f: => DataFrame): (DataFrame, Option[Long]) =
      if (TableIO.committed(s"$root/$name")) (stage(name)(f), None)
      else {
        val (df, r) = observedStage(name, count(lit(1)))(f)
        (df, Some(r.getLong(0)))
      }

    def flush(): Unit =
      if (rows.nonEmpty) TableIO.appendMetrics(spark, root, runId, rows.toSeq)
  }

  private object RunLog {
    /** Run `body` with a fresh log and write the log when it ends, also
      * when it throws (a failing write is then suppressed into the
      * original exception). */
    def apply[T](spark: SparkSession, root: String, runId: String)(
        body: RunLog => T): T = {
      val log = new RunLog(spark, root, runId)
      var failure: Throwable = null
      try body(log)
      catch { case t: Throwable => failure = t; throw t }
      finally {
        try log.flush()
        catch {
          case t: Throwable if failure != null => failure.addSuppressed(t)
        }
      }
    }
  }

  def run(corpus: Dataset[CorpusFile], root: String, runId: String,
      cfg: DedupConfig = DedupConfig()): Summary =
    RunLog(corpus.sparkSession, root, runId)(runCore(corpus, cfg, _))

  private def runCore(corpus: Dataset[CorpusFile], cfg: DedupConfig,
      log: RunLog): Summary = {
    val spark = corpus.sparkSession
    import spark.implicits._
    import log.stage

    // 1. featurize → signatures + chunk tables (content dropped here)
    lazy val featurized = DedupPipeline.featurize(corpus, cfg).toDF().persist()
    val signatures = stage("signatures") {
      featurized.select($"fileId", $"repo", $"path", $"commit", $"lang",
        $"size", $"sha256", $"shingles", $"minhash", $"simhash")
    }
    val chunks = stage("chunks")(DedupPipeline.chunkTableDF(featurized))

    // 2. exact dedup + container packing
    val unique = stage("unique_chunks") {
      DedupPipeline.uniqueChunks(chunks.drop("_lineage").as[ChunkRow]).toDF()
    }
    val packed = stage("containers") {
      DedupPipeline.packContainers(
        unique.drop("_lineage").as[UniqueChunk], cfg).toDF()
    }

    // 3. recipe with duplicate marking + container ids
    stage("recipe") {
      DedupPipeline.recipe(
        chunks.drop("_lineage").as[ChunkRow],
        packed.drop("_lineage").as[PackedChunk])
    }

    // 4-6. near-dup candidates → verified pairs → clusters
    val sigsDs = signatures
      .select($"fileId", $"sha256", $"shingles", $"minhash").as[FileSig]
      .persist()
    val candidates = stage("candidate_pairs") {
      DedupPipeline.candidatePairs(sigsDs, cfg)
    }
    val verified = stage("verified_pairs") {
      DedupPipeline.verifiedPairs(candidates.drop("_lineage"), sigsDs, cfg)
    }
    val clusters = stage("clusters") {
      val edges = verified.select($"a", $"b")
        .union(DedupPipeline.exactContentEdges(sigsDs))
      ConnectedComponents.run(signatures.select($"fileId"), edges, cfg.ccMaxIter)
    }

    // 7. metrics: ONE query over the committed tables, each tagged by
    // source so a single aggregate reads every count and size sum
    def tagged(t: Int, df: DataFrame, v: Column) =
      df.select(lit(t).as("t"), v.cast("long").as("v"))
    def cnt(t: Int) = count(when($"t" === t, 1))
    def total(t: Int) = coalesce(sum(when($"t" === t, $"v")), lit(0L))
    val r = Seq(
        tagged(0, signatures, lit(null)), tagged(1, chunks, $"size"),
        tagged(2, unique, $"size"), tagged(3, candidates, lit(null)),
        tagged(4, verified, lit(null)), tagged(5, clusters, $"clusterId"))
      .reduce(_ union _)
      .agg(cnt(0), cnt(1), total(1), cnt(2), total(2), cnt(3), cnt(4),
        countDistinct(when($"t" === 5, $"v")))
      .as[(Long, Long, Long, Long, Long, Long, Long, Long)].head()
    val summary = Summary(
      files = r._1, chunks = r._2, uniqueChunks = r._4,
      totalBytes = r._3, uniqueBytes = r._5,
      candidatePairs = r._6, verifiedPairs = r._7, clusters = r._8)
    log.add("summary",
      "files" -> summary.files.toDouble,
      "chunks" -> summary.chunks.toDouble,
      "unique_chunks" -> summary.uniqueChunks.toDouble,
      "total_bytes" -> summary.totalBytes.toDouble,
      "unique_bytes" -> summary.uniqueBytes.toDouble,
      "dedup_ratio" -> (if (summary.uniqueBytes == 0) 0.0
        else summary.totalBytes.toDouble / summary.uniqueBytes),
      "candidate_pairs" -> summary.candidatePairs.toDouble,
      "verified_pairs" -> summary.verifiedPairs.toDouble,
      "clusters" -> summary.clusters.toDouble)
    sigsDs.unpersist()
    featurized.unpersist()
    summary
  }

  /** The config-driven job: the base clustering run under the config's
    * chunker, PLUS the directive-driven analytics stages the reference's
    * backup/restore pipeline reports (north rule: "reproducing destor's
    * dedup-ratio and restore-locality style benchmarks as Spark
    * aggregation reports"):
    *
    *  - `rewrite-algorithm`/`rewrite-enable-har` ⇒ a checkpointed
    *    `rewrite` stage: the configured fragmentation pass (+ HAR
    *    marking against an empty first-backup sparse list) + the P14
    *    write predicate over the stream recipe, with
    *    rewritten-chunk/byte metrics rows; plus a `har_sparse` stage —
    *    the trimmed sparse-container list a FOLLOW-UP backup would
    *    inherit (the reference persists it the same way between jobs);
    *  - `restore-cache` + `simulation-level restore|all` ⇒ a
    *    checkpointed `restore_sim` stage: per-stream
    *    chunks/bytes/containerReads/speedFactor/cfl under the configured
    *    cache.
    *
    * Every stage resumes by skip like the core stages.
    */
  def run(corpus: Dataset[CorpusFile], root: String, runId: String,
      settings: DestorSettings): Summary =
    RunLog(corpus.sparkSession, root, runId) { log =>
      val summary = runCore(corpus, settings.dedupConfig, log)
      runDirectives(corpus.sparkSession, root, settings, log)
      summary
    }

  private def runDirectives(spark: SparkSession, root: String,
      settings: DestorSettings, log: RunLog): Unit = {
    import spark.implicits._
    import log.stage
    lazy val streamRec = DedupPipeline.streamRecipe(
      spark.read.format(TableIO.Format).load(s"$root/recipe")
        .drop("_lineage"))
    val doRewrite =
      settings.rewrite.algorithm != "no" || settings.rewrite.enableHar
    if (doRewrite) {
      val rewriteFresh = !TableIO.committed(s"$root/rewrite")
      val marked = stage("rewrite") {
        val passed = settings.rewritePass(streamRec)
        val hared =
          if (settings.rewrite.enableHar)
            // first backup of this root: no previous sparse list
            Rewrite.harMark(passed, Seq.empty[Long].toDF("containerId"))
          else passed
        Rewrite.writePredicate(hared)
          .select(col("stream"), col("seq"), col("size"), col("containerId"),
            col("dup"), col("write"))
      }
      if (rewriteFresh) {
        val rw = marked.agg(
          sum(when(col("dup") && col("write"), 1L).otherwise(0L)),
          sum(when(col("dup") && col("write"), col("size")).otherwise(0L)))
          .head()
        log.add("rewrite",
          "rewritten_chunks" ->
            (if (rw.isNullAt(0)) 0.0 else rw.getLong(0).toDouble),
          "rewritten_bytes" ->
            (if (rw.isNullAt(1)) 0.0 else rw.getLong(1).toDouble))
      }
      stage("har_sparse")(Rewrite.harSparseContainers(streamRec,
        settings.rewrite.harUtilizationThreshold,
        settings.rewrite.harRewriteLimit))
    }
    // the recipe the restore simulation replays: AFTER the rewrite pass
    // when one is configured — rewritten duplicates land in fresh packed
    // containers past the current max, exactly like TracePipeline, so the
    // locality report actually shows the rewrite's effect. Built LAZILY
    // (only when the restore_sim stage actually computes) so a pure
    // resume never runs the repack jobs.
    def simRecipe(): DataFrame =
      if (doRewrite) {
        val marked = spark.read.format(TableIO.Format)
          .load(s"$root/rewrite").drop("_lineage")
        val base = marked.agg(max(col("containerId"))).head() match {
          case r if r.isNullAt(0) => 0L
          case r => r.getLong(0) + 1L
        }
        val repacked = DedupPipeline.pack(
            marked.filter(col("dup") && col("write"))
              .select(col("stream"), col("seq"),
                col("size").cast("long").as("sz"), lit("all").as("s")),
            "s", Seq("stream", "seq"), "sz", base, Rewrite.ContainerPayload,
            "newCid")
          .select(col("stream"), col("seq"), col("newCid"))
        marked
          .join(repacked, Seq("stream", "seq"), "left")
          .withColumn("containerId",
            coalesce(col("newCid"), col("containerId")))
          .select(col("stream"), col("seq"), col("containerId"), col("size"))
      } else streamRec
    if (settings.simulationLevel == "restore" ||
        settings.simulationLevel == "all")
      stage("restore_sim")(settings.restoreSim(simRecipe()))
  }

  /** ONE incremental backup job against a chained container store — the
    * Spark analog of successive `destor /path` invocations sharing a
    * working directory (reference src/do_backup.c: the jobs share the
    * fingerprint index, the container pool and HAR's inter-job sparse
    * list; src/har_rewrite.c:59-117 loads the previous job's monitor
    * state from disk). Each backup gets its OWN checkpoint root; the
    * chain link is `prevRoot` — the completed previous backup's root,
    * whose committed `index` (fp → latest written container) and
    * `har_sparse` stages are this job's inherited store state.
    *
    * The per-chunk semantics are EXACTLY [[TracePipeline.oneJob]] — the
    * same dedup-against-cumulative-index → configured rewrite (+ HAR
    * against the inherited sparse list) → per-occurrence packing →
    * latest-wins index upsert that the trace replay runs in memory —
    * with the read+chunk+hash phases real (the config's chunk-*
    * directives) instead of trace-fed, and every handoff table a
    * checkpointed resumable stage:
    *
    *   chunks       — the chunk table of this corpus snapshot
    *   final_recipe — stream/seq/path/fp/size/dup/write/containerId
    *   index        — cumulative fp → container (for the NEXT backup)
    *   har_sparse   — trimmed sparse list (when HAR is on; NEXT backup)
    *   restore_sim  — configured cache replay (simulation-level
    *                  restore|all)
    *
    * plus a 14-field `backup` metrics block (the backup.log line).
    * Resume-by-skip: re-submitting with the same root recomputes nothing
    * and appends no duplicate metrics; the returned stats are rebuilt
    * from the committed stage tables so fresh and resumed runs return
    * identical values.
    *
    * A snapshot of at most `localCap` chunks ([[TracePipeline.LocalCap]]
    * unless a test passes another) runs the store step on the driver: one
    * bounded collect, one index lookup, then the stage writes, with the
    * restore sim folded from the recipe the driver holds. A larger one
    * runs it distributed, without the bounded collect when this call
    * wrote the chunks stage and so counted it. Both write the same tables
    * (see [[TracePipeline]]); `localCap = 0` forces the distributed plan.
    */
  def backup(corpus: Dataset[CorpusFile], root: String, runId: String,
      settings: DestorSettings, prevRoot: Option[String] = None,
      payload: Long = Rewrite.ContainerPayload,
      localCap: Int = TracePipeline.LocalCap): TraceJobStats =
    RunLog(corpus.sparkSession, root, runId) { log =>
      // a fresh chunks write counts its rows for free, so a snapshot above
      // the cap goes straight to the distributed store step
      val (chunks, size) = log.countedStage("chunks") {
        DedupPipeline.chunkTableDF(
            DedupPipeline.featurize(corpus, settings.dedupConfig).toDF())
          .select(col("repo"), col("path"), col("commit"), col("chunkIdx"),
            col("size"), col("fp"), col("zero"))
      }
      backupCore(
        chunks.drop("_lineage")
          .select(
            concat_ws("@", col("repo"), col("path"), col("commit")).as("path"),
            col("chunkIdx"), col("fp"), col("size")),
        size, root, settings, prevRoot, payload, localCap, log)
    }

  /** The chunk-stream core of [[backup]]: one chained backup job over an
    * ALREADY-CHUNKED stream (columns path, chunkIdx, fp, size — the
    * TraceSource/FslSource read schema). [[backup]] wraps it with the
    * real read+chunk+hash phases; [[graft.streaming.StreamIngest
    * .backupBatch]] feeds it micro-batches, so batch snapshots, trace
    * replay and continuous streaming ingestion all share ONE store
    * implementation. Checkpointed stages + resume-by-skip as documented
    * on [[backup]].
    */
  def backupChunkStream(chunkStream: DataFrame, root: String, runId: String,
      settings: DestorSettings, prevRoot: Option[String] = None,
      payload: Long = Rewrite.ContainerPayload): TraceJobStats =
    RunLog(chunkStream.sparkSession, root, runId)(
      backupCore(chunkStream, None, root, settings, prevRoot, payload,
        TracePipeline.LocalCap, _))

  /** A committed stage table read with just the columns a job uses: a
    * declared schema runs no parquet footer-inference job. */
  private def load(spark: SparkSession, root: String, table: String,
      schema: String): DataFrame =
    spark.read.schema(schema).format(TableIO.Format).load(s"$root/$table")

  /** `streamSize` is the chunk stream's row count when the caller knows
    * it for free ([[TracePipeline.oneJob]]). */
  private def backupCore(chunkStream: DataFrame, streamSize: Option[Long],
      root: String, settings: DestorSettings, prevRoot: Option[String],
      payload: Long, localCap: Int, log: RunLog): TraceJobStats = {
    val spark = chunkStream.sparkSession
    import spark.implicits._
    val (prevIndex, prevSparse, nextCid, backupId) = prevRoot match {
      case Some(p) =>
        require(TableIO.committed(s"$p/index"),
          s"prevRoot $p has no committed index stage — chain only from a " +
            "completed backup() root")
        val idx = load(spark, p, "index", "fp STRING, idxCid BIGINT")
        val sp =
          if (TableIO.committed(s"$p/har_sparse"))
            load(spark, p, "har_sparse", "containerId BIGINT")
          else Seq.empty[Long].toDF("containerId")
        // ONE aggregate reads both scalars. The store's high-water
        // container id: every written container holds someone's latest
        // copy, so the index max IS it. The backup id: max surviving "bN"
        // stream label in the prev root's committed recipe table + 1 — the
        // recipe is part of the resumability contract (metrics are not: a
        // hard kill can lose the metrics rows, and a guessed id would
        // duplicate a stream label that expire-by-label later deletes).
        // `final_recipe` is a backup() root; `recipes` an expire() root.
        // Fallback (a zero-row recipe, i.e. a valid empty backup): the
        // metrics backup_id row, scanned only then. Neither present ⇒
        // fail loudly.
        val noId = lit(null).cast("long")
        val labels = Seq("final_recipe", "recipes")
          .find(t => TableIO.committed(s"$p/$t")).toSeq.map { t =>
            load(spark, p, t, "stream STRING").select(noId.as("cid"),
              regexp_extract(col("stream"), "^b(\\d+)$", 1).cast("long")
                .as("bid"))
          }
        val ids = (idx.select(col("idxCid").as("cid"), noId.as("bid")) +:
            labels).reduce(_ union _)
          .agg(max(col("cid")), max(col("bid"))).head()
        val nc = if (ids.isNullAt(0)) 0L else ids.getLong(0) + 1L
        val fromLabels =
          if (ids.isNullAt(1)) None else Some(ids.getLong(1) + 1L)
        lazy val fromMetrics =
          try spark.read.format(TableIO.Format).load(s"$p/metrics")
            .filter(col("stage") === "backup" &&
              col("metric") === "backup_id")
            .agg(max(col("value"))).head() match {
            case r if r.isNullAt(0) => None
            case r => Some(r.getDouble(0).toLong + 1L)
          }
          catch { case _: org.apache.spark.sql.AnalysisException => None }
        val bid = fromLabels.orElse(fromMetrics).getOrElse(
          throw new IllegalStateException(
            s"prevRoot $p has neither 'bN' stream labels in its recipe " +
              "table nor a backup_id metrics row — cannot derive the next " +
              "backup id"))
        (idx, sp, nc, bid)
      case None =>
        (Seq.empty[(String, Long)].toDF("fp", "idxCid"),
          Seq.empty[Long].toDF("containerId"), 0L, 1L)
    }
    val storeStages = Seq("final_recipe", "index") ++
      (if (settings.rewrite.enableHar) Seq("har_sparse") else Nil)
    val freshFinal = !TableIO.committed(s"$root/final_recipe")
    // The store step runs only while a store stage is uncommitted (a pure
    // resume never forces it), and each stage write is its table's ONE
    // materialization: the stats, the HAR monitor and the restore sim
    // read the committed final_recipe. An empty corpus snapshot is a valid
    // no-op backup (oneJob takes empty input).
    val label = s"b$backupId"
    val (fr, base, local) =
      if (storeStages.forall(t => TableIO.committed(s"$root/$t"))) {
        val fr = load(spark, root, "final_recipe", TracePipeline.RecipeSchema)
        val sparseCount =
          if (settings.rewrite.enableHar)
            load(spark, root, "har_sparse", "containerId BIGINT").count()
          else 0L
        (fr, TracePipeline.recipeStats(backupId, fr, nextCid)
          .copy(sparse_containers = sparseCount), None)
      } else {
        val r = TracePipeline.oneJob(backupId, chunkStream, label, prevIndex,
          prevSparse, nextCid, settings, payload, (name, df, _) => {
            val (t, n) = log.observedStage(name, count(lit(1)))(df)
            (t.drop("_lineage"), n.getLong(0))
          }, localCap, streamSize)
        (r.finalRec, r.stats, r.local)
      }
    // an empty committed recipe is a no-op backup (fresh OR resumed): the
    // restore sim has nothing to replay. The sim has one row (one stream):
    // a recipe the driver holds is folded there and written as that row,
    // else the max() aggregates observed on the write read it.
    val doSim = (settings.simulationLevel == "restore" ||
      settings.simulationLevel == "all") && base.chunks > 0
    val sim =
      if (!doSim) (0L, 0.0, 0.0)
      else local match {
        case Some(l) =>
          val s = settings.restoreSimLocal(label, l.accesses)
          log.stage("restore_sim")(Seq(s).toDF())
          (s.containerReads, s.speedFactor, s.cfl)
        case None =>
          val (_, r) = log.observedStage("restore_sim",
              max(col("containerReads")), max(col("speedFactor")),
              max(col("cfl")))(
            settings.restoreSim(fr.select(col("stream"), col("seq"),
              col("containerId"), col("size"))))
          (r.getLong(0), r.getDouble(1), r.getDouble(2))
      }
    val stats = base.copy(
      container_reads = sim._1, speed_factor = sim._2, cfl = sim._3)
    if (freshFinal)
      log.add("backup",
        "backup_id" -> stats.backup_id.toDouble,
        "files" -> stats.files.toDouble,
        "chunks" -> stats.chunks.toDouble,
        "data_size" -> stats.data_size.toDouble,
        "unique_chunks" -> stats.unique_chunks.toDouble,
        "unique_size" -> stats.unique_size.toDouble,
        "rewritten_chunks" -> stats.rewritten_chunks.toDouble,
        "rewritten_size" -> stats.rewritten_size.toDouble,
        "stored_size" -> stats.stored_size.toDouble,
        "containers_written" -> stats.containers_written.toDouble,
        "sparse_containers" -> stats.sparse_containers.toDouble,
        "container_reads" -> stats.container_reads.toDouble,
        "speed_factor" -> stats.speed_factor,
        "cfl" -> stats.cfl)
    stats
  }

  final case class ExpireStats(
      expiredVersion: String, rowsBefore: Long, rowsAfter: Long,
      migratedChunks: Long, migratedBytes: Long,
      containersBefore: Long, containersAfter: Long, indexFps: Long)

  /** Retention over a COMPLETED backup chain — the `destor -d<jobid>`
    * analog for [[backup]] roots (reference: the delete pipeline run
    * between backup jobs, src/do_delete.c). Reads every chain root's
    * committed recipe table (`final_recipe` for backup roots, `recipes`
    * for previous expire roots — retention composes along the chain),
    * expires the backup selected by `expiredBackup` (a stream label such
    * as "b2", or an uncompacted root path) via [[GC.expireChain]]
    * (copy-level liveness — the multi-copy store rewriting produces),
    * and writes a checkpointed compacted root:
    *
    *   migration — (fp, old_cid, size, new_cid) survivor moves
    *   recipes   — every surviving backup's recipe on the post-compaction
    *               layout (version/stream, seq, path, fp, size, dup,
    *               write, containerId)
    *   index     — fp → latest surviving container (the `backup()` chain
    *               contract, so the NEXT backup chains from THIS root)
    *
    * plus a `backup_id` metrics row carrying the chain's surviving
    * high-water id so the next chained backup numbers itself correctly.
    * No `har_sparse` is written: compaction invalidates utilization
    * monitor state (migrated containers are densely packed), so the next
    * backup starts with an empty sparse list — the reference's monitor
    * is likewise rebuilt from post-delete containers. Resume-by-skip
    * like every stage job; stats are rebuilt from the committed tables.
    */
  def expire(spark: SparkSession, chainRoots: Seq[String],
      expiredBackup: String, outRoot: String, runId: String,
      payload: Long = Rewrite.ContainerPayload): ExpireStats =
    RunLog(spark, outRoot, runId)(
      expireCore(spark, chainRoots, expiredBackup, outRoot, payload, _))

  private def expireCore(spark: SparkSession, chainRoots: Seq[String],
      expiredBackup: String, outRoot: String, payload: Long,
      log: RunLog): ExpireStats = {
    import spark.implicits._
    import log.stage
    // a chain root is a backup() root (final_recipe) OR a previous
    // expire() root (recipes, multi-label) — retention composes: the
    // compacted root chains into the next backup AND into the next expiry
    def recTable(r: String): Option[String] =
      Seq("final_recipe", "recipes").find(t => TableIO.committed(s"$r/$t"))
    chainRoots.foreach { r =>
      require(recTable(r).isDefined,
        s"chain root $r has no committed final_recipe/recipes stage — " +
          "expire only completed backup()/expire() roots")
    }
    val recs = chainRoots.map(r =>
      r -> load(spark, r, recTable(r).get, TracePipeline.RecipeSchema)).toMap
    val chain = chainRoots.map(recs).reduce(_ unionByName _)
    // `expiredBackup` selects ONE backup: either a stream label ("b2") —
    // required when the chain has been compacted before, since a
    // compacted root carries several labels — or, convenience for
    // uncompacted chains, a chain-root path whose recipe has exactly one
    // label (which that root then carries)
    val expired =
      if (chainRoots.contains(expiredBackup)) {
        val labels = recs(expiredBackup).select(col("stream")).distinct()
          .as[String].collect()
        require(labels.length == 1,
          s"expiredBackup root $expiredBackup carries ${labels.length} " +
            "stream labels — pass the label of the one backup to expire")
        labels.head
      } else {
        require(!chain.filter(col("stream") === expiredBackup).isEmpty,
          s"no chain root carries stream label '$expiredBackup'")
        expiredBackup
      }
    // the whole expiry computes lazily and at most once (pure resumes
    // never force it); version = the backup's stream label
    lazy val res = GC.expireChain(
      chain.withColumn("version", col("stream")), expired, payload)
    val freshMig = !TableIO.committed(s"$outRoot/migration")
    val migration = stage("migration")(res.migration)
    val recipes = stage("recipes") {
      res.recipes.drop("version")
    }
    val index = stage("index")(res.index)
    // every stats value in ONE query over the chain and the committed
    // tables, each tagged by source (as run's summary does)
    def tagged(t: Int, df: DataFrame, cid: Column, v: Column) =
      df.select(lit(t).as("t"), cid.cast("long").as("cid"),
        v.cast("long").as("v"))
    def cnt(t: Int) = count(when(col("t") === t, 1))
    def cids(t: Int) = countDistinct(when(col("t") === t, col("cid")))
    val noValue = lit(null)
    val r = Seq(
        tagged(0, chain, col("containerId"), noValue),
        tagged(1, recipes, col("containerId"),
          regexp_extract(col("stream"), "^b(\\d+)$", 1)),
        tagged(2, migration, noValue, col("size")),
        tagged(3, index, noValue, noValue))
      .reduce(_ union _)
      .agg(cnt(0), cids(0), cnt(1), cids(1), cnt(2),
        coalesce(sum(when(col("t") === 2, col("v"))), lit(0L)),
        max(when(col("t") === 1, col("v"))), cnt(3))
      .head()
    val maxBid = if (r.isNullAt(6)) 1L else r.getLong(6)
    val stats = ExpireStats(expired, r.getLong(0), r.getLong(2), r.getLong(4),
      r.getLong(5), r.getLong(1), r.getLong(3), r.getLong(7))
    if (freshMig) {
      log.add("backup", "backup_id" -> maxBid.toDouble)
      log.add("expire",
        "rows_before" -> stats.rowsBefore.toDouble,
        "rows_after" -> stats.rowsAfter.toDouble,
        "migrated_chunks" -> stats.migratedChunks.toDouble,
        "migrated_bytes" -> stats.migratedBytes.toDouble,
        "containers_before" -> stats.containersBefore.toDouble,
        "containers_after" -> stats.containersAfter.toDouble,
        "index_fps" -> stats.indexFps.toDouble)
    }
    stats
  }

  /** `destor -t` body, shared by the CLI arm and TraceCliSpec: chunk +
    * hash the corpus with the configured chunker and write the
    * reference-format `.trace` file (one `repo@path@commit` stream per
    * file version — commit is part of the key, or two versions of one
    * path would merge into a single block with colliding chunk indices).
    * Returns the chunk count the CLI reports.
    */
  def trace(corpus: Dataset[CorpusFile], outFile: String,
      cfg: DedupConfig): Long = {
    val chunks = DedupPipeline.chunkTableDF(
        DedupPipeline.featurize(corpus, cfg).toDF())
      .select(concat_ws("@", col("repo"), col("path"), col("commit"))
          .as("path"),
        col("chunkIdx"), col("fp"), col("size"))
    val n = chunks.count()
    graft.sources.TraceSource.write(chunks, outFile)
    n
  }

  /** spark-submit entry:
    * ClusterJob <corpusParquet> <checkpointRoot> [runId] [destor.config]
    *   [prevRoot|-]
    *
    * The optional 4th argument is a destor-config file (the reference's
    * own directive language, [[DestorConfig]]) — its chunk-* directives
    * configure the pipeline, so `destor /path` invocations carry their
    * config straight over. When a 5th argument is present the job runs
    * in incremental-backup mode ([[backup]]): `-` starts a fresh chain,
    * a path chains from that completed backup root's store state.
    *
    * Retention mode (`destor -d<jobid>`):
    * ClusterJob expire <outRoot> <labelOrRoot> <root1,root2,...> [runId]
    * — expires one backup of a completed chain ([[expire]]; select by
    * stream label, e.g. b2, or by an uncompacted root path) and writes
    * the compacted root the next chained backup OR the next expiry
    * submits against.
    *
    * Restore mode (`destor -r<jobid> /path`):
    * ClusterJob restore <corpusParquet> <outDir> [destor.config]
    * — materializes the snapshot's directory tree under outDir via the
    * dedup store ([[Restore.materialize]]: recipe ⋈ first-writer chunk
    * bytes, executor-side streaming writes) and prints the per-file
    * sha256 verification tally, the reference's `-r` + md5-check mode.
    * The config's chunk-* directives select the chunker, exactly as the
    * backup-mode config does.
    *
    * Trace mode (`destor -t /path`, reference src/destor.c:347-357 →
    * make_trace in src/trace_phase.c):
    * ClusterJob trace <corpusParquet> <outTraceFile> [destor.config]
    * — chunks + hashes the corpus with the configured chunker and writes
    * the reference-format text `.trace` file ([[graft.sources
    * .TraceSource.write]], byte-exact both ways), completing the
    * reference's four-job command surface (backup/restore/expire/trace).
    * The emitted trace feeds the simulation-level pipeline
    * ([[TracePipeline]]) the same way the reference's traces feed
    * `simulation-level all` runs.
    */
  def main(args: Array[String]): Unit = {
    val mode = args.headOption.filter(Set("trace", "restore", "expire"))
    // every mode but expire takes an optional destor.config 4th argument
    val settings = args.lift(3).filter(_ => !mode.contains("expire"))
      .map { cfgPath =>
        DestorConfig.parse(new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(cfgPath)),
          java.nio.charset.StandardCharsets.UTF_8))
      }
    val cfg = settings.fold(DedupConfig())(_.dedupConfig)
    // SPARK_GRAFT_CPUS and SPARK_GRAFT_MASTER serve sbt runs; under
    // spark-submit its --master and --conf settings win
    val spark = Measure.session(Measure.envCpus(8),
      extra = sys.env.get("SPARK_GRAFT_MASTER").map("spark.master" -> _).toMap)
    import spark.implicits._
    def corpus(path: String) = spark.read.parquet(path).as[CorpusFile]
    val report: Any = mode match {
      case Some("trace") =>
        val Array(_, corpusPath, outFile) = args.take(3)
        val n = trace(corpus(corpusPath), outFile, cfg)
        s"trace chunks=$n out=$outFile"
      case Some("restore") =>
        val Array(_, corpusPath, outDir) = args.take(3)
        val tally = Restore.materialize(corpus(corpusPath), cfg, outDir)
          .agg(count(lit(1)).as("files"),
            sum(when(col("ok"), 1L).otherwise(0L)).as("restored_ok"),
            sum(when(col("ok"), 0L).otherwise(1L)).as("restored_bad")).head()
        s"restore files=${tally.getLong(0)} ok=${tally.getLong(1)} " +
          s"bad=${tally.getLong(2)} out=$outDir"
      case Some(_) => // expire
        val Array(_, outRoot, expiredBackup, chain) = args.take(4)
        val runId =
          args.lift(4).getOrElse(s"gc-${java.util.UUID.randomUUID()}")
        expire(spark, chain.split(',').toSeq, expiredBackup, outRoot, runId)
      case None =>
        val Array(corpusPath, root) = args.take(2)
        val runId =
          args.lift(2).getOrElse(s"run-${java.util.UUID.randomUUID()}")
        (settings, args.lift(4)) match {
          case (st, Some(prev)) => // incremental-backup mode
            backup(corpus(corpusPath), root, runId,
              st.getOrElse(DestorSettings()), Some(prev).filter(_ != "-"))
          case (Some(st), None) => run(corpus(corpusPath), root, runId, st)
          case (None, None) => run(corpus(corpusPath), root, runId, cfg)
        }
    }
    println(s"[clusterjob] $report")
    spark.stop()
  }
}
