package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.corpus.CorpusFile
import graft.pipeline.{ClusterJob, DedupConfig, DedupPipeline,
  DestorSettings, Rewrite, TraceJobStats}

/** Incremental ingestion as Structured Streaming (SURVEY.md §2.8: the
  * reference is a bounded pipeline, but incremental backup runs map to
  * micro-batches against the persistent fingerprint index).
  *
  * Each micro-batch: featurize → chunk fps → anti-join the running
  * fingerprint index (new uniques appended, duplicates counted) — the
  * streaming analog of the kv-store update path
  * (reference: src/index/index.c:264-273).
  */
object StreamIngest {

  /** Wire a streaming corpus source through featurize + incremental
    * exact dedup. `indexRoot/fp_index` holds the persistent index;
    * `indexRoot/batches` the per-batch dedup metrics.
    */
  def start(corpus: Dataset[CorpusFile], indexRoot: String,
      cfg: DedupConfig = DedupConfig()): StreamingQuery = {
    val spark = corpus.sparkSession
    corpus.writeStream
      .outputMode("append")
      .option("checkpointLocation", s"$indexRoot/_checkpoint")
      .foreachBatch { (batch: Dataset[CorpusFile], batchId: Long) =>
        ingestBatch(batch, batchId, indexRoot, cfg)
      }
      .start()
  }

  def ingestBatch(batch: Dataset[CorpusFile], batchId: Long,
      indexRoot: String, cfg: DedupConfig): Unit = {
    val spark = batch.sparkSession
    import spark.implicits._
    val indexPath = s"$indexRoot/fp_index"
    val features = DedupPipeline.featurize(batch, cfg)
    val chunks = DedupPipeline.chunkTableDF(features.toDF())
      .select($"fp", $"size").persist()
    // Only a missing/empty index maps to the empty DataFrame; any other
    // read failure is rethrown — treating a transient read error as an
    // empty index would re-append known fingerprints and inflate
    // new_unique (foreachBatch is at-least-once on retry, so the index
    // read must not lie).
    val existing: DataFrame =
      if (new java.io.File(s"$indexPath/_SUCCESS").exists() ||
          new java.io.File(indexPath).isDirectory)
        spark.read.parquet(indexPath)
      else Seq.empty[(String, Int)].toDF("fp", "size")
    val batchUnique = chunks.groupBy($"fp").agg(min($"size").as("size"))
    val newUnique = batchUnique.join(existing.select($"fp"), Seq("fp"), "left_anti")
      .persist()
    val stats = chunks.agg(count(lit(1)), sum($"size")).as[(Long, Long)].head()
    val newCnt = newUnique.count()
    // Append new fingerprints stamped with batchId: foreachBatch replays a
    // failed batch (at-least-once), so readers dedup on fp — the stamp
    // makes replayed appends identifiable and the index read-side
    // idempotent (min(batchId) wins on conflict).
    newUnique.withColumn("batchId", lit(batchId))
      .write.mode("append").parquet(indexPath)
    Seq((batchId, stats._1, stats._2, newCnt))
      .toDF("batchId", "chunks", "bytes", "new_unique")
      .write.mode("append").parquet(s"$indexRoot/batches")
    chunks.unpersist(); newUnique.unpersist()
  }

  /** Scale backend: the persistent fp index as a CATALOG TABLE BUCKETED
    * BY fp. The per-batch anti-join then shuffles only the (small) batch
    * side into the index's bucket layout; the index — the side that grows
    * to billions of fingerprints — is scanned bucket-aligned with zero
    * Exchange, and appends preserve the bucket spec. This is the batch
    * analog of the reference's persistent kvstore
    * (src/index/kvstore_htable.c) with htable buckets as table buckets.
    */
  def ingestBatchBucketed(batch: Dataset[CorpusFile], batchId: Long,
      tableName: String, metricsPath: String, nBuckets: Int = 64,
      cfg: DedupConfig = DedupConfig()): Unit = {
    val spark = batch.sparkSession
    import spark.implicits._
    val features = DedupPipeline.featurize(batch, cfg)
    val chunks = DedupPipeline.chunkTableDF(features.toDF())
      .select($"fp", $"size").persist()
    val batchUnique = chunks.groupBy($"fp").agg(min($"size").as("size"))
    val newUnique =
      (if (spark.catalog.tableExists(tableName))
        batchUnique.join(spark.table(tableName).select($"fp"), Seq("fp"), "left_anti")
      else batchUnique).persist()
    val stats = chunks.agg(count(lit(1)), sum($"size")).as[(Long, Long)].head()
    val newCnt = newUnique.count()
    newUnique.withColumn("batchId", lit(batchId))
      .write.bucketBy(nBuckets, "fp").sortBy("fp")
      .mode("append").saveAsTable(tableName)
    Seq((batchId, stats._1, stats._2, newCnt))
      .toDF("batchId", "chunks", "bytes", "new_unique")
      .write.mode("append").parquet(metricsPath)
    chunks.unpersist(); newUnique.unpersist()
  }

  /** Continuous chained backup: every micro-batch of an already-chunked
    * stream (columns path, chunkIdx, fp, size — the TraceSource/FslSource
    * read schema) replays as ONE backup job against the persistent
    * chained container store under `storeRoot` — the streaming front-end
    * of [[graft.pipeline.ClusterJob.backupChunkStream]], so an always-on
    * ingestion pipeline gets the reference's full between-jobs semantics
    * (src/do_backup.c: shared fingerprint index, continuing container
    * pool, HAR's inter-job sparse-list handoff, the configured rewrite
    * pass and restore simulation) instead of the plain fp-index
    * append [[ingestBatch]] runs.
    *
    * Store layout: job roots `storeRoot/jobs/j<batchId>`, each a
    * checkpointed stage root (final_recipe / index / har_sparse /
    * restore_sim / metrics) chained from its predecessor. Delivery is
    * foreachBatch at-least-once over a replayable source; a replayed
    * batch resumes-by-skip off its committed stages and a retried
    * partial batch recomputes only the uncommitted ones from the same
    * source offsets, so the store is exactly-once. Batch N+1 only starts
    * after batch N's sink call returns, which is exactly the chain
    * precondition (prev root committed).
    *
    * Scale shape: the per-batch cost is one fp-keyed join of the (small)
    * batch side against the cumulative index table plus the per-job
    * packing prefix-sum — the same plan the batch chain runs; at a
    * billions-of-fps index, back the index stage table with the
    * fp-bucketed catalog-table layout of [[ingestBatchBucketed]].
    */
  def backupStream(chunkStream: DataFrame, storeRoot: String,
      settings: DestorSettings,
      payload: Long = Rewrite.ContainerPayload): StreamingQuery =
    chunkStream.writeStream
      .outputMode("append")
      .option("checkpointLocation", s"$storeRoot/_checkpoint")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row],
          batchId: Long) =>
        backupBatch(batch.toDF(), batchId, storeRoot, settings, payload)
        ()
      }
      .start()

  private def jobRoot(storeRoot: String, batchId: Long): String =
    s"$storeRoot/jobs/j$batchId"

  /** One micro-batch as one chained backup job (the foreachBatch body of
    * [[backupStream]], callable directly for batch-mode replay/tests):
    * batch N chains from batch N-1's committed job root; batch 0 starts
    * the chain. Returns the job's backup.log stats — identical whether
    * the job computed fresh or resumed from committed stages. An empty
    * micro-batch is a valid no-op backup (index carried unchanged).
    */
  def backupBatch(batch: DataFrame, batchId: Long, storeRoot: String,
      settings: DestorSettings,
      payload: Long = Rewrite.ContainerPayload): TraceJobStats = {
    require(batchId >= 0, s"backupBatch: negative batchId $batchId")
    val prev = if (batchId == 0) None else Some(jobRoot(storeRoot, batchId - 1))
    ClusterJob.backupChunkStream(
      batch.select(col("path"), col("chunkIdx"), col("fp"), col("size")),
      jobRoot(storeRoot, batchId), s"stream-j$batchId", settings, prev,
      payload)
  }

  /** Event-time windowed throughput with watermark (tumbling window) —
    * the streaming analog of the per-phase throughput log
    * (reference: src/do_backup.c:112-131).
    */
  def windowedThroughput(events: DataFrame, window: String = "1 minute",
      watermark: String = "2 minutes"): DataFrame = {
    events
      .withWatermark("ts", watermark)
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window))
      .agg(count(lit(1)).as("events"), sum(col("value")).as("total_value"))
      .select(col("window.start").as("window_start"),
        col("events"), col("total_value"))
  }

  /** Per-fingerprint dedup state for [[dedupStream]]: where the chunk was
    * first written and how many duplicates arrived since.
    */
  final case class FpState(firstFile: String, firstBatchSeq: Long, dups: Long)

  /** One streamed chunk occurrence (seq = arrival order within the file,
    * used only for the deterministic first-writer tie-break).
    */
  final case class ChunkEvent(fp: String, file: String, seq: Long, size: Int)

  final case class DedupDecision(fp: String, file: String, size: Int,
      unique: Boolean, dupsSoFar: Long)

  /** J1 dedup lookup as a STATEFUL streaming operator
    * (flatMapGroupsWithState): chunks grouped by fingerprint; keyed
    * GroupState holds the first writer, so across micro-batches exactly
    * one occurrence per fp is emitted `unique = true` and every later one
    * is marked duplicate with a running count — destor's fingerprint-index
    * hit path (reference src/index/index.c:264-273) with the kv store
    * replaced by Spark's managed state store (checkpointed, versioned —
    * the resume story comes free).
    *
    * Scale notes: state is per-fp O(1) and hash-partitioned by key across
    * executors; no timeout is set because a dedup index never expires —
    * at 100 TB you'd back this with RocksDB state store, same code.
    * Within one micro-batch the iterator is folded in (file, seq) order so
    * the first writer is deterministic regardless of shuffle arrival.
    */
  /** One streamed document for [[neardupStream]]. */
  final case class DocEvent(docId: Long, text: String)

  /** Per-LSH-bucket state: the bucket's hub (first doc to land in it)
    * and the hub's full MinHash signature for verification — K longs,
    * O(1) per key.
    */
  final case class BucketState(hubId: Long, hubSig: Array[Long])

  /** One (doc, bucket) verdict: the bucket's hub at arrival time and the
    * MinHash-estimated Jaccard against it (1.0 self row when the doc IS
    * the hub).
    */
  final case class BucketVerdict(docId: Long, bucket: Long, hubId: Long,
    est: Double)

  /** STREAMING near-dup detection — the flagship LSH pipeline
    * ([[graft.pipeline.DedupPipeline.candidatePairs]]) as a stateful
    * streaming operator, so an always-on ingestion stream gets keep-first
    * near-dup curation with the same banding scheme as the batch job.
    *
    * Shape: map-side featurize (gear shingles → K-MinHash → b seeded band
    * hashes, [[graft.pipeline.Shingles]]) explodes each doc into b
    * (bucket, docId, sig) rows; ONE flatMapGroupsWithState keyed by
    * bucket holds the bucket's HUB — the first doc ever to land in it —
    * plus the hub's signature, and emits a [[BucketVerdict]] per arrival
    * with the MinHash-estimated Jaccard vs the hub. The hub-star rule is
    * the batch path's own hot-bucket linearization: candidates are
    * (hub, member), never member×member, so a boilerplate bucket costs
    * O(members) verdicts and O(K) state forever.
    *
    * Determinism: within a micro-batch arrivals fold in docId order, so
    * the min-id doc of the first batch is the hub — exactly the batch
    * hub. Estimates are exact ratios matches/K (no float-order drift).
    * Across batches state persists in Spark's checkpointed state store:
    * a doc arriving a week later still verifies against the hub its
    * bucket elected on day one (the streaming analog of the persistent
    * fingerprint index).
    *
    * Scale notes: state is hash-partitioned by bucket; per-key state is
    * K longs — a RocksDB state store carries billions of buckets. The
    * map-side explode ships b copies of the K-long signature per doc
    * (the standard LSH shuffle cost; band-slicing the signature and
    * re-joining for verification halves it at the cost of a second
    * shuffle — not worth it below ~10^10 docs/day).
    */
  def neardupStream(docs: Dataset[DocEvent],
      cfg: graft.pipeline.ShingleConfig = graft.pipeline.ShingleConfig())
      : Dataset[BucketVerdict] = {
    import docs.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import graft.pipeline.Shingles
    docs
      .flatMap { d =>
        val sh = Shingles.shingleHashes(
          d.text.getBytes(java.nio.charset.StandardCharsets.UTF_8), cfg)
        val mh = Shingles.minhash(sh, cfg.minhashK)
        if (mh.isEmpty) Iterator.empty
        else Shingles.bandHashes(mh, cfg).iterator.map(h => (h, d.docId, mh))
      }
      .groupByKey(_._1)
      .flatMapGroupsWithState[BucketState, BucketVerdict](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (bucket: Long, events: Iterator[(Long, Long, Array[Long])],
            state: GroupState[BucketState]) =>
          val ordered = events.toSeq.sortBy(_._2)
          var st = state.getOption.orNull
          val out = ordered.map { case (_, id, mh) =>
            if (st == null) {
              st = BucketState(id, mh)
              BucketVerdict(id, bucket, id, 1.0)
            } else {
              BucketVerdict(id, bucket, st.hubId,
                Shingles.minhashEstimate(st.hubSig, mh))
            }
          }
          if (st != null) state.update(st)
          out.iterator
      }
  }

  /** Per-doc keep/drop decision over [[neardupStream]] verdicts: a doc is
    * a near-dup iff some bucket's hub (other than itself) estimates
    * Jaccard ≥ threshold; `canonId` is the best-estimate hub (ties → min
    * hub id), the doc itself when kept. `docs` supplies the universe so
    * documents that never produced a verdict (empty/too-short text) are
    * kept rows too. Plain batch aggregation — run it per micro-batch in
    * foreachBatch or over the accumulated verdict sink.
    */
  def neardupDecide(docs: DataFrame, verdicts: DataFrame,
      threshold: Double = 0.5): DataFrame = {
    val best = verdicts
      .filter(col("hubId") =!= col("docId"))
      .groupBy(col("docId"))
      .agg(max(struct(col("est").as("est"),
        (-col("hubId")).as("negHub"))).as("m"))
      .select(col("docId"), col("m.est").as("bestEst"),
        (-col("m.negHub")).as("bestHub"))
    docs.select(col("docId"))
      .join(best, Seq("docId"), "left")
      .select(col("docId"),
        coalesce(col("bestEst") < threshold, lit(true)).as("keep"),
        when(coalesce(col("bestEst") >= threshold, lit(false)),
          col("bestHub")).otherwise(col("docId")).as("canonId"),
        coalesce(col("bestEst"), lit(0.0)).as("bestEst"))
  }

  /** One streamed embedding arrival for [[semDedupStream]]. */
  final case class VecEvent(vecId: Long, embedding: Array[Float])

  /** Streaming semantic-dedup verdict: `keep` iff the vector dueled no
    * STORED keeper of its k-means list at cosine ≥ tau; `nearestKept` /
    * `cos` identify the best-cosine stored keeper it was compared
    * against (itself / 1.0 when its list had no keeper yet); `stored` =
    * whether the keeper set absorbed it (false past the cap).
    */
  final case class SemVerdict(vecId: Long, listId: Int, csim: Double,
    keep: Boolean, nearestKept: Long, cos: Double, stored: Boolean)

  /** Per-list keeper state for [[semDedupStream]]: parallel arrays of
    * keeper ids and their embeddings, capped at maxReps entries.
    */
  final case class SemListState(ids: Array[Long], vecs: Array[Array[Float]])

  /** [[graft.operators.Similarity.semDedup]] as a STATEFUL streaming
    * operator — the embedding-space twin of [[neardupStream]]: vectors
    * arrive as micro-batches, a map-only pass assigns each to its
    * max-cosine centroid (centroids come from a TRAINED SNAPSHOT — the
    * faiss pattern the batch PQ/IVF paths already use — broadcast once,
    * nlist×dim floats), and ONE flatMapGroupsWithState keyed by listId
    * duels each arrival against the list's stored keepers.
    *
    * Discipline: KEEP-FIRST. The batch twin's keep-the-rim rule can
    * retract an earlier keeper when a better-centered duplicate arrives
    * later; Append-mode streaming cannot retract emitted verdicts, so —
    * exactly like [[neardupStream]]'s hub-star and [[commitStream]]'s
    * first-writer — the first arrival of a semantic neighborhood stays
    * the keeper forever and later near-dups drop against it.
    *
    * Bounded state: per list at most `maxReps` keeper embeddings
    * (maxReps·dim floats — RocksDB-friendly). A vector that survives
    * its duels when the list is full is emitted keep=true but
    * stored=false: later duplicates of such an unstored keeper can slip
    * through — the same documented-truncation trade every capped
    * surface in this repo makes (lshDedup maxBucket, dup-span gram
    * caps); size nlist ∝ corpus so lists stay under the cap, exactly
    * the batch twin's cluster-size argument.
    *
    * Determinism: within a micro-batch arrivals fold in vecId order;
    * duel ties (equal cosine) pick the lowest keeper id.
    */
  def semDedupStream(vecs: Dataset[VecEvent],
      cents: Array[(Long, Array[Float])], tau: Double = 0.95,
      maxReps: Int = 64): Dataset[SemVerdict] = {
    import vecs.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val bc = vecs.sparkSession.sparkContext.broadcast(cents)
    vecs
      .map { v =>
        val (best, bestCos) =
          graft.operators.Similarity.nearestCentroid(v.embedding, bc.value)
        (best, v.vecId, v.embedding, bestCos)
      }
      .groupByKey(_._1)
      .flatMapGroupsWithState[SemListState, SemVerdict](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (listId: Int, events: Iterator[(Int, Long, Array[Float], Double)],
            state: GroupState[SemListState]) =>
          val ordered = events.toSeq.sortBy(_._2)
          var st = state.getOption.getOrElse(
            SemListState(Array.empty, Array.empty))
          val out = ordered.map { case (_, id, emb, csim) =>
            var bestCos = Double.MinValue; var bestId = id
            var i = 0
            while (i < st.ids.length) {
              val cs = graft.operators.Similarity.cosine(emb, st.vecs(i))
              if (cs > bestCos || (cs == bestCos && st.ids(i) < bestId)) {
                bestCos = cs; bestId = st.ids(i)
              }
              i += 1
            }
            val none = st.ids.isEmpty
            val dup = !none && bestCos >= tau
            val store = !dup && st.ids.length < maxReps
            if (store) st = SemListState(st.ids :+ id, st.vecs :+ emb)
            SemVerdict(id, listId, csim, keep = !dup,
              if (none) id else bestId,
              if (none) 1.0 else bestCos, store)
          }
          state.update(st)
          out.iterator
      }
  }

  /** One streamed file version for [[commitStream]]: a (repo, commit,
    * path) observation carrying the content digest.
    */
  final case class VersionEvent(repo: String, cseq: Long, path: String,
    h: String)

  /** Streaming commit-chain verdict: `introduced` iff this (repo, path,
    * digest) version was never seen in any earlier micro-batch (or
    * earlier within this batch); `introCseq` is the commit that
    * introduced it.
    */
  final case class VersionDecision(repo: String, cseq: Long, path: String,
    introduced: Boolean, introCseq: Long)

  /** [[graft.operators.RepoDedup.commitDeltas]] as a STATEFUL streaming
    * operator: commits arrive as micro-batches of file-version rows;
    * keyed GroupState per (repo, path, digest) holds the introducing
    * commit, so each arrival is classified introduced vs carried exactly
    * like the batch first-writer min — the repo-layer twin of
    * [[dedupStream]]'s fingerprint index. Within a micro-batch events
    * fold in cseq order (deterministic); across batches the state store
    * persists the version index (arrival-order first-writer — commit
    * streams replay in order, like destor's backup jobs). Aggregating
    * the verdicts per (repo, cseq) yields commitDeltas' n_new/n_carried
    * incrementally.
    */
  def commitStream(versions: Dataset[VersionEvent]): Dataset[VersionDecision] = {
    import versions.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    versions
      .groupByKey(v => (v.repo, v.path, v.h))
      .flatMapGroupsWithState[Long, VersionDecision](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: (String, String, String), events: Iterator[VersionEvent],
            state: GroupState[Long]) =>
          val ordered = events.toSeq.sortBy(_.cseq)
          // intro = min cseq seen so far (batch commitDeltas' global
          // min(cseq) first-writer, computed incrementally): an
          // out-of-order replay whose cseq undercuts the stored intro is
          // itself the (new) first writer, so it classifies introduced
          // and lowers the state — never introduced=false with an
          // introCseq above its own cseq. Earlier emitted verdicts are
          // not retracted (Append mode); exact parity with commitDeltas
          // still requires in-order commit replay, but per-event
          // classification is now min-consistent either way.
          // Option, not a Long.MaxValue sentinel: a first event whose
          // cseq IS Long.MaxValue must still classify introduced and be
          // recorded (a sentinel would silently drop it)
          var intro: Option[Long] = state.getOption
          val out = ordered.map { e =>
            if (intro.forall(e.cseq < _)) {
              intro = Some(e.cseq)
              VersionDecision(e.repo, e.cseq, e.path, introduced = true, e.cseq)
            } else {
              VersionDecision(e.repo, e.cseq, e.path, introduced = false, intro.get)
            }
          }
          intro.foreach(state.update)
          out.iterator
      }
  }

  /** One arriving document attributed to a domain. */
  final case class QuotaEvent(source: String, docId: Long)

  /** Per-arrival quota verdict: `rank` is the document's 1-based arrival
    * index within its source (monotone across micro-batches).
    */
  final case class QuotaVerdict(source: String, docId: Long, rank: Long,
      kept: Boolean)

  /** Streaming per-domain quota enforcement — the ingest-time twin of
    * [[graft.queries.CurationQueries.dQuotaSample]]: one GroupState counter per source
    * caps how many documents a domain may contribute to the mix.
    * Keep-FIRST discipline (arrival rank ≤ quota — Append mode cannot
    * retract earlier emissions, the semDedupStream/neardupStream
    * argument), where the batch pass keeps the md5-smallest Q instead;
    * the two agree whenever ingest order is the content-rank order, and
    * the KEPT COUNT per domain (min(arrivals, Q)) agrees always.
    *
    * State is ONE long per live domain — bounded by domain cardinality,
    * never corpus size. Within a micro-batch events fold in docId order
    * so a batch's verdicts are deterministic under Spark's partition
    * re-ordering of the same micro-batch.
    */
  def quotaStream(docs: Dataset[QuotaEvent], quota: Int)
      : Dataset[QuotaVerdict] = {
    import docs.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    require(quota > 0, s"quota must be positive, got $quota")
    docs
      .groupByKey(_.source)
      .flatMapGroupsWithState[Long, QuotaVerdict](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (source: String, events: Iterator[QuotaEvent],
            state: GroupState[Long]) =>
          val seen = state.getOption.getOrElse(0L)
          val ordered = events.toSeq.sortBy(_.docId)
          val out = ordered.zipWithIndex.map { case (e, i) =>
            val rank = seen + i + 1
            QuotaVerdict(source, e.docId, rank, rank <= quota)
          }
          state.update(seen + ordered.size)
          out.iterator
      }
  }

  def dedupStream(chunks: Dataset[ChunkEvent]): Dataset[DedupDecision] = {
    import chunks.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    chunks
      .groupByKey(_.fp)
      .flatMapGroupsWithState[FpState, DedupDecision](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (fp: String, events: Iterator[ChunkEvent], state: GroupState[FpState]) =>
          val ordered = events.toSeq.sortBy(e => (e.file, e.seq))
          var st = state.getOption.orNull
          val out = ordered.map { e =>
            if (st == null) {
              st = FpState(e.file, e.seq, 0L)
              DedupDecision(fp, e.file, e.size, unique = true, 0L)
            } else {
              st = st.copy(dups = st.dups + 1)
              DedupDecision(fp, e.file, e.size, unique = false, st.dups)
            }
          }
          if (st != null) state.update(st)
          out.iterator
      }
  }
}
