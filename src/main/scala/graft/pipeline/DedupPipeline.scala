package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.chunking.{ChunkerConfig, Chunkers}
import graft.corpus.CorpusFile
import graft.functions.Hash64

/** Full pipeline configuration (mirrors the reference's config namespace,
  * src/config.c:19-325 / src/destor.c:78-131, plus the near-dup knobs).
  */
final case class DedupConfig(
    chunker: ChunkerConfig = ChunkerConfig(),
    shingle: ShingleConfig = ShingleConfig(),
    ccMaxIter: Int = 25)

/** Per-chunk record (reference `struct chunk`, src/destor.h:288-294;
  * fp is hex SHA-1, src/destor.h:284).
  */
final case class ChunkInfo(offset: Int, size: Int, fp: String, zero: Boolean)

/** Per-file feature row: everything downstream needs, computed in ONE
  * map-only pass over content so `content` is never shuffled.
  */
final case class FileFeatures(
    fileId: Long,
    repo: String,
    path: String,
    commit: String,
    lang: String,
    size: Int,
    sha256: String,
    chunks: Seq[ChunkInfo],
    shingles: Array[Long],
    minhash: Array[Long],
    simhash: Long)

final case class ChunkRow(fileId: Long, repo: String, path: String,
    commit: String, chunkIdx: Int, offset: Int, size: Int, fp: String,
    zero: Boolean)

/** Narrow signature row — everything the clustering stages need. Persist
  * THIS, not full FileFeatures: the chunk arrays would triple cache size
  * and build time for columns clustering never reads.
  */
final case class FileSig(fileId: Long, sha256: String,
    shingles: Array[Long], minhash: Array[Long])

/** First instance of a fingerprint in stream order (the "first writer",
  * reference: src/index/index.c:140-216 recency precedence).
  */
final case class UniqueChunk(fp: String, size: Int, repo: String,
    path: String, commit: String, chunkIdx: Int)

final case class PackedChunk(fp: String, size: Int, containerId: Long)

/** Per-partition boundary summary of [[DedupPipeline.streamRuns]] —
  * top-level (not nested/private) so the encoder stays codegen-friendly.
  */
final case class RunsPart(pid: Int, firstStream: String,
    firstChain: Long, runsFirst: Long, lastStream: String,
    lastChain: Long, runsLast: Long)

/** Spark-native dedup + near-dup clustering pipeline (SURVEY.md §7.1).
  *
  * Stage graph (every arrow that shuffles is noted):
  *   corpus --map--> features --explode--> chunks
  *   chunks --shuffle(fp)--> uniqueChunks --rangeSort--> packed containers
  *   features --map(bands)--shuffle(band,bucket)--> candidate pairs
  *   pairs --shuffle(fileId)x2--> verified pairs (exact Jaccard)
  *   verified pairs + sha256 groups --iterative joins--> clusters
  */
object DedupPipeline {

  // ------------------------------------------------------------------
  // Stage 1: featurize (map-only; content read exactly once, then dropped)
  // ------------------------------------------------------------------

  def featurizeOne(f: CorpusFile, cfg: DedupConfig,
      sha1: java.security.MessageDigest,
      sha256: java.security.MessageDigest): FileFeatures = {
    val bytes = f.content.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    sha256.reset()
    val contentHash = toHex(sha256.digest(bytes))
    val cut = Chunkers.forConfig(cfg.chunker)
    val bounds = Chunkers.boundaries(bytes, cut)
    val chunks = bounds.map { b =>
      sha1.reset()
      sha1.update(bytes, b.offset, b.length)
      ChunkInfo(b.offset, b.length, toHex(sha1.digest()),
        Chunkers.isZeroChunk(bytes, b.offset, b.length))
    }.toSeq
    val sh = Shingles.shingleHashes(bytes, cfg.shingle)
    FileFeatures(
      fileId = Hash64.fileId(f.repo, f.path, f.commit),
      repo = f.repo, path = f.path, commit = f.commit, lang = f.lang,
      size = bytes.length,
      sha256 = contentHash,
      chunks = chunks,
      shingles = sh,
      minhash = Shingles.minhash(sh, cfg.shingle.minhashK),
      simhash = Shingles.simhash(sh))
  }

  def featurize(files: Dataset[CorpusFile], cfg: DedupConfig): Dataset[FileFeatures] = {
    val spark = files.sparkSession
    import spark.implicits._
    files.mapPartitions { it =>
      val sha1 = java.security.MessageDigest.getInstance("SHA-1")
      val sha256 = java.security.MessageDigest.getInstance("SHA-256")
      it.map(f => featurizeOne(f, cfg, sha1, sha256))
    }
  }

  def toHex(b: Array[Byte]): String = {
    val sb = new java.lang.StringBuilder(b.length * 2)
    var i = 0
    while (i < b.length) {
      sb.append(Character.forDigit((b(i) >> 4) & 0xf, 16))
      sb.append(Character.forDigit(b(i) & 0xf, 16))
      i += 1
    }
    sb.toString
  }

  // ------------------------------------------------------------------
  // Stage 2: chunk table + exact dedup + container packing
  // ------------------------------------------------------------------

  /** Chunk table via native posexplode (stays in whole-stage codegen and
    * lets the columnar cache prune unrelated columns).
    */
  def chunkTableDF(features: DataFrame): DataFrame = {
    features.select(col("fileId"), col("repo"), col("path"), col("commit"),
        posexplode(col("chunks")).as(Seq("chunkIdx", "c")))
      .select(col("fileId"), col("repo"), col("path"), col("commit"),
        col("chunkIdx"), col("c.offset").as("offset"), col("c.size").as("size"),
        col("c.fp").as("fp"), col("c.zero").as("zero"))
  }

  def chunkTable(features: Dataset[FileFeatures]): Dataset[ChunkRow] = {
    val spark = features.sparkSession
    import spark.implicits._
    chunkTableDF(features.toDF()).as[ChunkRow]
  }

  /** First-writer-wins per fingerprint: the chunk instance with the
    * smallest (repo,path,commit,chunkIdx) stream position owns the fp
    * (reference 4-level lookup collapses to this in batch,
    * src/index/index.c:140-216). One shuffle on fp with map-side combine.
    */
  def uniqueChunks(chunks: Dataset[ChunkRow]): Dataset[UniqueChunk] = {
    val spark = chunks.sparkSession
    import spark.implicits._
    chunks
      .groupBy($"fp")
      .agg(
        min(struct($"repo", $"path", $"commit", $"chunkIdx", $"size"))
          .as("first"))
      .select($"fp", $"first.size".as("size"), $"first.repo".as("repo"),
        $"first.path".as("path"), $"first.commit".as("commit"),
        $"first.chunkIdx".as("chunkIdx"))
      .as[UniqueChunk]
  }

  /** Order-preserving container assignment: unique chunks in
    * first-writer stream order, packed as ONE stream by [[pack]]. The
    * order is total (unique chunks have distinct first-writer positions),
    * so the ids are deterministic. The payload is destor's fixed
    * [[Rewrite.ContainerPayload]]; `cfg` holds no packing knob.
    */
  def packContainers(unique: Dataset[UniqueChunk],
      @annotation.unused cfg: DedupConfig): Dataset[PackedChunk] = {
    val spark = unique.sparkSession
    import spark.implicits._
    pack(unique.withColumn("sz", $"size".cast("long"))
        .withColumn("s", lit("all")),
        "s", Seq("repo", "path", "commit", "chunkIdx"), "sz", 0L,
        Rewrite.ContainerPayload, "containerId")
      .select($"fp", $"size", $"containerId")
      .as[PackedChunk]
  }

  /** Chunk table with duplicate marking + owning container — the recipe
    * table (reference .recipe files, src/recipe/recipestore.h:78-82).
    *
    * First-writer marking is a map-side-combinable groupBy-min + hash
    * join on the stream position, NOT a per-fp window sort: a hot
    * fingerprint (the zero chunk can repeat billions of times at 100 TB)
    * would otherwise funnel its whole group through one sorting task.
    */
  def recipe(chunks: Dataset[ChunkRow], packed: Dataset[PackedChunk]): DataFrame = {
    val spark = chunks.sparkSession
    import spark.implicits._
    val first = chunks.groupBy($"fp")
      .agg(min(struct($"repo", $"path", $"commit", $"chunkIdx")).as("first"))
    chunks.join(packed.select($"fp", $"containerId"), Seq("fp"))
      .join(first, Seq("fp"))
      .withColumn("firstWriter",
        struct($"repo", $"path", $"commit", $"chunkIdx") === $"first")
      .select($"fileId", $"repo", $"path", $"commit", $"chunkIdx",
        $"offset", $"size", $"fp", $"zero", $"containerId",
        (!$"firstWriter").as("dup"))
  }

  /** Recipe with stream identity and per-stream sequence — the input
    * contract for the rewrite/restore analytics (stream = repo; order =
    * (path, commit, chunkIdx) within the stream).
    *
    * The per-stream rank is TWO-PHASE DISTRIBUTED (range-partition on the
    * full ordering, per-(partition, repo) counts, broadcast prefix
    * offsets: [[streamPrefix]] of 1s), never a per-repo window: a
    * mega-repo with 10^9 chunks would funnel its whole stream through
    * one window-sort task. Repos are contiguous under the range
    * partitioning, so each partition carries only a handful of distinct
    * repo offsets and the driver-side count exchange is O(partitions).
    * The result is localCheckpoint-materialized so the sampled range
    * boundaries the offsets were computed against can be freed safely.
    */
  def streamRecipe(rec: DataFrame): DataFrame =
    streamPrefix(rec.withColumn("one", lit(1L)),
        "repo", Seq("path", "commit", "chunkIdx"), "one", "pre")
      .withColumn("stream", col("repo"))
      .withColumn("seq", col("pre") + 1L)
      .drop("one", "pre")

  /** Exclusive per-stream running prefix sum of `valueCol` (a bigint
    * column) over rows ordered by `orderCols` within `streamCol`, added
    * as column `out` — TWO-PHASE DISTRIBUTED: range-partition on the full
    * ordering, per-(partition, stream) totals, broadcast prefix offsets,
    * one running-sum map. Never a per-stream window: a mega-stream with
    * 10^9 rows would funnel one window-sort task. Streams are contiguous under the range
    * partitioning, so each partition carries only a handful of distinct
    * stream offsets and the driver exchange is O(partitions). The SORTED
    * input is localCheckpoint-materialized inside the counts job
    * (partition ids frozen
    * into the rows) and the offset pass stays LAZY on top of it — the
    * offsets can never drift from the blocks they were computed against,
    * and the data is written once, not twice (r6). Stream keys may be
    * any atomic type (grouped by their string rendering, injective within
    * one column type) but must be non-null (enforced loudly); `valueCol`
    * must be LongType (validated up front); values may be any sign — only
    * exactly-zero offsets are elided (they are the lookup default).
    */
  private[graft] def streamPrefix(df: DataFrame, streamCol: String,
      orderCols: Seq[String], valueCol: String, out: String): DataFrame =
    streamPrefixTotal(df, streamCol, orderCols, valueCol, out)._1

  /** Container packing, the analog of destor's sequential fill of
    * `payload`-byte containers in stream order (src/filter_phase.c:
    * 135-190; 4 MiB minus 32 KiB of metadata,
    * src/storage/containerstore.h:13-16). Boundaries are cumulative so
    * the fold parallelizes: a row whose bytes end at running offset
    * `pre + size` within its stream lands in container
    * `out = base + floor(greatest(pre + size − 1, 0) / payload)`, ids
    * continuing from `base`; the clamp puts a zero-size row at a
    * stream's start in the first container. `pre` is [[streamPrefix]]'s,
    * so no task sorts a whole stream. `sizeCol` must be LongType. This
    * is the one statement of the packing rule; every packer calls it.
    */
  private[graft] def pack(df: DataFrame, streamCol: String,
      orderCols: Seq[String], sizeCol: String, base: Long, payload: Long,
      out: String): DataFrame =
    streamPrefix(df, streamCol, orderCols, sizeCol, "pre")
      .withColumn(out, (lit(base) +
          floor(greatest(col("pre") + col(sizeCol) - 1, lit(0L)) / payload))
        .cast("long"))
      .drop("pre")

  /** [[streamPrefix]] plus the sum of `valueCol` over ALL rows, which its
    * counts job collects anyway (each partition reports its own total), so
    * a caller that needs the grand total pays no query for it. */
  private[graft] def streamPrefixTotal(df: DataFrame, streamCol: String,
      orderCols: Seq[String], valueCol: String,
      out: String): (DataFrame, Long) = {
    val spark = df.sparkSession
    require(df.schema(valueCol).dataType ==
        org.apache.spark.sql.types.LongType,
      s"streamPrefix: $valueCol must be LongType, " +
        s"got ${df.schema(valueCol).dataType}")
    val sortCols = (streamCol +: orderCols).map(col)
    // ONE eager materialization (r6: formerly persist + a SECOND full
    // checkpoint write of the result — the data was written and re-read
    // twice). The range-partition id is FROZEN into the checkpointed rows
    // (the SuffixArray.denseRankSorted pattern): the lazy offset pass
    // below reads it from the row, never from TaskContext — a downstream
    // coalesce() merges parent partitions into one task and would
    // otherwise feed every parent offset 0.
    val ordered = df.repartitionByRange(sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
      .withColumn("_spfx_pid", org.apache.spark.sql.functions.spark_partition_id())
      .localCheckpoint(eager = false) // the counts pass below is the
      // first action and scans every partition once: it materializes the
      // blocks AND collects the boundary sums in ONE job (r6)
    val sIdx = ordered.schema.fieldIndex(streamCol)
    val vIdx = ordered.schema.fieldIndex(valueCol)
    val pIdx = ordered.schema.fieldIndex("_spfx_pid")
    require(pIdx == ordered.schema.length - 1,
      "streamPrefix: _spfx_pid must be the last column")
    // Streams are CONTIGUOUS under the range partitioning, so only a
    // partition's FIRST and LAST stream can cross a partition boundary —
    // emitting just those two keeps the driver exchange and the broadcast
    // at O(partitions) even with millions of single-partition streams
    // (whose base offset is 0 and needs no entry).
    val counts = ordered.mapPartitions { it =>
      var pid = -1
      var firstStream: String = null; var firstSum = 0L
      var curStream: String = null; var curSum = 0L
      var partTotal = 0L
      it.foreach { r =>
        val k0 = r.get(sIdx); val v = r.getLong(vIdx)
        require(k0 != null, s"streamPrefix: null $streamCol key unsupported")
        val k = k0.toString
        pid = r.getInt(pIdx)
        partTotal += v
        if (curStream == null) { curStream = k; curSum = v }
        else if (k == curStream) curSum += v
        else {
          if (firstStream == null) { firstStream = curStream; firstSum = curSum }
          curStream = k; curSum = v
        }
      }
      // the partition total rides on the partition's first row only
      if (curStream == null) Iterator.empty
      else if (firstStream == null)
        Iterator((pid, curStream, curSum, partTotal))
      else Iterator((pid, firstStream, firstSum, partTotal),
        (pid, curStream, curSum, 0L))
    }(org.apache.spark.sql.Encoders.tuple(
      org.apache.spark.sql.Encoders.scalaInt,
      org.apache.spark.sql.Encoders.STRING,
      org.apache.spark.sql.Encoders.scalaLong,
      org.apache.spark.sql.Encoders.scalaLong)).collect()
    val offsets: Map[Int, Map[String, Long]] = {
      val m = scala.collection.mutable.Map
        .empty[Int, scala.collection.mutable.Map[String, Long]]
      counts.groupBy(_._2).foreach { case (stream, rows) =>
        var cum = 0L
        rows.sortBy(_._1).foreach { case (pid, _, n, _) =>
          if (cum != 0) // zero offsets are the getOrElse default
            m.getOrElseUpdate(pid, scala.collection.mutable.Map.empty)(stream) = cum
          cum += n
        }
      }
      m.map { case (k, v) => (k, v.toMap) }.toMap
    }
    val offB = spark.sparkContext.broadcast(offsets)
    val outSchema = org.apache.spark.sql.types.StructType(
      ordered.schema.dropRight(1)) // drop _spfx_pid
      .add(out, org.apache.spark.sql.types.LongType, nullable = false)
    // LAZY offset pass: rows are sorted by (stream, order) within each
    // frozen pid, so the running sum resets exactly at (pid, stream) run
    // boundaries — no per-row map updates, no second materialization.
    val prefixed = ordered.mapPartitions { it =>
      val off = offB.value
      var curPid = -1; var curKey: String = null; var running = 0L
      it.map { r =>
        val pid = r.getInt(pIdx)
        val k = String.valueOf(r.get(sIdx))
        if (pid != curPid || k != curKey) {
          curPid = pid; curKey = k
          running = off.getOrElse(pid, Map.empty[String, Long]).getOrElse(k, 0L)
        }
        val before = running
        running += r.getLong(vIdx)
        org.apache.spark.sql.Row.fromSeq(r.toSeq.dropRight(1) :+ before)
      }
    }(org.apache.spark.sql.Encoders.row(outSchema))
    (prefixed, counts.map(_._4).sum)
  }

  /** Per-stream consecutive-run detection over rows ordered by
    * `orderCols` within `streamCol`: adds `newRunOut` (boolean — the
    * row's `chainCol` differs from the previous row's within the stream,
    * or the row opens the stream) and `runIdOut` (1-based dense run
    * counter per stream). This is the distributed replacement for
    * `lag(chain)` + `sum(newRun)` over `Window.partitionBy(stream)`:
    * range-partition on the full ordering, ONE per-partition boundary
    * summary (first/last stream, boundary chain values, run counts —
    * O(partitions) rows to the driver), a driver fold chaining boundary
    * streams in partition order, one broadcast of per-partition
    * (baseRuns, continuesRun) pairs, one running map. A mega-stream with
    * 10^9 rows never funnels one window-sort task. Streams are contiguous
    * under the range partitioning, so only a partition's FIRST stream can
    * continue a run from the previous partition. `chainCol` must be
    * LongType (validated); stream keys non-null, any atomic type. The
    * SORTED input is localCheckpoint-materialized inside the summaries
    * job with frozen
    * partition ids and the run pass stays lazy, like [[streamPrefix]].
    */
  private[graft] def streamRuns(df: DataFrame, streamCol: String,
      orderCols: Seq[String], chainCol: String, newRunOut: String,
      runIdOut: String): DataFrame = {
    val spark = df.sparkSession
    require(df.schema(chainCol).dataType ==
        org.apache.spark.sql.types.LongType,
      s"streamRuns: $chainCol must be LongType, " +
        s"got ${df.schema(chainCol).dataType}")
    val sortCols = (streamCol +: orderCols).map(col)
    // ONE eager materialization with frozen partition ids — see
    // [[streamPrefix]] (r6: formerly persist + a second full checkpoint
    // write of the result).
    val ordered = df.repartitionByRange(sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
      .withColumn("_srun_pid", org.apache.spark.sql.functions.spark_partition_id())
      .localCheckpoint(eager = false) // lazy: the summaries pass below
      // materializes the blocks in the same job (see streamPrefix)
    val sIdx = ordered.schema.fieldIndex(streamCol)
    val cIdx = ordered.schema.fieldIndex(chainCol)
    val pIdx = ordered.schema.fieldIndex("_srun_pid")
    require(pIdx == ordered.schema.length - 1,
      "streamRuns: _srun_pid must be the last column")
    val summaries = ordered.mapPartitions { it =>
      var pid = -1
      var firstStream: String = null; var firstChain = 0L; var runsFirst = 0L
      var curStream: String = null; var prevChain = 0L; var runs = 0L
      var inFirst = true
      it.foreach { r =>
        val k0 = r.get(sIdx)
        require(k0 != null, s"streamRuns: null $streamCol key unsupported")
        val k = k0.toString
        val c = r.getLong(cIdx)
        pid = r.getInt(pIdx)
        if (curStream == null) {
          firstStream = k; firstChain = c; curStream = k; runs = 1
        } else if (k != curStream) {
          if (inFirst) { runsFirst = runs; inFirst = false }
          curStream = k; runs = 1
        } else if (c != prevChain) runs += 1
        prevChain = c
      }
      if (curStream == null) Iterator.empty
      else {
        if (inFirst) runsFirst = runs
        Iterator.single(RunsPart(pid, firstStream,
          firstChain, runsFirst, curStream, prevChain, runs))
      }
    }(org.apache.spark.sql.Encoders.product[RunsPart]).collect().sortBy(_.pid)
    // driver fold: chain the boundary stream across partitions in pid
    // order — state is (stream, its last chain value, its runs so far)
    val inherited = scala.collection.mutable.Map.empty[Int, (Long, Boolean)]
    var stStream: String = null; var stChain = 0L; var stRuns = 0L
    summaries.foreach { p =>
      val (base, cont) =
        if (stStream != null && stStream == p.firstStream)
          (stRuns, stChain == p.firstChain)
        else (0L, false)
      if (base != 0L || cont) inherited(p.pid) = (base, cont)
      if (p.lastStream == p.firstStream)
        stRuns = base + p.runsFirst - (if (cont) 1L else 0L)
      else stRuns = p.runsLast
      stStream = p.lastStream; stChain = p.lastChain
    }
    val inhB = spark.sparkContext.broadcast(inherited.toMap)
    val outSchema = org.apache.spark.sql.types.StructType(
      ordered.schema.dropRight(1)) // drop _srun_pid
      .add(newRunOut, org.apache.spark.sql.types.BooleanType,
        nullable = false)
      .add(runIdOut, org.apache.spark.sql.types.LongType, nullable = false)
    // LAZY pass over the checkpointed blocks: "first row of a partition"
    // is detected by the FROZEN pid changing, so the logic survives a
    // downstream coalesce that concatenates parent partitions in order.
    ordered.mapPartitions { it =>
      val inh = inhB.value
      var curPid = Int.MinValue
      var curStream: String = null; var prevChain = 0L; var runId = 0L
      it.map { r =>
        val pid = r.getInt(pIdx)
        val k = String.valueOf(r.get(sIdx))
        val c = r.getLong(cIdx)
        val isNew =
          if (pid != curPid) {
            // `cont` already encodes the chain comparison against the
            // previous partition's LAST row (decided in the driver fold)
            val (base, cont) = inh.getOrElse(pid, (0L, false))
            curPid = pid; curStream = k
            if (cont) { runId = base; false }
            else { runId = base + 1; true }
          } else if (k != curStream) {
            curStream = k; runId = 1; true
          } else if (c != prevChain) { runId += 1; true }
          else false
        prevChain = c
        org.apache.spark.sql.Row.fromSeq(r.toSeq.dropRight(1) :+ isNew :+ runId)
      }
    }(org.apache.spark.sql.Encoders.row(outSchema))
  }

  // ------------------------------------------------------------------
  // Stage 3: LSH candidates
  // ------------------------------------------------------------------

  /** Narrow projection of the clustering-relevant columns. */
  def sigs(features: Dataset[FileFeatures]): Dataset[FileSig] = {
    val spark = features.sparkSession
    import spark.implicits._
    features.select($"fileId", $"sha256", $"shingles", $"minhash").as[FileSig]
  }

  /** Candidate pairs from MinHash LSH banding: one shuffle groups band
    * buckets, a bounded per-bucket fold emits the pairs. Hot buckets
    * (boilerplate/mega-cluster explosion) above cfg.shingle.maxBucket are
    * LINEARIZED, not dropped: every member pairs with the bucket's min id
    * (hub star, O(n) pairs) — quadratic pair-gen on a mega-bucket is
    * never attempted (SURVEY.md §7.4 risk 3), yet a mega-cluster of
    * near-identical files still links through its hub and connected
    * components recovers the whole cluster. The fold keeps O(maxBucket)
    * state: past the cap it streams, tracking only the running min, and
    * emits star pairs for the buffered prefix + the streamed tail.
    */
  def candidatePairs(features: Dataset[FileSig], cfg: DedupConfig): DataFrame = {
    val spark = features.sparkSession
    import spark.implicits._
    val shCfg = cfg.shingle
    val maxBucket = shCfg.maxBucket
    // narrow projection: only (fileId, minhash) is deserialized per row
    features
      .select($"fileId", $"minhash").as[(Long, Array[Long])]
      .filter(_._2.nonEmpty)
      .flatMap { case (id, mh) =>
        // band hashes are already seeded by band index (no cross-band
        // bucket collisions), so the hash alone is the bucket key
        Shingles.bandHashes(mh, shCfg).iterator.map(h => (h, id))
      }
      .groupByKey(_._1)
      .flatMapGroups { (_: Long, it: Iterator[(Long, Long)]) =>
        val ids = new scala.collection.mutable.ArrayBuffer[Long](8)
        var overflow = false
        while (it.hasNext && !overflow) {
          ids += it.next()._2
          if (ids.length > maxBucket) overflow = true
        }
        if (!overflow) {
          val sorted = ids.distinct.sorted
          for {
            i <- sorted.indices.iterator
            j <- (i + 1) until sorted.length
          } yield (sorted(i), sorted(j))
        } else {
          // hot bucket: stream the tail with O(1) extra state, emit
          // hub-star pairs (hub = min id of the whole bucket)
          var hub = Long.MaxValue
          ids.foreach(v => if (v < hub) hub = v)
          val tail = new scala.collection.mutable.ArrayBuffer[Long](8)
          while (it.hasNext) {
            val v = it.next()._2
            if (v < hub) { tail += hub; hub = v } else tail += v
          }
          val h = hub
          (ids.iterator ++ tail.iterator)
            .filter(_ != h)
            .map(v => if (h < v) (h, v) else (v, h))
        }
      }
      .toDF("a", "b")
      .distinct()
  }

  /** destor-preset candidate pairs — the reference's OWN similarity loop
    * run end to end under an [[IndexConfig]] preset (DDFS / BLC / sampled
    * / sparse / SiLo / extreme binning): each file's chunk-fp stream is
    * segmented and feature-sampled per the preset
    * (IndexPresets.segmentAndSample), features go through the FIFO
    * feature index (kvstore valueLength semantics), and files sharing an
    * indexed feature with a query segment become candidate pairs — the
    * batch analog of "prefetch the champion segment's fingerprints"
    * (reference src/index/similarity_detection.c). Feeds verifiedPairs →
    * CC exactly like the MinHash path, so "cluster with the SiLo config"
    * is one call.
    *
    * Shuffle shape: one map-only segment+sample pass, one shuffle on
    * feature (rank-window index cap bounds hot features at valueLength),
    * one shuffle for pair dedup.
    */
  def presetCandidates(features: Dataset[FileFeatures], icfg: IndexConfig,
      valueLength: Int = 4): DataFrame = {
    val spark = features.sparkSession
    import spark.implicits._
    if (icfg.segmentPrefetch <= 0) {
      val segFeatures = features
        .select($"fileId", $"chunks.fp".as("fps"))
        .as[(Long, Seq[String])]
        .flatMap { case (fileId, fps) =>
          IndexPresets.segmentAndSample(icfg)(fps).iterator.flatMap {
            case (segId, feats) => feats.iterator.map(f => (fileId, segId, f))
          }
        }
        .toDF("fileId", "segId", "feature")
      // FIFO index over segments: recency = stream order analog (fileId);
      // key = (fileId, segId) flattened for the candidate join
      val idx = SimilaritySelection.buildFeatureIndex(
        segFeatures.select(
          struct($"fileId", $"segId").as("segKey"), $"feature", $"fileId".as("recency"))
          .select($"segKey".as("segId"), $"feature", $"recency"),
        valueLength)
      segFeatures
        .select(struct($"fileId", $"segId").as("segKey"), $"fileId", $"feature")
        .join(idx.select($"feature", $"candId"), Seq("feature"))
        .select($"fileId".as("qFile"), $"candId.fileId".as("cFile"))
        .filter($"qFile" =!= $"cFile")
        .select(least($"qFile", $"cFile").as("a"), greatest($"qFile", $"cFile").as("b"))
        .distinct()
    } else prefetchCandidates(features, icfg, valueLength)
  }

  /** [[presetCandidates]] with logical-locality prefetch (segmentPrefetch
    * > 0): a feature hit on a champion segment ALSO admits the champion
    * stream's following `segmentPrefetch` segments' files as candidates —
    * the heart of BLC/Sparse/SiLo locality (reference
    * src/index/similarity_detection.c:136-217 loads the hit segment's
    * recipe neighborhood; prefetch counts at src/index/index.c:47,70,88).
    * The batch stream analog: segments take a stream-global position
    * (repo stream, files ordered by (path, commit), segments in file
    * order), computed as a two-phase per-stream prefix of per-file
    * segment counts — never a window. Self-file hits do not prefetch
    * (a file trivially "hits" its own indexed features; prefetching from
    * them would link every stream-adjacent file pair by position alone,
    * not similarity). Downstream verification (verifiedPairs) still gates
    * every admitted pair by exact Jaccard, exactly as the reference
    * dedups prefetched fingerprints by actual lookup.
    *
    * Shuffle shape: map-only segment+sample, one tiny file-level prefix
    * exchange, one shuffle on feature, one equi-join on (stream, gpos)
    * for the bounded prefetch fan-out (≤ segmentPrefetch rows per hit),
    * one shuffle for pair dedup.
    */
  private def prefetchCandidates(features: Dataset[FileFeatures],
      icfg: IndexConfig, valueLength: Int): DataFrame = {
    val spark = features.sparkSession
    import spark.implicits._
    val segFeatures = features
      .select($"fileId", $"repo", $"path", $"commit", $"chunks.fp".as("fps"))
      .as[(Long, String, String, String, Seq[String])]
      .flatMap { case (fileId, repo, path, commit, fps) =>
        val segs = IndexPresets.segmentAndSample(icfg)(fps)
        val n = segs.length.toLong
        segs.iterator.flatMap { case (segId, feats) =>
          feats.iterator.map(f => (fileId, repo, path, commit, segId, n, f))
        }
      }
      .toDF("fileId", "repo", "path", "commit", "segId", "nSegs", "feature")
      .persist()
    // stream-global segment position = per-file exclusive prefix of
    // segment counts within the repo stream + local segId
    val fileSegs = segFeatures
      .select($"fileId", $"repo", $"path", $"commit", $"nSegs").distinct()
    val based = streamPrefix(fileSegs, "repo", Seq("path", "commit"), "nSegs", "base")
      .select($"fileId", $"base")
    val segPos = segFeatures
      .join(based, Seq("fileId"))
      .select($"fileId", $"repo".as("stream"), ($"base" + $"segId").as("gpos"),
        $"feature")
      .persist()
    val segTable = segPos.select($"stream", $"gpos", $"fileId").distinct()
    val idx = SimilaritySelection.buildFeatureIndex(
      segPos.select(struct($"fileId", $"stream", $"gpos").as("segId"),
        $"feature", $"fileId".as("recency")),
      valueLength)
    val hits = segPos
      .select($"fileId".as("qFile"), $"feature")
      .join(idx.select($"feature", $"candId"), Seq("feature"))
      .select($"qFile", $"candId.fileId".as("cFile"),
        $"candId.stream".as("stream"), $"candId.gpos".as("gpos"))
      .filter($"qFile" =!= $"cFile")
      .persist()
    val direct = hits.select($"qFile", $"cFile")
    val prefetched = hits
      .select($"qFile", $"stream", explode(array(
        (1 to icfg.segmentPrefetch).map(p => $"gpos" + p): _*)).as("gpos"))
      .join(segTable, Seq("stream", "gpos"))
      .select($"qFile", $"fileId".as("cFile"))
      .filter($"qFile" =!= $"cFile")
    val out = direct.union(prefetched)
      .select(least($"qFile", $"cFile").as("a"), greatest($"qFile", $"cFile").as("b"))
      .distinct()
      .localCheckpoint(true)
    hits.unpersist(); segPos.unpersist(); segFeatures.unpersist()
    out
  }

  /** SimHash candidate pairs: 64-bit SimHash banded into four 16-bit
    * blocks; files sharing any block AND within the Hamming radius are
    * candidates (covers all pairs with hamming ≤ 3 exactly — pigeonhole
    * over 4 blocks). A secondary candidate source unioned with MinHash
    * LSH (SURVEY.md §2.3 note).
    *
    * Hot buckets above cfg.shingle.maxBucket are LINEARIZED like the
    * MinHash path, not dropped: every member within the Hamming radius of
    * the bucket's min-id hub pairs with the hub (O(n) pairs, O(maxBucket)
    * state) — a mega-cluster of hamming-close files still links through
    * its hub and connected components recovers the whole cluster.
    */
  def simhashCandidates(features: DataFrame, cfg: DedupConfig): DataFrame = {
    val spark = features.sparkSession
    import spark.implicits._
    val radius = cfg.shingle.simhashRadius
    val maxBucket = cfg.shingle.maxBucket
    val bands = features
      .select($"fileId", $"simhash").as[(Long, Long)]
      .filter(_._2 != 0L)
      .flatMap { case (id, sh) =>
        (0 until 4).iterator.map { b =>
          ((b.toLong << 16) | ((sh >>> (16 * b)) & 0xffffL), id, sh)
        }
      }
    bands
      .groupByKey(_._1)
      .flatMapGroups { (_: Long, it: Iterator[(Long, Long, Long)]) =>
        val rows = new scala.collection.mutable.ArrayBuffer[(Long, Long)](8)
        var overflow = false
        while (it.hasNext && !overflow) {
          val r = it.next()
          rows += ((r._2, r._3))
          if (rows.length > maxBucket) overflow = true
        }
        if (!overflow) {
          val sorted = rows.distinct.sortBy(_._1)
          for {
            i <- sorted.indices.iterator
            j <- (i + 1) until sorted.length
            if Shingles.hamming(sorted(i)._2, sorted(j)._2) <= radius
          } yield (sorted(i)._1, sorted(j)._1)
        } else {
          // hot bucket: stream the tail with O(1) extra state, emit
          // hub-star pairs gated by the Hamming radius vs the hub
          var hub: (Long, Long) = rows.head
          rows.foreach(r => if (r._1 < hub._1) hub = r)
          val tail = new scala.collection.mutable.ArrayBuffer[(Long, Long)](8)
          while (it.hasNext) {
            val r = it.next()
            val v = (r._2, r._3)
            if (v._1 < hub._1) { tail += hub; hub = v } else tail += v
          }
          val h = hub
          (rows.iterator ++ tail.iterator)
            .filter(v => v._1 != h._1 && Shingles.hamming(h._2, v._2) <= radius)
            .map(v => if (h._1 < v._1) (h._1, v._1) else (v._1, h._1))
        }
      }
      .toDF("a", "b")
      .distinct()
  }

  // ------------------------------------------------------------------
  // Stage 4: exact Jaccard verification
  // ------------------------------------------------------------------

  /** Join candidate pairs back to per-file shingle sets and keep pairs
    * with exact Jaccard ≥ τ. Two shuffles (one per side); the shingle
    * arrays are the only payload moved.
    */
  /** Hub-star linearization makes the `a` join key deliberately hot (one
    * hub fronts a whole mega-bucket), so the a-side signature lookup goes
    * through the hot-key split join: hub signatures broadcast, the star's
    * million rows never shuffle. The b side stays a plain join — spokes
    * are distinct within a bucket, so no single b dominates.
    */
  def verifiedPairs(pairs: DataFrame, features: Dataset[FileSig],
      cfg: DedupConfig, hotKeyThreshold: Long = 100000L): DataFrame = {
    val spark = features.sparkSession
    import spark.implicits._
    val sets = features.select($"fileId", $"shingles")
    val tau = cfg.shingle.tau
    graft.operators.SkewJoin.lookupJoin(
        pairs,
        sets.withColumnRenamed("fileId", "a").withColumnRenamed("shingles", "sa"),
        "a", hotKeyThreshold)
      .join(sets.withColumnRenamed("fileId", "b").withColumnRenamed("shingles", "sb"), Seq("b"))
      .withColumn("jaccard", graft.functions.JaccardSorted($"sa", $"sb"))
      .filter($"jaccard" >= tau)
      .select($"a", $"b", $"jaccard")
  }

  // ------------------------------------------------------------------
  // Stage 5: exact-content edges + clustering
  // ------------------------------------------------------------------

  /** Files with identical sha256 are linked through the group's min
    * fileId (star edges): guarantees exact dups cluster even when their
    * shingle sets are empty, with |group|-1 edges instead of |group|².
    *
    * Skew-safe by construction: the hub is a map-side-combinable
    * min/count aggregate (never a collect_list — a sha256 shared by 10M
    * files, e.g. an empty file or a vendored license at 10^12-file scale,
    * would materialize a 10M-element array in one reducer), and the join
    * back is a plain hash join that AQE skew-split handles.
    */
  def exactContentEdges(features: Dataset[FileSig]): DataFrame = {
    val spark = features.sparkSession
    import spark.implicits._
    val hubs = features.select($"fileId", $"sha256")
      .groupBy($"sha256")
      .agg(min($"fileId").as("hub"), count(lit(1)).as("n"))
      .filter($"n" > 1)
      .select($"sha256", $"hub")
    features.select($"fileId", $"sha256")
      .join(hubs, Seq("sha256"))
      .filter($"fileId" =!= $"hub")
      .select($"hub".as("a"), $"fileId".as("b"))
  }

  /** Full clustering over narrow signature rows. */
  def clusterSigs(s: Dataset[FileSig], cfg: DedupConfig): DataFrame = {
    val spark = s.sparkSession
    import spark.implicits._
    val cand = candidatePairs(s, cfg)
    val verified = verifiedPairs(cand, s, cfg).select($"a", $"b")
    val exact = exactContentEdges(s)
    val edges = verified.union(exact)
    val vertices = s.select($"fileId")
    ConnectedComponents.run(vertices, edges, cfg.ccMaxIter)
  }

  def cluster(features: Dataset[FileFeatures], cfg: DedupConfig): DataFrame =
    // Eagerly materialize the NARROW signature projection before the
    // clustering stages (r6): clusterSigs reads its input from four
    // subtrees (candidates, both verify sides, exact edges, vertices)
    // keyed differently, so nothing upstream is exchange-reusable and the
    // full featurize map — chunking + SHA-1 + shingles + minhash over
    // every byte of content — re-ran per subtree (~4×; Bench.runPipeline
    // already persisted this projection for the same reason). The
    // checkpoint truncates at the sigs projection, so content itself is
    // never stored.
    clusterSigs(sigs(features).localCheckpoint(true), cfg)
}
