package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row}
import org.apache.spark.sql.catalyst.expressions.GenericRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, LongType, StructField, StructType}
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
    * (path, commit, chunkIdx) within the stream). The per-stream rank is
    * [[streamPrefix]] of 1s, never a per-repo window: a mega-repo with
    * 10^9 chunks would funnel its whole stream through one window-sort
    * task.
    */
  def streamRecipe(rec: DataFrame): DataFrame =
    streamPrefix(rec.withColumn("one", lit(1L)),
        "repo", Seq("path", "commit", "chunkIdx"), "one", "pre")
      .withColumn("stream", col("repo"))
      .withColumn("seq", col("pre") + 1L)
      .drop("one", "pre")

  /** Exclusive per-stream running prefix sum of `valueCol` (a bigint
    * column, values of any sign) over rows ordered by `orderCols` within
    * `streamCol`, added as column `out`: the running-sum fold of
    * [[segmentedScan]], never a per-stream window.
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
    * is the distributed statement of the packing rule; every distributed
    * packer calls it. [[packLocal]] is its driver-side form and must stay
    * in step with it (StoreStepSpec checks that the two agree).
    */
  private[graft] def pack(df: DataFrame, streamCol: String,
      orderCols: Seq[String], sizeCol: String, base: Long, payload: Long,
      out: String): DataFrame =
    streamPrefix(df, streamCol, orderCols, sizeCol, "pre")
      .withColumn(out, (lit(base) +
          floor(greatest(col("pre") + col(sizeCol) - 1, lit(0L)) / payload))
        .cast("long"))
      .drop("pre")

  /** [[pack]]'s rule over one stream held on the driver: `sizes` in
    * stream order → each row's container id, in the same arithmetic. */
  private[graft] def packLocal(sizes: Array[Long], base: Long,
      payload: Long): Array[Long] = {
    var pre = 0L
    sizes.map { size =>
      val c = base + math.floor(math.max(pre + size - 1, 0L).toDouble /
        payload).toLong
      pre += size
      c
    }
  }

  /** [[streamPrefix]] plus the sum of `valueCol` over ALL rows, which its
    * summary job collects anyway (each partition reports its own total), so
    * a caller that needs the grand total pays no query for it. */
  private[graft] def streamPrefixTotal(df: DataFrame, streamCol: String,
      orderCols: Seq[String], valueCol: String,
      out: String): (DataFrame, Long) = {
    val (prefixed, _, total) = segmentedScan(df, Some(streamCol), orderCols,
      None, RunningSum(valueCol, out))
    (prefixed, total)
  }

  /** Per-stream consecutive-run detection over rows ordered by
    * `orderCols` within `streamCol`: adds `newRunOut` (boolean — the
    * row's `chainCol` differs from the previous row's within the stream,
    * or the row opens the stream) and `runIdOut` (1-based dense run
    * counter per stream). The run-count fold of [[segmentedScan]] over
    * one bigint key: the distributed form of `lag(chain)` + `sum(newRun)`
    * over `Window.partitionBy(stream)`, whose one task would sort a whole
    * mega-stream.
    */
  private[graft] def streamRuns(df: DataFrame, streamCol: String,
      orderCols: Seq[String], chainCol: String, newRunOut: String,
      runIdOut: String): DataFrame =
    segmentedScan(df, Some(streamCol), orderCols, None,
      RunCount(Seq(chainCol), newRunOut, runIdOut))._1

  /** A fold that [[segmentedScan]] runs along each stream: the bigint
    * columns it reads and the columns it adds. */
  private[graft] sealed abstract class ScanFold(val cols: Seq[String],
      val added: Seq[StructField])

  /** Exclusive running sum of the bigint column `value`, added as `out`. */
  private[graft] final case class RunningSum(value: String, out: String)
      extends ScanFold(Seq(value), Seq(StructField(out, LongType, false)))

  /** Run count over the bigint columns `keys`: a row opens a run when it
    * opens its stream or any key differs from the previous row's. Adds
    * `newRunOut` (boolean) and `runIdOut` (the 1-based run id within the
    * stream). */
  private[graft] final case class RunCount(keys: Seq[String],
      newRunOut: String, runIdOut: String) extends ScanFold(keys,
    Seq(StructField(newRunOut, BooleanType, false),
      StructField(runIdOut, LongType, false)))

  /** A partition's summary: pid, rows, fold total, and its first and
    * last stream as (key, fold from empty, first or last row's keys). */
  private type ScanPart = (Int, Long, Long, (String, Long, Array[Long]),
    (String, Long, Array[Long]))

  /** The one distributed ordered scan, behind [[streamPrefix]],
    * [[streamRuns]] and the suffix array's dense rank: `fold` runs along
    * each stream (`stream` None: all rows are one stream) in `order`, as
    * destor's sequential folds run over a backup stream
    * (src/filter_phase.c:135-190, src/cfl_rewrite.c), never as a window
    * whose one task sorts a whole stream. Each step runs once:
    *  1. range-partition on (stream +: order) — into `partitions` if
    *     given, a count adaptive execution keeps, else into the session
    *     default, which it may coalesce — and sort within partitions;
    *  2. freeze the partition id into the rows;
    *  3. take a lazy localCheckpoint;
    *  4. collect each partition's summary (the fold over its first and
    *     its last stream, its rows and fold total) in the job that
    *     materializes the checkpoint;
    *  5. chain the summaries on the driver and broadcast one carry-in
    *     per (pid, stream);
    *  6. run a lazy per-row pass from the carry-ins.
    * Two invariants make it exact. Equal keys share a partition under
    * range partitioning, so streams are contiguous and only a partition's
    * first stream can continue from the partition before: the driver gets
    * O(partitions) rows, whatever the number of streams. The partition id
    * is frozen: the per-row pass reads it from the row, never from
    * TaskContext, since a downstream coalesce() runs several checkpointed
    * partitions in one task and each would otherwise take the carry-in of
    * the task's id. Stream keys may be any atomic type (compared by their
    * string rendering) but not null; the fold's columns must be LongType.
    * Returns the rows with the fold's columns added, the row count, and
    * the fold total: the value's sum, or the number of runs.
    */
  private[graft] def segmentedScan(df: DataFrame, stream: Option[String],
      order: Seq[String], partitions: Option[Int],
      fold: ScanFold): (DataFrame, Long, Long) = {
    fold.cols.foreach { c =>
      val t = df.schema(c).dataType
      require(t == LongType, s"segmentedScan: $c must be LongType, got $t")
    }
    val sum = fold.isInstanceOf[RunningSum]
    val sortCols = (stream.toSeq ++ order).map(col)
    val ordered = partitions
      .fold(df.repartitionByRange(sortCols: _*))(
        df.repartitionByRange(_, sortCols: _*))
      .sortWithinPartitions(sortCols: _*)
      .withColumn("_scan_pid", spark_partition_id())
      .localCheckpoint(eager = false)
    val width = ordered.schema.length - 1
    require(ordered.schema.fieldIndex("_scan_pid") == width,
      "segmentedScan: _scan_pid must be the last column")
    val sIdx = stream.fold(-1)(ordered.schema.fieldIndex)
    val vIdx = fold.cols.map(ordered.schema.fieldIndex).toArray
    val parts = ordered.mapPartitions { it =>
      val c = new ScanCursor(sum, sIdx, vIdx)
      var pid = -1; var rows = 0L; var total = 0L
      var first: (String, Long, Array[Long]) = null
      var firstKeys: Array[Long] = null
      it.foreach { r =>
        val s = c.streamOf(r)
        if (s != c.stream) {
          if (c.stream != null) {
            total += c.acc
            if (first == null) first = (c.stream, c.acc, firstKeys)
          }
          c.open(s, 0L, null)
        }
        c.step(r)
        if (rows == 0) { pid = r.getInt(width); firstKeys = c.keys.clone() }
        rows += 1
      }
      if (rows == 0) Iterator.empty
      else {
        val last = (c.stream, c.acc, c.keys.clone())
        Iterator.single[ScanPart]((pid, rows, total + c.acc,
          if (first == null) (c.stream, c.acc, firstKeys) else first, last))
      }
    }(Encoders.product[ScanPart]).collect().sortBy(_._1)
    // the driver chain: the stream open at the end of the partitions so
    // far, its fold state and the keys of its last row
    val carries = scala.collection.mutable.Map.empty[Int, (Long, Array[Long])]
    var open: String = null; var acc = 0L; var keys: Array[Long] = null
    var rows = 0L; var total = 0L
    parts.foreach { case (pid, n, t, (fs, fAcc, fKeys), (ls, lAcc, lKeys)) =>
      rows += n; total += t
      var firstAcc = fAcc
      if (fs == open) {
        // run count: a run that crosses the boundary is counted once
        val continues = !sum && java.util.Arrays.equals(keys, fKeys)
        if (continues) total -= 1
        if (acc != 0L) carries(pid) = (acc, keys) // 0 is the default
        firstAcc = acc + fAcc - (if (continues) 1L else 0L)
      }
      acc = if (ls == fs) firstAcc else lAcc
      open = ls; keys = lKeys
    }
    val carryB = df.sparkSession.sparkContext.broadcast(carries.toMap)
    val outWidth = width + fold.added.length
    val out = ordered.mapPartitions { it =>
      val carry = carryB.value
      val c = new ScanCursor(sum, sIdx, vIdx)
      var pid = Int.MinValue
      it.map { r =>
        val p = r.getInt(width)
        val s = c.streamOf(r)
        if (p != pid) {
          pid = p
          val (a, ks) = carry.getOrElse(p, (0L, null))
          c.open(s, a, ks)
        } else if (s != c.stream) c.open(s, 0L, null)
        val v = c.step(r)
        val row = new Array[Any](outWidth)
        var i = 0
        while (i < width) { row(i) = r.get(i); i += 1 }
        if (sum) row(width) = v
        else { row(width) = c.newRun; row(width + 1) = v }
        new GenericRow(row): Row
      }
    }(Encoders.row(StructType(ordered.schema.fields.take(width) ++ fold.added)))
    (out, rows, total)
  }

  /** One [[segmentedScan]] walk of a partition: the fold's state along
    * the current stream. */
  private final class ScanCursor(sum: Boolean, sIdx: Int, vIdx: Array[Int]) {
    var stream: String = null
    /** The running sum, or the runs so far. */
    var acc = 0L
    /** The previous row's keys (run count), valid when `hasKeys`. */
    val keys = new Array[Long](if (sum) 0 else vIdx.length)
    var hasKeys = false
    /** Whether the last row stepped opened a run. */
    var newRun = false

    def streamOf(r: Row): String =
      if (sIdx < 0) ""
      else {
        val k = r.get(sIdx)
        require(k != null, "segmentedScan: null stream key unsupported")
        k.toString
      }

    /** Opens stream `s` at fold state `a`, after a row with keys `ks`
      * (null: none — the stream's first row opens a run). */
    def open(s: String, a: Long, ks: Array[Long]): Unit = {
      stream = s; acc = a; hasKeys = ks != null
      if (hasKeys) System.arraycopy(ks, 0, keys, 0, keys.length)
    }

    /** Folds `r` in: the running sum before it, or its run id. */
    def step(r: Row): Long =
      if (sum) { val before = acc; acc += r.getLong(vIdx(0)); before }
      else {
        var same = hasKeys
        var i = 0
        while (i < keys.length) {
          val v = r.getLong(vIdx(i))
          if (v != keys(i)) { same = false; keys(i) = v }
          i += 1
        }
        hasKeys = true; newRun = !same
        if (newRun) acc += 1
        acc
      }
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
    * components recovers the whole cluster. The fold is [[hubStarPairs]].
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
        hubStarPairs(it.map(_._2), maxBucket)(identity)((_, _) => true)
      }
      .toDF("a", "b")
      .distinct()
  }

  /** The bounded per-bucket fold of both LSH candidate sources: the
    * (lower id, higher id) pairs of a bucket's members whose `near` gate
    * holds. Up to `maxBucket` members it emits every such pair. Above it
    * the bucket is hot: it buffers the first `maxBucket + 1`, then
    * streams the rest tracking only the running min-id hub, and emits the
    * hub-star pairs around that hub — O(n) pairs, O(maxBucket) state.
    * Hot buckets may repeat a pair; callers dedup.
    */
  private def hubStarPairs[T](it: Iterator[T], maxBucket: Int)(
      id: T => Long)(near: (T, T) => Boolean): Iterator[(Long, Long)] = {
    val buf = new scala.collection.mutable.ArrayBuffer[T](8)
    while (it.hasNext && buf.length <= maxBucket) buf += it.next()
    if (buf.length <= maxBucket) {
      val sorted = buf.distinct.sortBy(id)
      for {
        i <- sorted.indices.iterator
        j <- (i + 1) until sorted.length
        if near(sorted(i), sorted(j))
      } yield (id(sorted(i)), id(sorted(j)))
    } else {
      var hub = buf.head
      buf.foreach(v => if (id(v) < id(hub)) hub = v)
      val tail = new scala.collection.mutable.ArrayBuffer[T](8)
      while (it.hasNext) {
        val v = it.next()
        if (id(v) < id(hub)) { tail += hub; hub = v } else tail += v
      }
      val h = hub; val hid = id(h)
      (buf.iterator ++ tail.iterator)
        .filter(v => id(v) != hid && near(h, v))
        .map { v => val vid = id(v); if (hid < vid) (hid, vid) else (vid, hid) }
    }
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
    * the bucket's min-id hub pairs with the hub ([[hubStarPairs]] with the
    * Hamming gate) — a mega-cluster of hamming-close files still links
    * through its hub and connected components recovers the whole cluster.
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
        hubStarPairs(it.map(r => (r._2, r._3)), maxBucket)(_._1)(
          (x, y) => Shingles.hamming(x._2, y._2) <= radius)
      }
      .toDF("a", "b")
      .distinct()
  }

  // ------------------------------------------------------------------
  // Stage 4: exact Jaccard verification
  // ------------------------------------------------------------------

  /** Join candidate pairs back to per-file shingle sets and keep pairs
    * with exact Jaccard ≥ τ. Two shuffles (one per side); the shingle
    * arrays are the only payload moved. Hub-star linearization makes the
    * `a` join key deliberately hot (one hub fronts a whole mega-bucket),
    * so the a-side signature lookup goes through the hot-key split join:
    * hub signatures broadcast, the star's million rows never shuffle. The
    * b side stays a plain join — spokes are distinct within a bucket, so
    * no single b dominates.
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
