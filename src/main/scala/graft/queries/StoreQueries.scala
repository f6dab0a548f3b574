package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.pipeline._
import QuerySupport._

/** Chunking, storage and GC operators (destor's chunking, storage and
  * restore modules): fixed chunks and their stats, backup metrics, GC over
  * versioned and chained recipes, and the restore round trips.
  */
object StoreQueries {

  /** Fixed-256 chunks with per-slice sha256, in ONE map pass through the
    * REAL pipeline chunker (Chunkers boundaries + zero detect, hash
    * computed on the chunk bytes in the same pass). Shared by
    * [[dFixedChunks]] and [[dBackupStats]]. No text join anywhere: at
    * 100 TB, joining the chunk table back to `documents` for slice
    * hashing would shuffle the full corpus text — the map pass reads
    * each document exactly once and emits only fixed-width rows.
    * Documents are ASCII, so char offsets == byte offsets and the DuckDB
    * substr-based oracle recomputes identical hashes.
    */
  private def sliceShaChunks(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val chunker = Fixed256.chunker
    // par(): the fixture table is ONE scan split — without it the whole
    // chunk + sha256 pass (the bulk of d_backup_stats) ran on one core
    par(spark, t(spark, dir, "documents").filter(length(col("text")) > 0)
        .select(col("doc_id"), col("text")), "doc_id").as[(Long, String)]
      .mapPartitions { it =>
        val cut = graft.chunking.Chunkers.forConfig(chunker)
        val md = java.security.MessageDigest.getInstance("SHA-256")
        it.flatMap { case (id, text) =>
          val bytes = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          graft.chunking.Chunkers.boundaries(bytes, cut).iterator.zipWithIndex
            .map { case (bd, i) =>
              md.reset()
              md.update(bytes, bd.offset, bd.length)
              (id, i.toLong, bd.offset.toLong, bd.length.toLong,
                graft.chunking.Chunkers.isZeroChunk(bytes, bd.offset, bd.length),
                DedupPipeline.toHex(md.digest()))
            }
        }
      }
      .toDF("doc_id", "idx", "off", "size", "zero", "sha")
  }

  /** P1/P2 fixed chunking through the REAL pipeline chunker
    * ([[sliceShaChunks]] — one map pass, no text join), driver-oracle
    * checked: every chunk's (offset, size) boundary is recomputed
    * arithmetically in DuckDB and its content verified by sha256 over
    * the text slice — per-chunk content equality without SHA-1 (absent
    * in DuckDB; the SHA-1 fps stay golden-gated against compiled
    * reference C in GoldenChunkSpec).
    */
  def dFixedChunks(spark: SparkSession, dir: String): DataFrame =
    sliceShaChunks(spark, dir)
      .select(col("doc_id"), col("idx").as("chunk_idx"),
        col("off").as("chunk_offset"), col("size").as("chunk_size"),
        col("sha").as("chunk_sha"))

  /** Chunk-level dedup stats over documents (destor metrics contract),
    * DuckDB-oracled: the fixed-256 boundaries are recomputed
    * arithmetically (boundary parity separately proven per chunk by
    * [[dFixedChunks]]'s sha256 oracle), unique_chunks counts distinct
    * chunk CONTENT — equal to the Spark side's distinct-SHA-1 count —
    * and zero_chunks replays the all-NUL detector on the text slices.
    */
  def dChunkStats(spark: SparkSession, dir: String): DataFrame = {
    val files = docsAsCorpus(spark, dir, nonEmpty = false)
    // finer chunking so documents (~2 KB) actually split
    val features = DedupPipeline.featurize(files, Fixed256)
    val chunks = DedupPipeline.chunkTable(features)
    chunks.agg(
      count(lit(1)).as("total_chunks"),
      countDistinct(col("fp")).as("unique_chunks"),
      sum(col("size")).as("total_bytes"),
      sum(when(col("zero"), 1L).otherwise(0L)).as("zero_chunks"))
  }

  /** The full per-backup metrics contract as ONE oracled reporting query —
    * backup.log's 13-field line plus the end-of-job banner block
    * (reference src/do_backup.c:75-186): per backup, file/chunk/byte
    * totals, zero chunks, unique (first-writer) chunks/bytes, rewritten
    * chunks/bytes, dedup and rewrite ratios, container count, sparse /
    * inherited-sparse container counts, index lookup/update request
    * counters, prefetch units, and accumulative stored capacity.
    *
    * Composition (every stage an existing oracled operator pattern):
    * documents split into two logical backups (doc_id parity, backup 1
    * first in stream order), fixed-256 chunking through the REAL pipeline
    * path (chunk shas recomputed from text slices like d_fixed_chunks so
    * DuckDB can replay), global first-writer dedup across backups
    * (q_first_writer pattern), backup-1 containers packed by cumulative
    * size (q_cum_packing; scaled-down 16 KiB payload so the doc corpus
    * actually fills containers), one-shot HAR over backup 2's references
    * into backup-1 containers (utilization vs actual container bytes,
    * threshold 0.5 — monitoring and rewriting collapsed into the same
    * backup, a documented 2-backup composition of r_har_sparse
    * semantics), HAR-rewritten duplicates counted as stored.
    *
    * Scale shape: shuffles only on sha and containerId; packing is the
    * two-phase streamPrefix (no global window — the only window left is
    * the 2-row stored_cum frame, bounded by the number of backups).
    */
  def dBackupStats(spark: SparkSession, dir: String): DataFrame = {
    val payload = 16384L
    val chunks = sliceShaChunks(spark, dir)
      .select(col("doc_id"), (pmod(col("doc_id"), lit(2)) + 1).cast("long").as("b"),
        col("idx"), col("size"), col("zero"), col("sha"))
      .persist()
    // ONE backup-keyed pass over the chunk stream: file/chunk/byte/zero
    val core0 = chunks.groupBy(col("b")).agg(
      countDistinct(col("doc_id")).as("files"),
      count(lit(1)).as("chunks"),
      sum(col("size")).as("data_size"),
      sum(when(col("zero"), 1L).otherwise(0L)).as("zero_chunks"))
    // ONE sha-keyed aggregation replaces round-3's first-writer groupBy
    // PLUS the join of every instance back to it: equal shas mean equal
    // content (crypto hash), hence equal size, so per-sha instance counts
    // per backup carry every downstream quantity — the chunk table is
    // never re-shuffled or re-joined at instance granularity
    val perSha = chunks.groupBy(col("sha")).agg(
        min(struct(col("b"), col("doc_id"), col("idx"))).as("first"),
        sum(when(col("b") === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(col("b") === 2, 1L).otherwise(0L)).as("n2"),
        min(col("size")).as("size")) // all equal per sha (equal content)
      .select(col("sha"), col("first.b").as("fb"),
        col("first.doc_id").as("fdoc"), col("first.idx").as("fidx"),
        col("n1"), col("n2"), col("size"))
      .persist()
    // per-backup unique counts = shas whose first writer is in that backup
    val uniq = perSha.groupBy(col("fb").as("b")).agg(
      count(lit(1)).as("unique_chunks"),
      sum(col("size")).as("unique_size"))
    // backup-1 containers: cumulative-size packing of its unique chunks
    // in first-writer stream order
    val u1c = DedupPipeline.streamPrefix(
        perSha.filter(col("fb") === 1)
          .select(col("sha"), col("fdoc"), col("fidx"), col("size"),
            col("n2"), lit("1").as("s")),
        "s", Seq("fdoc", "fidx"), "size", "pre")
      .withColumn("cid",
        floor((col("pre") + col("size") - 1) / payload).cast("long"))
      .select(col("size"), col("n2"), col("cid"))
    // ONE container-keyed aggregation + ONE scalar aggregate (r6): per
    // container — total bytes, backup-2-referenced bytes/instances, ref
    // presence — then every one-shot-HAR quantity (sparse set, rewrite
    // sums, sparse/inherited/prefetch counts) reads off the per-container
    // row. Replaces five aggregations + three joins (cbytes, util,
    // sparse, rw, rwAgg, extras) over the same rows; identical integer
    // values, sparse rule unchanged (referenced bytes < 0.5 of actual).
    val perCid = u1c.groupBy(col("cid")).agg(
        sum(col("size")).as("cb"),
        coalesce(sum(when(col("n2") > 0, col("size"))), lit(0L)).as("refb"),
        coalesce(sum(when(col("n2") > 0, col("n2"))), lit(0L)).as("rwChunks"),
        coalesce(sum(when(col("n2") > 0, col("n2") * col("size"))), lit(0L))
          .as("rwSize"),
        coalesce(sum(when(col("n2") > 0, 1L)), lit(0L)).as("nref"))
      .withColumn("sparse", col("refb") < lit(0.5) * col("cb"))
    val scalars = perCid.agg(
        coalesce(sum(when(col("sparse"), col("rwChunks"))), lit(0L))
          .as("rewritten_chunks"),
        coalesce(sum(when(col("sparse"), col("rwSize"))), lit(0L))
          .as("rewritten_size"),
        coalesce(sum(when(col("sparse"), 1L)), lit(0L))
          .as("sparse_containers"),
        coalesce(sum(when(col("sparse") && col("nref") > 0, 1L)), lit(0L))
          .as("inherited_sparse"),
        coalesce(sum(when(!col("sparse") && col("nref") > 0, 1L)), lit(0L))
          .as("prefetch_units"))
      .withColumn("b", lit(2L))
    // the 2-row per-backup aggregate is MATERIALIZED once (localCheckpoint)
    // before the cumulative step so the whole upstream replay never runs
    // twice
    val base = core0
      .join(uniq, Seq("b"))
      .join(scalars, Seq("b"), "left")
      .na.fill(0L, Seq("rewritten_chunks", "rewritten_size",
        "sparse_containers", "inherited_sparse", "prefetch_units"))
      .withColumn("stored_size", col("unique_size") + col("rewritten_size"))
      .localCheckpoint(true)
    // cumulative stored size WITHOUT an unpartitioned window (which would
    // WindowExec-funnel and litter warnings): b is {1,2} by construction,
    // so the running sum is stored_size plus backup 1's stored size when
    // b = 2 — one broadcast scalar crossJoin over the 2-row checkpoint,
    // no sort, no extra shuffle
    val s1agg = base.agg(
      sum(when(col("b") === 1, col("stored_size")).otherwise(0L)).as("ss1"))
    val out = base
      .crossJoin(broadcast(s1agg))
      .withColumn("stored_cum",
        when(col("b") === 1, col("stored_size"))
          .otherwise(col("stored_size") + col("ss1")))
      .drop("ss1")
      .withColumn("dedup_rate", round(
        (col("data_size") - col("unique_size") - col("rewritten_size"))
          / col("data_size"), 6))
      .withColumn("rewrite_rate",
        round(col("rewritten_size") / col("data_size"), 6))
      .withColumn("containers",
        ceil(col("stored_size") / payload).cast("long"))
      .withColumn("lookup_requests", col("chunks"))
      .withColumn("update_requests",
        col("unique_chunks") + col("rewritten_chunks"))
      .select(col("b").as("backup_id"), col("files"), col("chunks"),
        col("data_size"), col("zero_chunks"), col("unique_chunks"),
        col("unique_size"), col("rewritten_chunks"), col("rewritten_size"),
        col("stored_size"), col("stored_cum"), col("dedup_rate"),
        col("rewrite_rate"), col("containers"), col("sparse_containers"),
        col("inherited_sparse"), col("prefetch_units"),
        col("lookup_requests"), col("update_requests"))
      .localCheckpoint(true)
    perSha.unpersist(); chunks.unpersist()
    out
  }

  /** Versioned recipe for GC demos: version = l_linestatus, fp and
    * container functionally dependent on the part key.
    */
  private def versionedRecipe(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
    li.select(
      when(pmod(col("l_orderkey"), lit(20)) === 0, "F").otherwise("O").as("version"),
      md5((col("l_partkey") * 13 + col("l_suppkey")).cast("string")).as("fp"),
      pmod(col("l_partkey"), lit(50)).cast("long").as("containerId"),
      pmod(col("l_partkey") * 13 + col("l_suppkey"), lit(97)).cast("int").as("size"))
  }

  private val versionedRecipeSql =
    """SELECT CASE WHEN l_orderkey % 20 = 0 THEN 'F' ELSE 'O' END AS version,
      |  md5(CAST(l_partkey * 13 + l_suppkey AS VARCHAR)) AS fp,
      |  CAST(l_partkey % 50 AS BIGINT) AS containerId,
      |  CAST((l_partkey * 13 + l_suppkey) % 97 AS INTEGER) AS size
      |FROM lineitem""".stripMargin

  /** J6 GC liveness: chunks only referenced by the deleted version. */
  def gDeadChunks(spark: SparkSession, dir: String): DataFrame =
    GC.deadChunks(versionedRecipe(spark, dir), "F")

  /** Container compaction plan after deleting version F. */
  def gCompactionPlan(spark: SparkSession, dir: String): DataFrame =
    GC.compactionPlan(versionedRecipe(spark, dir), "F")

  /** EXECUTED compaction after deleting version F: survivors of every
    * container holding dead chunks migrate into fresh densely-packed
    * containers (payload 4096 so the packing actually wraps at sf0.01);
    * output is the per-new-container migration summary, DuckDB-replayed
    * with the q_cum_packing cumulative-packing pattern. Idempotence
    * (re-running on the rewritten recipe is a no-op) is gated in
    * ExtrasSpec.
    */
  def gCompactExec(spark: SparkSession, dir: String): DataFrame = {
    val c = GC.compactExec(versionedRecipe(spark, dir), "F", payload = 4096)
    c.migration.groupBy(col("new_cid"))
      .agg(count(lit(1)).as("migrated_chunks"),
        sum(col("size")).as("migrated_bytes"))
  }

  /** Multi-copy CHAINED recipe fixture for the chain-expiry demos: three
    * backups v1..v3 share one container pool. Every version references
    * the base copy of a chunk (key % 50) EXCEPT where a later backup's
    * rewrite pass stored a fresh copy: v2 re-homed its key%5==0 slice
    * into containers 60-79, v3 its key%7==0 slice into 90-114 — exactly
    * the multi-copy shape CAP/CBR/HAR rewriting produces in a real chain
    * (the recipe points at the rewritten copy, superseding the base one).
    */
  private def chainedRecipe(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
    val key = col("l_partkey") * 13 + col("l_suppkey")
    val v = pmod(col("l_orderkey"), lit(3)) + 1
    li.select(
      concat(lit("v"), v.cast("string")).as("version"),
      md5(key.cast("string")).as("fp"),
      when(v === 2 && pmod(key, lit(5)) === 0, lit(60) + pmod(key, lit(20)))
        .when(v === 3 && pmod(key, lit(7)) === 0, lit(90) + pmod(key, lit(25)))
        .otherwise(pmod(key, lit(50)))
        .cast("long").as("containerId"),
      (pmod(key, lit(97)) + 1).cast("int").as("size"))
  }

  private val chainedRecipeSql =
    """SELECT 'v' || CAST(l_orderkey % 3 + 1 AS VARCHAR) AS version,
      |  md5(CAST(l_partkey * 13 + l_suppkey AS VARCHAR)) AS fp,
      |  CAST(CASE
      |    WHEN l_orderkey % 3 + 1 = 2 AND (l_partkey * 13 + l_suppkey) % 5 = 0
      |      THEN 60 + (l_partkey * 13 + l_suppkey) % 20
      |    WHEN l_orderkey % 3 + 1 = 3 AND (l_partkey * 13 + l_suppkey) % 7 = 0
      |      THEN 90 + (l_partkey * 13 + l_suppkey) % 25
      |    ELSE (l_partkey * 13 + l_suppkey) % 50 END AS BIGINT) AS containerId,
      |  CAST((l_partkey * 13 + l_suppkey) % 97 + 1 AS INTEGER) AS size
      |FROM lineitem""".stripMargin

  /** Shared oracle prefix for the chain-expiry replays (expire v1 of the
    * chained fixture): copy-level liveness, dead-copy set, survivor
    * selection and the packing base — `g_chain_expire` and
    * `g_chain_recipes` both build on exactly these CTEs, so a liveness
    * or packing tweak can never be applied to one replay and not the
    * other.
    */
  private val chainExpiryCtesSql =
    s"""WITH r AS ($chainedRecipeSql),
      |copies AS (SELECT fp, containerId, min(size) AS size
      |           FROM r GROUP BY 1, 2),
      |live AS (SELECT DISTINCT fp, containerId FROM r WHERE version <> 'v1'),
      |dead AS (SELECT c.fp, c.containerId FROM copies c
      |         WHERE NOT EXISTS (SELECT 1 FROM live l
      |           WHERE l.fp = c.fp AND l.containerId = c.containerId)),
      |affected AS (SELECT DISTINCT containerId FROM dead),
      |surv AS (SELECT c.fp, c.containerId, c.size FROM copies c
      |         JOIN affected a USING (containerId)
      |         JOIN live l ON l.fp = c.fp AND l.containerId = c.containerId),
      |base AS (SELECT max(containerId) + 1 AS b FROM r)""".stripMargin

  /** EXECUTED chain retention ([[GC.expireChain]]): expire backup v1 of
    * the three-backup chained fixture and compact the shared store.
    * Liveness is per physical COPY (fp, containerId) — v2/v3's rewritten
    * copies keep their own containers alive but NOT the base copies they
    * superseded. Output: per-new-container migration summary of the live
    * copies rescued out of compacted containers (payload 4096 so the
    * re-pack wraps at sf0.01); the oracle replays the dead-copy set,
    * survivor selection, and the cumulative re-pack.
    */
  def gChainExpire(spark: SparkSession, dir: String): DataFrame = {
    val c = GC.expireChain(chainedRecipe(spark, dir), "v1", payload = 4096)
    c.migration.groupBy(col("new_cid"))
      .agg(count(lit(1)).as("migrated_chunks"),
        sum(col("size")).as("migrated_bytes"))
  }

  /** The surviving chain AFTER the v1 expiry: per-version recipe
    * footprint over the post-compaction layout (rows, distinct
    * containers, container-id checksum, bytes) — proves the (fp, oldCid)
    * → newCid recipe rewrite itself, not just the migration work list.
    * Idempotence and the inherited latest-wins index are gated in
    * ExtrasSpec.
    */
  def gChainRecipes(spark: SparkSession, dir: String): DataFrame = {
    val c = GC.expireChain(chainedRecipe(spark, dir), "v1", payload = 4096)
    c.recipes.groupBy(col("version"))
      .agg(count(lit(1)).as("recipe_rows"),
        countDistinct(col("containerId")).as("containers"),
        sum(col("containerId")).as("cid_sum"),
        sum(col("size")).cast("long").as("bytes"))
  }

  /** J5 restore reconstruction over the documents corpus: every file
    * rebuilt from deduplicated first-writer chunk slices must reproduce
    * its sha256 (rows-only; the per-row invariant check).
    */
  def dRestoreVerify(spark: SparkSession, dir: String): DataFrame = {
    val files = docsAsCorpus(spark, dir, nonEmpty = false)
    Restore.verifyRestore(files, Fixed256)
  }

  /** The DRIVER-ORACLED restore twin (J5/S10): per-document MD5 of the
    * bytes REASSEMBLED through the full dedup machinery (chunk →
    * first-writer dedup → recipe ⋈ owner-slice join → external-sorter
    * streaming digest) — DuckDB recomputes `md5(text)` straight off the
    * parquet, so any lossy step anywhere in the chunk/dedup/restore chain
    * hash-fails the driver row instead of only a self-check flag.
    * Empty docs are excluded (zero-chunk files never reach the chunk
    * writer) — their restore path is covered by materialize's spec.
    */
  def dRestoreMd5(spark: SparkSession, dir: String): DataFrame = {
    val files = docsAsCorpus(spark, dir)
    val features = DedupPipeline.featurize(files, Fixed256).toDF()
    Restore.restoreDigests(features, files, "MD5")
      .join(features.select(col("fileId"), col("path")), Seq("fileId"))
      .select(expr("CAST(substring(path, 5) AS BIGINT)").as("doc_id"),
        col("restoredSha").as("restored_md5"))
  }

  /** FILE-LEVEL chunking (P8, reference src/chunk_phase.c:161-171)
    * driven end-to-end with driver values: the documents corpus chunked
    * by the reference's file-level chunker (fixed cuts at the container
    * payload capacity 4 MiB − 32 KiB, so virtually every doc is ONE
    * whole-file chunk), deduped, and restored through the same
    * recipe⋈owner-slice machinery as [[dRestoreMd5]]. Emits per doc the
    * chunk COUNT and byte SUM straight off the chunk table — the oracle
    * restates the chunker's geometry closed-form (ceil-div by the payload
    * capacity + octet_length) — plus the restored-bytes md5 (oracle:
    * md5(text)), value-certifying the file chunker's boundary geometry
    * AND its byte extraction, not just a roundtrip flag.
    */
  def dFileRestoreMd5(spark: SparkSession, dir: String): DataFrame = {
    val files = docsAsCorpus(spark, dir)
    val cfg = DedupConfig(chunker = graft.chunking.ChunkerConfig("file"))
    val features = DedupPipeline.featurize(files, cfg).toDF()
    val geom = DedupPipeline.chunkTableDF(features)
      .groupBy(col("fileId"))
      .agg(count(lit(1)).as("n_chunks"), sum(col("size")).as("bytes"))
    Restore.restoreDigests(features, files, "MD5")
      .join(geom, Seq("fileId"))
      .join(features.select(col("fileId"), col("path")), Seq("fileId"))
      .select(expr("CAST(substring(path, 5) AS BIGINT)").as("doc_id"),
        col("n_chunks"), col("bytes"), col("restoredSha").as("restored_md5"))
  }

  /** The RECIPE/CONTAINER SINK contract (S5/S6) driven with driver
    * values: one REAL `ClusterJob.backup` over the documents corpus
    * (fixed-256 chunks, rewrite off, HAR off — the minimal store) writes
    * its checkpointed stage tables to a scratch root; the query then
    * reads the COMMITTED `final_recipe` parquet back OFF DISK (the sink
    * itself, not the in-memory job result) and reports per container the
    * written-chunk count/bytes plus the duplicate references resolved to
    * it. The oracle replays the whole store in SQL — fixed-256 chunk
    * geometry, first-writer dedup in stream order (ORDER BY path string,
    * chunkIdx = the engine's seq), straddling cumulative packing
    * (cid = (cum−1) div payload) and dup→first-copy container pointers —
    * value-certifying WHAT the sink persisted, not just that it wrote.
    */
  def dBackupSink(spark: SparkSession, dir: String): DataFrame = {
    val files = docsAsCorpus(spark, dir, byteSafe = true)
    val settings = pipeline.DestorSettings(
      chunker = Fixed256.chunker)
    val tmp = java.nio.file.Files.createTempDirectory("graft_sink")
    try {
      val root = tmp.resolve("b1").toString
      ClusterJob.backup(files, root, "sinkrun", settings, None,
        payload = 16384L)
      spark.read.parquet(s"$root/final_recipe")
        .groupBy(col("containerId").as("container_id"))
        .agg(sum(when(col("write"), 1L).otherwise(0L)).as("written_chunks"),
          sum(when(col("write"), col("size").cast("long")).otherwise(0L))
            .as("written_bytes"),
          sum(when(!col("write"), 1L).otherwise(0L)).as("dup_refs"))
        .localCheckpoint(true)
    } finally deleteRecursively(tmp)
  }

  /** The STAT SINK contract (S9, reference backup.log/destor.stat —
    * src/do_backup.c:155-186): the same minimal on-disk backup as
    * [[dBackupSink]], but the query reads back the METRICS table the job
    * appended ([[TableIO.appendMetrics]]) and emits the backup.log
    * line's (metric, value) rows. The oracle recomputes every value
    * closed-form — chunk/byte totals off fixed-256 geometry, unique
    * counts off distinct chunk content, containers_written off the
    * straddling-packing closed form ((unique_size − 1) div payload + 1) —
    * so the persisted run log is value-checked, not just row-counted.
    * All values are integral with rewrite/HAR/simulation off (the
    * float-valued speed_factor/cfl rows are exactly 0.0), so both sides
    * emit BIGINT.
    */
  def dBackupMetrics(spark: SparkSession, dir: String): DataFrame = {
    val files = docsAsCorpus(spark, dir, byteSafe = true)
    val settings = pipeline.DestorSettings(
      chunker = Fixed256.chunker)
    val tmp = java.nio.file.Files.createTempDirectory("graft_statsink")
    try {
      val root = tmp.resolve("b1").toString
      ClusterJob.backup(files, root, "statrun", settings, None,
        payload = 16384L)
      spark.read.parquet(s"$root/metrics")
        .filter(col("stage") === "backup")
        .select(col("metric"), col("value").cast("long").as("value"))
        .localCheckpoint(true)
    } finally deleteRecursively(tmp)
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("d_fixed_chunks", dFixedChunks, Some(
      """WITH d AS (SELECT doc_id, text, length(text) AS len FROM documents WHERE length(text) > 0)
        |SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
        |  CAST(i * 256 AS BIGINT) AS chunk_offset,
        |  CAST(least(256, len - i * 256) AS BIGINT) AS chunk_size,
        |  sha256(substr(text, CAST(i * 256 + 1 AS INTEGER), 256)) AS chunk_sha
        |FROM (SELECT doc_id, text, len,
        |        unnest(generate_series(0, CAST(ceil(len / 256.0) AS BIGINT) - 1)) AS i
        |      FROM d)""".stripMargin)),
    // distinct SHA-1 fps ≡ distinct chunk contents (collision-free in any
    // test corpus); boundaries arithmetic like d_fixed_chunks
    QueryDef("d_chunk_stats", dChunkStats, Some(
      """WITH d AS (SELECT doc_id, text, length(text) AS len FROM documents WHERE length(text) > 0),
        |chunks AS (
        |  SELECT substr(text, CAST(i * 256 + 1 AS INTEGER), 256) AS content,
        |    CAST(least(256, len - i * 256) AS BIGINT) AS size
        |  FROM (SELECT doc_id, text, len,
        |          unnest(generate_series(0, CAST(ceil(len / 256.0) AS BIGINT) - 1)) AS i
        |        FROM d))
        |SELECT count(*) AS total_chunks,
        |  count(DISTINCT content) AS unique_chunks,
        |  CAST(sum(size) AS BIGINT) AS total_bytes,
        |  CAST(sum(CASE WHEN content = repeat(chr(0), CAST(size AS INTEGER)) THEN 1 ELSE 0 END) AS BIGINT) AS zero_chunks
        |FROM chunks""".stripMargin)),
    QueryDef("d_backup_stats", dBackupStats, Some(
      """WITH d AS (
        |  SELECT doc_id, doc_id % 2 + 1 AS b, text, length(text) AS len
        |  FROM documents WHERE length(text) > 0),
        |chunks AS (
        |  SELECT doc_id, CAST(b AS BIGINT) AS b, CAST(i AS BIGINT) AS idx,
        |    CAST(least(256, len - i * 256) AS BIGINT) AS size,
        |    substr(text, CAST(i * 256 + 1 AS INTEGER), 256)
        |      = repeat(chr(0), CAST(least(256, len - i * 256) AS INTEGER)) AS zero,
        |    sha256(substr(text, CAST(i * 256 + 1 AS INTEGER), 256)) AS sha
        |  FROM (SELECT doc_id, b, text, len,
        |          unnest(generate_series(0, CAST(ceil(len / 256.0) AS BIGINT) - 1)) AS i
        |        FROM d)),
        |inst AS (
        |  SELECT *, row_number() OVER (PARTITION BY sha ORDER BY b, doc_id, idx) = 1 AS is_first
        |  FROM chunks),
        |u1 AS (
        |  SELECT sha, size,
        |    CAST(floor((sum(size) OVER (ORDER BY doc_id, idx
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1) / 16384.0) AS BIGINT) AS cid
        |  FROM inst WHERE b = 1 AND is_first),
        |cbytes AS (SELECT cid, CAST(sum(size) AS BIGINT) AS cb FROM u1 GROUP BY 1),
        |b2ref AS (
        |  SELECT i.sha, i.size, u1.cid
        |  FROM inst i JOIN u1 ON i.sha = u1.sha
        |  WHERE i.b = 2 AND NOT i.is_first),
        |util AS (
        |  SELECT u1.cid, CAST(sum(u1.size) AS BIGINT) AS refb
        |  FROM u1 WHERE u1.sha IN (SELECT DISTINCT sha FROM b2ref) GROUP BY 1),
        |sparse AS (
        |  SELECT c.cid FROM cbytes c LEFT JOIN util USING (cid)
        |  WHERE coalesce(refb, 0) < 0.5 * cb),
        |rw AS (SELECT * FROM b2ref WHERE cid IN (SELECT cid FROM sparse)),
        |core AS (
        |  SELECT b, count(DISTINCT doc_id) AS files, count(*) AS chunks,
        |    CAST(sum(size) AS BIGINT) AS data_size,
        |    CAST(sum(CASE WHEN zero THEN 1 ELSE 0 END) AS BIGINT) AS zero_chunks,
        |    CAST(sum(CASE WHEN is_first THEN 1 ELSE 0 END) AS BIGINT) AS unique_chunks,
        |    CAST(sum(CASE WHEN is_first THEN size ELSE 0 END) AS BIGINT) AS unique_size
        |  FROM inst GROUP BY 1),
        |rwagg AS (
        |  SELECT CAST(2 AS BIGINT) AS b, count(*) AS rewritten_chunks,
        |    CAST(coalesce(sum(size), 0) AS BIGINT) AS rewritten_size
        |  FROM rw),
        |extras AS (
        |  SELECT CAST(2 AS BIGINT) AS b,
        |    (SELECT count(*) FROM sparse) AS sparse_containers,
        |    (SELECT count(DISTINCT cid) FROM rw) AS inherited_sparse,
        |    (SELECT count(DISTINCT cid) FROM b2ref
        |     WHERE cid NOT IN (SELECT cid FROM sparse)) AS prefetch_units),
        |j AS (
        |  SELECT core.b, files, chunks, data_size, zero_chunks, unique_chunks,
        |    unique_size,
        |    coalesce(rewritten_chunks, 0) AS rewritten_chunks,
        |    coalesce(rewritten_size, 0) AS rewritten_size,
        |    coalesce(sparse_containers, 0) AS sparse_containers,
        |    coalesce(inherited_sparse, 0) AS inherited_sparse,
        |    coalesce(prefetch_units, 0) AS prefetch_units
        |  FROM core LEFT JOIN rwagg USING (b) LEFT JOIN extras USING (b)),
        |f AS (SELECT *, unique_size + rewritten_size AS stored_size FROM j)
        |SELECT b AS backup_id, files, chunks, data_size, zero_chunks,
        |  unique_chunks, unique_size, rewritten_chunks, rewritten_size,
        |  stored_size,
        |  CAST(sum(stored_size) OVER (ORDER BY b
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS stored_cum,
        |  round((data_size - unique_size - rewritten_size) / CAST(data_size AS DOUBLE), 6) AS dedup_rate,
        |  round(rewritten_size / CAST(data_size AS DOUBLE), 6) AS rewrite_rate,
        |  CAST(ceil(stored_size / 16384.0) AS BIGINT) AS containers,
        |  sparse_containers, inherited_sparse, prefetch_units,
        |  chunks AS lookup_requests,
        |  unique_chunks + rewritten_chunks AS update_requests
        |FROM f""".stripMargin)),
    QueryDef("g_dead_chunks", gDeadChunks, Some(
      s"""WITH r AS ($versionedRecipeSql)
        |SELECT DISTINCT fp, containerId, size FROM r x
        |WHERE version = 'F'
        |  AND NOT EXISTS (SELECT 1 FROM r y WHERE y.version <> 'F' AND y.fp = x.fp)""".stripMargin)),
    QueryDef("g_compaction_plan", gCompactionPlan, Some(
      s"""WITH r AS ($versionedRecipeSql),
        |dead AS (SELECT DISTINCT fp FROM r x WHERE version = 'F'
        |  AND NOT EXISTS (SELECT 1 FROM r y WHERE y.version <> 'F' AND y.fp = x.fp)),
        |chunks AS (SELECT DISTINCT fp, containerId, size FROM r),
        |agg AS (
        |  SELECT c.containerId,
        |    CAST(sum(CASE WHEN d.fp IS NULL THEN c.size ELSE 0 END) AS BIGINT) AS surviving_bytes,
        |    CAST(sum(CASE WHEN d.fp IS NOT NULL THEN c.size ELSE 0 END) AS BIGINT) AS dead_bytes,
        |    CAST(sum(CASE WHEN d.fp IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS dead_chunks
        |  FROM chunks c LEFT JOIN dead d ON c.fp = d.fp
        |  GROUP BY 1)
        |SELECT * FROM agg WHERE dead_chunks > 0""".stripMargin)),
    // executed compaction replayed stage by stage: dead set, canonical
    // store (fp -> min container), survivors of affected containers,
    // cumulative-size re-pack in (cid, fp) order (the q_cum_packing
    // window pattern; greatest(cum-1,0) clamps zero-size chunks at pos 0)
    QueryDef("g_compact_exec", gCompactExec, Some(
      s"""WITH r AS ($versionedRecipeSql),
        |dead AS (SELECT DISTINCT fp FROM r x WHERE version = 'F'
        |  AND NOT EXISTS (SELECT 1 FROM r y WHERE y.version <> 'F' AND y.fp = x.fp)),
        |store AS (SELECT fp, min(containerId) AS cid, min(size) AS size
        |          FROM r GROUP BY 1),
        |affected AS (SELECT DISTINCT cid FROM store JOIN dead USING (fp)),
        |surv AS (SELECT s.fp, s.cid, s.size FROM store s
        |         JOIN affected a USING (cid)
        |         WHERE s.fp NOT IN (SELECT fp FROM dead)),
        |base AS (SELECT max(containerId) + 1 AS b FROM r),
        |packed AS (
        |  SELECT fp, size,
        |    CAST(b + floor(greatest(cum - 1, 0) / 4096.0) AS BIGINT) AS new_cid
        |  FROM (SELECT fp, size,
        |          sum(size) OVER (ORDER BY cid, fp
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |        FROM surv), base)
        |SELECT new_cid, count(*) AS migrated_chunks,
        |  CAST(sum(size) AS BIGINT) AS migrated_bytes
        |FROM packed GROUP BY 1""".stripMargin)),
    // chain expiry replayed stage by stage at COPY granularity: one row
    // per (fp, containerId) with min(size), live = copies still
    // referenced by v2/v3, dead = anti-join at (fp, cid) — NOT fp —
    // survivors of affected containers re-packed cumulatively in
    // (cid, fp) order (the q_cum_packing pattern)
    QueryDef("g_chain_expire", gChainExpire, Some(
      s"""$chainExpiryCtesSql,
        |packed AS (
        |  SELECT fp, size,
        |    CAST(b + floor(greatest(cum - 1, 0) / 4096.0) AS BIGINT) AS new_cid
        |  FROM (SELECT fp, size,
        |          sum(size) OVER (ORDER BY containerId, fp
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |        FROM surv), base)
        |SELECT new_cid, count(*) AS migrated_chunks,
        |  CAST(sum(size) AS BIGINT) AS migrated_bytes
        |FROM packed GROUP BY 1""".stripMargin)),
    // same replay carried one stage further: survivors' (fp, oldCid) ->
    // newCid applied to the surviving recipes via left join + coalesce,
    // then the per-version footprint
    QueryDef("g_chain_recipes", gChainRecipes, Some(
      s"""$chainExpiryCtesSql,
        |mig AS (
        |  SELECT fp, containerId,
        |    CAST(b + floor(greatest(cum - 1, 0) / 4096.0) AS BIGINT) AS new_cid
        |  FROM (SELECT fp, containerId, size,
        |          sum(size) OVER (ORDER BY containerId, fp
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |        FROM surv), base),
        |rew AS (
        |  SELECT r.version, r.fp,
        |    coalesce(m.new_cid, r.containerId) AS containerId, r.size
        |  FROM r LEFT JOIN mig m
        |    ON m.fp = r.fp AND m.containerId = r.containerId
        |  WHERE r.version <> 'v1')
        |SELECT version, count(*) AS recipe_rows,
        |  count(DISTINCT containerId) AS containers,
        |  CAST(sum(containerId) AS BIGINT) AS cid_sum,
        |  CAST(sum(size) AS BIGINT) AS bytes
        |FROM rew GROUP BY 1""".stripMargin)),
    QueryDef("d_restore_verify", dRestoreVerify, None),
    // restore twin: the engine reassembles through chunk→dedup→recipe⋈
    // owner-slice→streaming digest; DuckDB states the lossless-roundtrip
    // truth directly off the parquet text
    QueryDef("d_restore_md5", dRestoreMd5, Some(
      """SELECT doc_id, md5(text) AS restored_md5
        |FROM documents WHERE length(text) > 0""".stripMargin)),
    // file-level chunker twin: geometry closed-form (payload capacity
    // 4 MiB − 32 KiB = 4161536 B), bytes + md5 straight off the text
    QueryDef("d_file_restore_md5", dFileRestoreMd5, Some(
      """SELECT doc_id,
        |  CAST((octet_length(encode(text)) + 4161535) // 4161536 AS BIGINT)
        |    AS n_chunks,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS bytes,
        |  md5(text) AS restored_md5
        |FROM documents WHERE length(text) > 0""".stripMargin)),
    // sink roundtrip: full store replay (fixed-256 chunks, first-writer
    // dedup in (path, chunkIdx) stream order, straddling cumulative
    // packing at payload 16384, dup→first-copy pointers) — compared
    // against the final_recipe parquet READ BACK OFF DISK
    QueryDef("d_backup_sink", dBackupSink, Some(
      """WITH d AS (
        |  SELECT source || '@doc/' || doc_id || '@0' AS path,
        |    text, length(text) AS len
        |  FROM documents WHERE length(text) > 0
        |    AND octet_length(encode(text)) = length(text)),
        |chunks AS (
        |  SELECT path, CAST(i AS BIGINT) AS idx,
        |    CAST(least(256, len - i * 256) AS BIGINT) AS size,
        |    sha256(substr(text, CAST(i * 256 + 1 AS INTEGER), 256)) AS sha
        |  FROM (SELECT path, text, len,
        |          unnest(generate_series(0,
        |            CAST(ceil(len / 256.0) AS BIGINT) - 1)) AS i
        |        FROM d)),
        |seqd AS (
        |  SELECT *, row_number() OVER (ORDER BY path, idx) AS seq
        |  FROM chunks),
        |firsts AS (SELECT sha, min(seq) AS first_seq FROM seqd GROUP BY 1),
        |m AS (
        |  SELECT s.*, s.seq > f.first_seq AS dup
        |  FROM seqd s JOIN firsts f USING (sha)),
        |packed AS (
        |  SELECT seq, sha,
        |    CAST((sum(size) OVER (ORDER BY seq
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1)
        |      // 16384 AS BIGINT) AS cid
        |  FROM m WHERE NOT dup),
        |fc AS (SELECT sha, min(cid) AS first_cid FROM packed GROUP BY 1),
        |rec AS (
        |  SELECT m.seq, m.size, NOT m.dup AS write,
        |    COALESCE(p.cid, fc.first_cid) AS container_id
        |  FROM m LEFT JOIN packed p USING (seq)
        |    LEFT JOIN fc ON m.sha = fc.sha)
        |SELECT container_id,
        |  CAST(sum(CASE WHEN write THEN 1 ELSE 0 END) AS BIGINT)
        |    AS written_chunks,
        |  CAST(sum(CASE WHEN write THEN size ELSE 0 END) AS BIGINT)
        |    AS written_bytes,
        |  CAST(sum(CASE WHEN write THEN 0 ELSE 1 END) AS BIGINT)
        |    AS dup_refs
        |FROM rec GROUP BY 1""".stripMargin)),
    // stat-sink roundtrip: the backup.log metrics block recomputed
    // closed-form (fixed-256 geometry; containers_written =
    // (unique_size − 1) div 16384 + 1 by the straddling packing)
    QueryDef("d_backup_metrics", dBackupMetrics, Some(
      """WITH d AS (
        |  SELECT 'doc/' || doc_id AS path, text, length(text) AS len
        |  FROM documents WHERE length(text) > 0
        |    AND octet_length(encode(text)) = length(text)),
        |chunks AS (
        |  SELECT path,
        |    CAST(least(256, len - i * 256) AS BIGINT) AS size,
        |    sha256(substr(text, CAST(i * 256 + 1 AS INTEGER), 256)) AS sha
        |  FROM (SELECT path, text, len,
        |          unnest(generate_series(0,
        |            CAST(ceil(len / 256.0) AS BIGINT) - 1)) AS i
        |        FROM d)),
        |agg AS (
        |  SELECT CAST(count(DISTINCT path) AS BIGINT) AS files,
        |    CAST(count(*) AS BIGINT) AS chunks,
        |    CAST(sum(size) AS BIGINT) AS data_size
        |  FROM chunks),
        |uq AS (
        |  SELECT CAST(count(*) AS BIGINT) AS unique_chunks,
        |    CAST(sum(size) AS BIGINT) AS unique_size
        |  FROM (SELECT sha, min(size) AS size FROM chunks GROUP BY 1))
        |SELECT metric, value FROM (
        |  SELECT 'backup_id' AS metric, CAST(1 AS BIGINT) AS value
        |  UNION ALL SELECT 'files', files FROM agg
        |  UNION ALL SELECT 'chunks', chunks FROM agg
        |  UNION ALL SELECT 'data_size', data_size FROM agg
        |  UNION ALL SELECT 'unique_chunks', unique_chunks FROM uq
        |  UNION ALL SELECT 'unique_size', unique_size FROM uq
        |  UNION ALL SELECT 'rewritten_chunks', 0
        |  UNION ALL SELECT 'rewritten_size', 0
        |  UNION ALL SELECT 'stored_size', unique_size FROM uq
        |  UNION ALL SELECT 'containers_written',
        |    (unique_size - 1) // 16384 + 1 FROM uq
        |  UNION ALL SELECT 'sparse_containers', 0
        |  UNION ALL SELECT 'container_reads', 0
        |  UNION ALL SELECT 'speed_factor', 0
        |  UNION ALL SELECT 'cfl', 0)""".stripMargin))
  )
}
