package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.pipeline._
import QuerySupport._

/** Trace-driven backup jobs: trace round trips, the config-driven trace
  * pipeline, the two-backup rewrite variants and the FSL trace source.
  */
object TraceQueries {

  /** S3 destor text-trace round trip: the documents chunk stream is
    * written as a reference-format `.trace` file and read back; output is
    * both sides' aggregate plus a strict set-equality flag (rows-only:
    * the trace carries SHA-1 fps, not SQL-recomputable).
    */
  def dTraceRoundtrip(spark: SparkSession, dir: String): DataFrame =
    chunkRoundtrip(spark, dir, "graft_trace")(
      (chunks, tmp) => graft.sources.TraceSource.write(
        chunks, tmp.resolve("docs.trace").toString),
      tmp => graft.sources.TraceSource.read(
        spark, tmp.resolve("docs.trace").toString).toDF())

  /** Round trip of the documents' fixed-256 chunk stream, as (path,
    * chunkIdx, fp, size) rows, through a trace format: `write` stores the
    * rows under a scratch directory and `read` loads them back with the
    * same columns. Output: the read-back aggregate plus a strict
    * set-equality flag.
    */
  private def chunkRoundtrip(spark: SparkSession, dir: String, prefix: String)(
      write: (DataFrame, java.nio.file.Path) => Unit,
      read: java.nio.file.Path => DataFrame): DataFrame = {
    val files = docsAsCorpus(spark, dir, nonEmpty = false)
    val chunks = DedupPipeline.chunkTableDF(DedupPipeline.featurize(files, Fixed256).toDF())
      .select(concat_ws("@", col("repo"), col("path")).as("path"),
        col("chunkIdx"), col("fp"), col("size"))
      .persist()
    val tmp = java.nio.file.Files.createTempDirectory(prefix)
    try {
      write(chunks, tmp)
      val back = read(tmp).persist()
      val ok = chunks.except(back).isEmpty && back.except(chunks).isEmpty
      val out = back.agg(
        countDistinct(col("path")).as("files"),
        count(lit(1)).as("chunks"),
        sum(col("size")).cast("long").as("bytes"),
        countDistinct(col("fp")).as("unique_fps"))
        .withColumn("roundtrip_ok", lit(ok))
        .localCheckpoint(true)
      chunks.unpersist(); back.unpersist()
      out
    } finally deleteRecursively(tmp)
  }

  /** The trace-driven pipeline end to end (reference `simulation-level
    * all`, src/destor.c:263-366 + src/trace_phase.c:146-207): a
    * lineitem-derived chunk stream is WRITTEN as THREE reference-format
    * `.trace` backups (fp = 40-hex from md5, so DuckDB recomputes it),
    * read back through [[graft.sources.TraceSource]], and replayed
    * through [[graft.pipeline.TracePipeline]] under
    * [[graft.pipeline.DestorConfig.ShippedDirectives]] (fastcdc/HAR/LRU-30;
    * only `simulation-level all` added the way the reference CLI would
    * with -p) — dedup against
    * the cumulative index, per-occurrence packing at payload 512, HAR
    * sparse rewriting, LRU-30 restore simulation. Three backups because
    * that is the first length at which HAR can fire at all: backup-1
    * containers are fully utilized by construction, so sparsity is first
    * OBSERVED during backup 2 and first REWRITTEN at backup 3 — exactly
    * the reference's cadence. The fp key mixes orderkey bits so each
    * backup covers a partial, overlapping slice of the chunk space (real
    * cross-backup dedup + genuinely sparse containers). FULLY
    * value-oracled: the trace fps are hex strings DuckDB derives from the
    * same lineitem columns, so the oracle replays every stage (packing
    * cumsum, HAR trim, index upsert, LRU stack distance).
    */
  def dTracePipeline(spark: SparkSession, dir: String): DataFrame = {
    val stream0 = traceFixture(spark, dir, backups = 3)
    val tmp = java.nio.file.Files.createTempDirectory("graft_trace_pipe")
    try {
      val jobs = Seq(1, 2, 3).map { b =>
        val f = tmp.resolve(s"backup$b.trace").toString
        graft.sources.TraceSource.write(
          stream0.filter(col("b") === b).drop("b"), f)
        graft.sources.TraceSource.read(spark, f).toDF()
      }
      val settings = pipeline.DestorConfig.parse(
        pipeline.DestorConfig.ShippedDirectives + "\nsimulation-level all\n")
      val out = settings.tracePipeline(jobs, payload = 512)
        .withColumn("speed_factor", round(col("speed_factor"), 6))
        .withColumn("cfl", round(col("cfl"), 6))
        .localCheckpoint(true)
      stream0.unpersist()
      out
    } finally deleteRecursively(tmp) // replay finished — drop the temp traces
  }

  /** The lineitem trace fixture of the trace-replay queries: backup
    * b = suppkey % `backups` + 1, one file per supplier, fp = 40-hex from
    * md5 of the chunk key and size = key % 97 + 1 (DuckDB recomputes
    * both; [[traceFixtureSql]] is its oracle). Returned persisted;
    * callers unpersist.
    */
  private def traceFixture(spark: SparkSession, dir: String, backups: Int): DataFrame = {
    val li = t(spark, dir, "lineitem")
    val key = col("l_partkey") * 8 + pmod(col("l_orderkey"), lit(8))
    val md5c = md5(key.cast("string"))
    DedupPipeline.streamPrefix(
        li.select(
          (pmod(col("l_suppkey"), lit(backups)) + 1).as("b"),
          concat(lit("s"), col("l_suppkey").cast("string")).as("path"),
          col("l_shipdate"), col("l_orderkey"), col("l_linenumber"),
          col("l_partkey"), lit(1L).as("one")),
        "path",
        Seq("l_shipdate", "l_orderkey", "l_linenumber", "l_partkey"),
        "one", "pre")
      .withColumn("chunkIdx", col("pre").cast("int"))
      .withColumn("fp", concat(md5c, substring(md5c, 1, 8)))
      .withColumn("size", (pmod(key, lit(97)) + 1).cast("int"))
      .select(col("b"), col("path"), col("chunkIdx"), col("fp"), col("size"))
      .persist()
  }

  /** Two-backup trace replay under a caller-supplied rewrite directive —
    * the [[dTracePipeline]] fixture (same fp/size derivation, DuckDB
    * recomputes both) split into TWO jobs (b = suppkey%2+1) and fed to
    * [[graft.pipeline.TracePipeline]] directly as DataFrames (the
    * trace-file round trip itself is d_trace_pipeline's job; these
    * variants exercise the REWRITE algorithms under trace replay). Two
    * backups suffice for cfl/cbr/cap: unlike HAR (which needs a
    * previous job's sparse list), the fragmentation detectors fire on
    * any job whose duplicates reference old containers — i.e. from
    * backup 2 on. Payload 512, LRU-30 restore, fully value-oracled.
    */
  private def dTraceVariant(spark: SparkSession, dir: String,
      rewriteDirectives: String): DataFrame = {
    val stream0 = traceFixture(spark, dir, backups = 2)
    val jobs = Seq(1, 2).map(b => stream0.filter(col("b") === b).drop("b"))
    val settings = pipeline.DestorConfig.parse(
      s"simulation-level all\n$rewriteDirectives\nrestore-cache lru 30\n")
    val out = settings.tracePipeline(jobs, payload = 512)
      .withColumn("speed_factor", round(col("speed_factor"), 6))
      .withColumn("cfl", round(col("cfl"), 6))
      .localCheckpoint(true)
    stream0.unpersist()
    out
  }

  /** The STREAMING chained-backup store on the two-backup trace fixture
    * ([[graft.streaming.StreamIngest.backupBatch]] — the foreachBatch
    * body of `backupStream`, replayed batch-mode on the fixture the way
    * `s_windowed_throughput` replays the windowing path): each backup is
    * one micro-batch chained through the persistent store roots
    * (committed fp index → next batch's dedup base, continued container
    * ids, LRU-30 restore sim per job). Same per-chunk semantics as
    * [[dTracePipeline]]'s in-memory replay — BackupStreamSpec proves the
    * two stats-identical — so the oracle replays both backups fully
    * (no-rewrite write predicate: written ⇔ first occurrence).
    */
  def sBackupChain(spark: SparkSession, dir: String): DataFrame = {
    val stream0 = traceFixture(spark, dir, backups = 2)
    val settings = pipeline.DestorConfig.parse(
      "rewrite-algorithm no\nrestore-cache lru 30\nsimulation-level all\n")
    val tmp = java.nio.file.Files.createTempDirectory("graft_bkchain")
    try {
      val stats = Seq(1, 2).map { b =>
        graft.streaming.StreamIngest.backupBatch(
          stream0.filter(col("b") === b).drop("b"), b - 1L, tmp.toString,
          settings, payload = 512L)
      }
      import spark.implicits._
      val out = spark.createDataset(stats).toDF()
        .withColumn("speed_factor", round(col("speed_factor"), 6))
        .withColumn("cfl", round(col("cfl"), 6))
        .localCheckpoint(true)
      stream0.unpersist()
      out
    } finally deleteRecursively(tmp)
  }

  /** Trace replay under `rewrite-algorithm cfl` (W2 selective dedup,
    * reference src/cfl_rewrite.c): runs of consecutive same-container
    * duplicates below 3% of the payload are rewritten whole.
    */
  def dTraceCfl(spark: SparkSession, dir: String): DataFrame =
    dTraceVariant(spark, dir,
      "rewrite-algorithm \"cfl-based selective deduplication\" 64\n" +
        "rewrite-cfl-usage-threshold 0.03")

  /** Trace replay under `rewrite-algorithm cbr 64` (W3 context-based
    * rewriting, reference src/cbr_rewrite.c): rewrite utility from the
    * 64-chunk forward context, global discrete quantile threshold,
    * marked-not-fragmented neighbor suppression, final-buffer flush.
    */
  def dTraceCbr(spark: SparkSession, dir: String): DataFrame =
    dTraceVariant(spark, dir,
      "rewrite-algorithm \"context-based rewriting\" 64\n" +
        "rewrite-cbr-limit 0.05\nrewrite-cbr-minimal-utility 0.5")

  /** Trace replay under `rewrite-algorithm capping 64` (W4 capping,
    * reference src/cap_rewrite.c): per 64-chunk buffer, duplicates of
    * containers ranked below the top 3 by referenced bytes are
    * rewritten.
    */
  def dTraceCap(spark: SparkSession, dir: String): DataFrame =
    dTraceVariant(spark, dir,
      "rewrite-algorithm capping 64\nrewrite-capping-level 3")

  /** S4 FSL hashfile round trip: the documents chunk stream is written as
    * a v7 VARIABLE/SHA-1 hashfile (the binary SNIA/FSL trace format the
    * reference replays via libhashfile) and read back; output is the
    * read-back aggregate plus a strict set-equality flag (rows-only: the
    * hashfile carries SHA-1 fps, not SQL-recomputable). Byte-level parity
    * with the reference's own writer is gated in FslSourceSpec against a
    * fixture generated by compiled reference C (scripts/fsl_fixture.md).
    */
  def dFslRoundtrip(spark: SparkSession, dir: String): DataFrame =
    chunkRoundtrip(spark, dir, "graft_fsl")(
      (chunks, tmp) => graft.sources.FslSource.write(chunks,
        tmp.resolve("docs.hashfile").toString, rootPath = "/graft", sysid = "graft"),
      tmp => graft.sources.FslSource.read(spark, tmp.toString)
        .select(col("path"), col("chunkIdx").cast("int").as("chunkIdx"),
          col("fp"), col("size").cast("int").as("size")))

  /** The oracle of [[traceFixture]]: `WITH li AS (…), tr AS (…)` — the
    * lineitem chunk stream with its backup `b` and 1-based per-backup
    * `seq`.
    */
  private def traceFixtureSql(backups: Int): String =
    s"""WITH li AS (
       |  SELECT l_suppkey % $backups + 1 AS b,
       |    's' || CAST(l_suppkey AS VARCHAR) AS path,
       |    md5(CAST(l_partkey * 8 + l_orderkey % 8 AS VARCHAR)) AS h,
       |    CAST((l_partkey * 8 + l_orderkey % 8) % 97 + 1 AS BIGINT) AS size,
       |    l_shipdate, l_orderkey, l_linenumber, l_partkey
       |  FROM lineitem),
       |tr AS (
       |  SELECT b, path, h || substr(h, 1, 8) AS fp, size,
       |    CAST(row_number() OVER (PARTITION BY b
       |      ORDER BY path, l_shipdate, l_orderkey, l_linenumber, l_partkey) AS BIGINT) AS seq
       |  FROM li)""".stripMargin

  /** `p{k}`: backup k's written rows (`src` rows where `pred`) packed in
    * seq order into 512-byte containers, numbered from 0 for backup 1 and
    * from `base{k}.nc` after it.
    */
  private def packSql(k: Int, src: String, pred: String): String = {
    val (nc, base) = if (k == 1) ("", "") else ("nc + ", s", base$k")
    s"""p$k AS (
       |  SELECT fp, seq, CAST(${nc}floor(greatest(cum - 1, 0) / 512.0) AS BIGINT) AS cid
       |  FROM (SELECT fp, seq, sum(size) OVER (ORDER BY seq
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |        FROM $src WHERE $pred)$base)""".stripMargin
  }

  /** `fc{k}`: each fp's first container in backup k. */
  private def firstCidSql(k: Int): String =
    s"fc$k AS (SELECT fp, min_by(cid, seq) AS firstCid FROM p$k GROUP BY 1)"

  /** `r{k}`: backup k's recipe — each chunk's container is its own
    * written copy's, else the index's, else the backup's first copy's.
    */
  private def recipeSql(k: Int): String =
    s"""r$k AS MATERIALIZED (
       |  SELECT w$k.seq, w$k.path, w$k.fp, w$k.size, w$k.dup, w$k.w,
       |    coalesce(p$k.cid,
       |      CASE WHEN w$k.idxCid IS NOT NULL THEN w$k.idxCid ELSE fc$k.firstCid END) AS cid
       |  FROM w$k LEFT JOIN p$k ON p$k.seq = w$k.seq LEFT JOIN fc$k ON fc$k.fp = w$k.fp)""".stripMargin

  /** Packing and recipe of backup k ≥ 2 from its write predicate `w{k}`. */
  private def storeSql(k: Int): String =
    s"${packSql(k, s"w$k", "w")},\n${firstCidSql(k)},\n${recipeSql(k)}"

  /** `x{k}`/`m{k}`: LRU-30 restore of recipe `r{k}` by stack distance —
    * a container read misses iff 30 or more distinct containers were read
    * since its previous read.
    */
  private def lruSql(k: Int): String =
    s"""x$k AS (SELECT seq, cid, lag(seq) OVER (PARTITION BY cid ORDER BY seq) AS prevSeq FROM r$k),
       |m$k AS (SELECT CASE WHEN prevSeq IS NULL THEN 1
       |         WHEN (SELECT count(DISTINCT y.cid) FROM r$k y
       |               WHERE y.seq > x$k.prevSeq AND y.seq < x$k.seq) >= 30 THEN 1
       |         ELSE 0 END AS miss FROM x$k)""".stripMargin

  /** `u{k}`/`t{k}`/`har{k}`: HAR's sparse containers of backup k — those
    * under half full by referenced bytes, smallest first, up to 5% of the
    * backup's bytes.
    */
  private def harSql(k: Int): String =
    s"""u$k AS (SELECT cid, CAST(sum(size) AS BIGINT) AS refB FROM r$k GROUP BY 1),
       |t$k AS (SELECT CAST(sum(refB) AS BIGINT) AS total FROM u$k),
       |har$k AS (SELECT cid FROM (
       |    SELECT cid, CAST(sum(refB) OVER (ORDER BY refB, cid
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
       |    FROM u$k WHERE refB / 512.0 < 0.5), t$k
       |  WHERE cum <= CAST(floor(0.05 * total) AS BIGINT))""".stripMargin

  /** `s{k}`: backup k's chunk, unique and rewritten counts from `r{k}`. */
  private def statsSql(k: Int): String =
    s"""s$k AS (SELECT CAST($k AS BIGINT) AS backup_id,
       |  count(DISTINCT path) AS files, count(*) AS chunks,
       |  CAST(sum(size) AS BIGINT) AS data_size,
       |  CAST(sum(CASE WHEN NOT dup THEN 1 ELSE 0 END) AS BIGINT) AS unique_chunks,
       |  CAST(sum(CASE WHEN NOT dup THEN size ELSE 0 END) AS BIGINT) AS unique_size,
       |  CAST(sum(CASE WHEN dup AND w THEN 1 ELSE 0 END) AS BIGINT) AS rewritten_chunks,
       |  CAST(sum(CASE WHEN dup AND w THEN size ELSE 0 END) AS BIGINT) AS rewritten_size
       |  FROM r$k)""".stripMargin

  /** The result: one `TraceJobStats` row per backup 1..`backups`, from
    * `s{k}`, `p{k}`, `base{k}` and `m{k}`; `sparse(k)` is backup k's
    * sparse-container count. The first branch names the columns.
    */
  private def summarySql(backups: Int, sparse: Int => String): String =
    (1 to backups).map { k =>
      def as(name: String) = if (k == 1) s" AS $name" else ""
      val written =
        if (k == 1) "(SELECT CAST(coalesce(max(cid) + 1, 0) AS BIGINT) FROM p1)"
        else s"CAST(coalesce((SELECT max(cid) FROM p$k) - (SELECT nc FROM base$k) + 1, 0) AS BIGINT)"
      s"""SELECT s$k.*,
         |  s$k.unique_size + s$k.rewritten_size${as("stored_size")},
         |  $written${as("containers_written")},
         |  ${sparse(k)}${as("sparse_containers")},
         |  (SELECT CAST(sum(miss) AS BIGINT) FROM m$k)${as("container_reads")},
         |  round(s$k.data_size / 1048576.0 / (SELECT sum(miss) FROM m$k), 6)${as("speed_factor")},
         |  round(ceil(s$k.data_size / 4194304.0) / (SELECT sum(miss) FROM m$k), 6)${as("cfl")}
         |FROM s$k""".stripMargin
    }.mkString("\nUNION ALL\n")

  /** Oracle of [[dTracePipeline]]: the three-backup replay under the
    * shipped HAR/LRU-30 config. Backup 1 packs its first occurrences;
    * backups 2 and 3 dedup against the index left by the one before,
    * rewrite duplicates held in the previous backup's HAR containers,
    * and upsert the index (latest copy wins).
    */
  private val tracePipelineOracle: String =
    s"""${traceFixtureSql(3)},
       |f1 AS (SELECT fp, min(seq) AS firstSeq FROM tr WHERE b = 1 GROUP BY 1),
       |j1 AS (SELECT tr.*, tr.seq = f1.firstSeq AS uniq
       |       FROM tr JOIN f1 USING (fp) WHERE b = 1),
       |${packSql(1, "j1", "uniq")},
       |idx1 AS (SELECT fp, cid FROM p1),
       |r1 AS MATERIALIZED (
       |  SELECT j1.seq, j1.path, j1.fp, j1.size, NOT j1.uniq AS dup, idx1.cid
       |  FROM j1 JOIN idx1 USING (fp)),
       |${lruSql(1)},
       |${harSql(1)},
       |f2 AS (SELECT fp, min(seq) AS firstSeq FROM tr WHERE b = 2 GROUP BY 1),
       |j2 AS (SELECT tr.*, f2.firstSeq, idx1.cid AS idxCid
       |       FROM tr JOIN f2 USING (fp) LEFT JOIN idx1 USING (fp) WHERE b = 2),
       |d2 AS (SELECT *, (idxCid IS NOT NULL OR seq > firstSeq) AS dup FROM j2),
       |w2 AS (SELECT *, (NOT dup) OR (idxCid IS NOT NULL
       |         AND idxCid IN (SELECT cid FROM har1)) AS w FROM d2),
       |base2 AS (SELECT coalesce(max(cid) + 1, 0) AS nc FROM p1),
       |${storeSql(2)},
       |${lruSql(2)},
       |${harSql(2)},
       |l2 AS (SELECT fp, max_by(cid, seq) AS cid FROM p2 GROUP BY 1),
       |idx2 AS (SELECT fp, coalesce(l2.cid, idx1.cid) AS cid
       |         FROM idx1 FULL JOIN l2 USING (fp)),
       |f3 AS (SELECT fp, min(seq) AS firstSeq FROM tr WHERE b = 3 GROUP BY 1),
       |j3 AS (SELECT tr.*, f3.firstSeq, idx2.cid AS idxCid
       |       FROM tr JOIN f3 USING (fp) LEFT JOIN idx2 USING (fp) WHERE b = 3),
       |d3 AS (SELECT *, (idxCid IS NOT NULL OR seq > firstSeq) AS dup FROM j3),
       |w3 AS (SELECT *, (NOT dup) OR (idxCid IS NOT NULL
       |         AND idxCid IN (SELECT cid FROM har2)) AS w FROM d3),
       |base3 AS (SELECT coalesce((SELECT max(cid) + 1 FROM p2),
       |                          (SELECT nc FROM base2)) AS nc),
       |${storeSql(3)},
       |${lruSql(3)},
       |${harSql(3)},
       |s1 AS (SELECT CAST(1 AS BIGINT) AS backup_id,
       |  count(DISTINCT path) AS files, count(*) AS chunks,
       |  CAST(sum(size) AS BIGINT) AS data_size,
       |  CAST(sum(CASE WHEN NOT dup THEN 1 ELSE 0 END) AS BIGINT) AS unique_chunks,
       |  CAST(sum(CASE WHEN NOT dup THEN size ELSE 0 END) AS BIGINT) AS unique_size,
       |  CAST(0 AS BIGINT) AS rewritten_chunks, CAST(0 AS BIGINT) AS rewritten_size
       |  FROM r1),
       |${statsSql(2)},
       |${statsSql(3)}
       |${summarySql(3, k => s"(SELECT count(*) FROM har$k)")}""".stripMargin

  /** Oracle generator for the two-backup trace-replay variants
    * ([[dTraceVariant]]): the full d_trace_pipeline replay skeleton
    * (fixture fps DuckDB re-derives, cumulative packing, latest-wins
    * index upsert, LRU-30 stack-distance restore) with the per-backup
    * WRITE PREDICATE pluggable — `algo(k)` emits the CTE chain that
    * defines `w{k}` (columns seq, path, fp, size, idxCid, dup, w) from
    * the marked stream `d{k}` (same + mcid, the TEMPORARY_ID −1 form).
    * The algorithm runs over BOTH backups exactly like the engine (no
    * "backup 1 can't rewrite" shortcut — cbr's utility is nonzero in
    * degenerate tails, so the oracle replays the formula, not a proof
    * about it). HAR is off in these variants → sparse_containers ≡ 0.
    */
  private def traceTwoOracle(algo: Int => String): String =
    s"""${traceFixtureSql(2)},
       |f1 AS (SELECT fp, min(seq) AS firstSeq FROM tr WHERE b = 1 GROUP BY 1),
       |d1 AS MATERIALIZED (
       |  SELECT tr.seq, tr.path, tr.fp, tr.size,
       |    CAST(NULL AS BIGINT) AS idxCid,
       |    tr.seq > f1.firstSeq AS dup,
       |    CAST(-1 AS BIGINT) AS mcid
       |  FROM tr JOIN f1 USING (fp) WHERE b = 1),
       |${algo(1)},
       |${packSql(1, "w1", "w")},
       |${firstCidSql(1)},
       |lc1 AS (SELECT fp, max_by(cid, seq) AS cid FROM p1 GROUP BY 1),
       |${recipeSql(1)},
       |${lruSql(1)},
       |f2 AS (SELECT fp, min(seq) AS firstSeq FROM tr WHERE b = 2 GROUP BY 1),
       |d2 AS MATERIALIZED (
       |  SELECT tr.seq, tr.path, tr.fp, tr.size, lc1.cid AS idxCid,
       |    (lc1.cid IS NOT NULL OR tr.seq > f2.firstSeq) AS dup,
       |    coalesce(lc1.cid, -1) AS mcid
       |  FROM tr JOIN f2 USING (fp) LEFT JOIN lc1 USING (fp) WHERE b = 2),
       |${algo(2)},
       |base2 AS (SELECT coalesce(max(cid) + 1, 0) AS nc FROM p1),
       |${storeSql(2)},
       |${lruSql(2)},
       |${statsSql(1)},
       |${statsSql(2)}
       |${summarySql(2, _ => "CAST(0 AS BIGINT)")}""".stripMargin

  /** W2 CFL write predicate over marked stream k: runs of consecutive
    * same-container rows; rewrite a duplicate iff its run's bytes fall
    * below 3% of the 512-byte payload (Rewrite.cflRuns semantics).
    */
  private def cflAlgo(k: Int): String =
    s"""cfa$k AS (SELECT *, CASE WHEN mcid = lag(mcid) OVER (ORDER BY seq)
       |    THEN 0 ELSE 1 END AS newRun FROM d$k),
       |cfb$k AS (SELECT *, CAST(sum(newRun) OVER (ORDER BY seq
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS runId FROM cfa$k),
       |cfc$k AS (SELECT runId, sum(size) AS runBytes FROM cfb$k GROUP BY 1),
       |w$k AS (SELECT b.seq, b.path, b.fp, b.size, b.idxCid, b.dup,
       |    (NOT b.dup) OR c.runBytes < 0.03 * 512 AS w
       |  FROM cfb$k b JOIN cfc$k c USING (runId))""".stripMargin

  /** W3 CBR write predicate over marked stream k: 64-chunk forward
    * context utility, 0.95-quantile threshold (≥ 0.5), record-run
    * neighbor suppression, final-buffer flush (Rewrite.cbr semantics).
    */
  private def cbrAlgo(k: Int): String =
    s"""cba$k AS (SELECT *, sum(size) OVER (PARTITION BY mcid ORDER BY seq
       |      RANGE BETWEEN CURRENT ROW AND 64 FOLLOWING) AS ctxBytes,
       |    max(seq) OVER () AS maxSeq FROM d$k),
       |cbu$k AS (SELECT *, CASE WHEN NOT dup THEN 0.0
       |    WHEN ctxBytes / 512.0 >= 1 THEN 0.0
       |    ELSE round(1.0 - ctxBytes / 512.0, 6) END AS utility FROM cba$k),
       |cbh$k AS (SELECT utility, count(*) AS cnt FROM cbu$k GROUP BY 1),
       |cbt$k AS (SELECT min(utility) AS threshold FROM (
       |    SELECT utility, sum(cnt) OVER (ORDER BY utility) AS cum,
       |      sum(cnt) OVER () AS n FROM cbh$k)
       |  WHERE cum >= ceil(0.95 * n)),
       |cbr$k AS (SELECT mcid, seq, utility,
       |    CASE WHEN seq - lag(seq) OVER (PARTITION BY mcid ORDER BY seq) <= 64
       |    THEN 0 ELSE 1 END AS newRun FROM cbu$k WHERE dup),
       |cbs$k AS (SELECT mcid, seq, utility,
       |    CAST(sum(newRun) OVER (PARTITION BY mcid ORDER BY seq
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS recRun
       |  FROM cbr$k),
       |cbf$k AS (SELECT s.seq,
       |    coalesce(max(CASE WHEN s.utility < greatest(0.5, t.threshold)
       |      THEN 1 ELSE 0 END) OVER (
       |      PARTITION BY s.mcid, s.recRun ORDER BY s.seq
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS inherit
       |  FROM cbs$k s, cbt$k t),
       |w$k AS (SELECT u.seq, u.path, u.fp, u.size, u.idxCid, u.dup,
       |    (NOT u.dup) OR (u.utility >= greatest(0.5, t.threshold)
       |      AND coalesce(f.inherit, 0) = 0 AND u.seq + 64 <= u.maxSeq) AS w
       |  FROM cbu$k u LEFT JOIN cbf$k f ON u.seq = f.seq, cbt$k t)""".stripMargin

  /** W4 CAP write predicate over marked stream k: per 64-chunk buffer,
    * rank containers by duplicate-referenced bytes; duplicates outside
    * the top 3 are rewritten (Rewrite.cap semantics).
    */
  private def capAlgo(k: Int): String =
    s"""cpa$k AS (SELECT *, CAST(floor(seq / 64) AS BIGINT) AS bufferId FROM d$k),
       |cpb$k AS (SELECT bufferId, mcid, sum(size) AS refBytes
       |  FROM cpa$k WHERE dup GROUP BY 1, 2),
       |cpc$k AS (SELECT bufferId, mcid,
       |    row_number() OVER (PARTITION BY bufferId ORDER BY refBytes DESC, mcid) AS rk
       |  FROM cpb$k),
       |w$k AS (SELECT a.seq, a.path, a.fp, a.size, a.idxCid, a.dup,
       |    (NOT a.dup) OR (a.dup AND NOT coalesce(c.rk <= 3, FALSE)) AS w
       |  FROM cpa$k a LEFT JOIN cpc$k c
       |    ON a.bufferId = c.bufferId AND a.mcid = c.mcid)""".stripMargin

  /** No-rewrite write predicate over marked stream k: written ⇔ first
    * occurrence (`rewrite-algorithm no`, HAR off — the s_backup_chain
    * store config).
    */
  private def noAlgo(k: Int): String =
    s"""w$k AS (SELECT seq, path, fp, size, idxCid, dup, (NOT dup) AS w
       |  FROM d$k)""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("d_trace_roundtrip", dTraceRoundtrip, None),
    // the whole trace-replay pipeline (simulation-level all) stage by
    // stage for THREE backups: per-job dedup against the cumulative
    // index, packing cumsum (payload 512), HAR monitor + trim (the
    // r_har_sparse pattern), index upsert, sparse rewriting at backup 3,
    // LRU-30 restore replay via the stack-distance equivalence (the
    // r_restore_lru pattern)
    QueryDef("d_trace_pipeline", dTracePipeline, Some(tracePipelineOracle)),
    QueryDef("s_backup_chain", sBackupChain, Some(traceTwoOracle(noAlgo))),
    QueryDef("d_trace_cfl", dTraceCfl, Some(traceTwoOracle(cflAlgo))),
    QueryDef("d_trace_cbr", dTraceCbr, Some(traceTwoOracle(cbrAlgo))),
    QueryDef("d_trace_cap", dTraceCap, Some(traceTwoOracle(capAlgo))),
    QueryDef("d_fsl_roundtrip", dFslRoundtrip, None)
  )
}
