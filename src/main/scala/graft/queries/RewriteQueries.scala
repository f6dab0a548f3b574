package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.pipeline._
import QuerySupport._

/** Rewrite and restore-simulation operators (destor's rewrite and restore
  * modules) over a recipe derived from lineitem.
  */
object RewriteQueries {

  private def recipeFromLineitem(spark: SparkSession, dir: String): DataFrame = {
    // per-stream seq via the two-phase distributed rank (streamPrefix of
    // ones), NOT row_number over Window.partitionBy(stream): the derived
    // recipe feeds the rewrite/restore analytics whose whole point is that
    // no stage funnels a mega-stream through one window-sort task. The
    // ordering (shipdate, orderkey, linenumber, partkey) is unique within
    // every stream at all shipped SFs, so the rank matches the oracle's
    // row_number exactly.
    val li = t(spark, dir, "lineitem")
    DedupPipeline.streamPrefix(
        li.select(col("l_suppkey").as("stream"), col("l_shipdate"),
          col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          col("l_quantity"), lit(1L).as("one")),
        "stream",
        Seq("l_shipdate", "l_orderkey", "l_linenumber", "l_partkey"),
        "one", "pre")
      .select(
        col("stream"),
        (col("pre") + 1L).as("seq"),
        col("l_quantity").cast("int").as("size"),
        pmod(col("l_partkey"), lit(50)).cast("long").as("containerId"),
        (pmod(col("l_partkey"), lit(3)) =!= 0).as("dup"))
  }

  private val recipeSql =
    """SELECT l_suppkey AS stream,
      |  CAST(row_number() OVER (PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber, l_partkey) AS BIGINT) AS seq,
      |  CAST(l_quantity AS INTEGER) AS size,
      |  CAST(l_partkey % 50 AS BIGINT) AS containerId,
      |  (l_partkey % 3) <> 0 AS dup
      |FROM lineitem""".stripMargin

  /** W4 CAP capping over the derived recipe. */
  def rCap(spark: SparkSession, dir: String): DataFrame =
    Rewrite.cap(recipeFromLineitem(spark, dir), bufferSize = 64, cappingLevel = 3)
      .select(col("stream"), col("seq"), col("outOfOrder"))

  /** W2 CFL selective-dedup runs over the derived recipe. */
  def rCflRuns(spark: SparkSession, dir: String): DataFrame =
    Rewrite.cflRuns(recipeFromLineitem(spark, dir), usageThreshold = 0.03)
      .select(col("stream"), col("seq"), col("runId"), col("outOfOrder"))

  /** A5/T4 HAR sparse-container selection with rewrite-limit trim. */
  def rHarSparse(spark: SparkSession, dir: String): DataFrame =
    Rewrite.harSparseContainers(recipeFromLineitem(spark, dir),
      utilizationThreshold = 0.5, rewriteLimit = 0.05)
      .withColumn("utilization", round(col("utilization"), 6))

  /** A5 container-utilization decile histogram. */
  def rUtilHistogram(spark: SparkSession, dir: String): DataFrame =
    Rewrite.utilizationHistogram(recipeFromLineitem(spark, dir))

  /** S7 run-length container access records. */
  def rAccessRecords(spark: SparkSession, dir: String): DataFrame =
    RestoreSim.accessRecords(recipeFromLineitem(spark, dir))

  /** W10 exact LRU restore-cache simulation per stream. Oracle-checked
    * via the classic stack-distance equivalence: an access to container c
    * misses an LRU cache of size C iff it is c's first access or the
    * number of DISTINCT containers touched since c's previous access is
    * ≥ C — which DuckDB replays with a correlated distinct-count.
    */
  def rRestoreLru(spark: SparkSession, dir: String): DataFrame = {
    RestoreSim.simulate(
      recipeFromLineitem(spark, dir).withColumn("stream", col("stream").cast("string")),
      cacheSize = 8, policy = "lru")
      .toDF()
      .withColumn("speedFactor", round(col("speedFactor"), 6))
      .withColumn("cfl", round(col("cfl"), 6))
  }

  /** W9 Belady-OPT restore-cache simulation per stream, DuckDB-oracled:
    * the oracle replays the eviction sequence with a recursive CTE whose
    * state is a LIST of (container, next-use) structs — see the oracle SQL
    * comment for the staleness-free invariant that makes this exact.
    */
  def rRestoreOpt(spark: SparkSession, dir: String): DataFrame = {
    RestoreSim.simulate(
      recipeFromLineitem(spark, dir).withColumn("stream", col("stream").cast("string")),
      cacheSize = 8, policy = "opt")
      .toDF()
      .withColumn("speedFactor", round(col("speedFactor"), 6))
      .withColumn("cfl", round(col("cfl"), 6))
  }

  /** W8 forward-assembly restore simulation per stream, DuckDB-oracled:
    * chunk sizes are scaled ×65536 so the (cacheSize-1)·4 MiB assembly
    * area actually fills and flushes every ~10-25 chunks — the greedy
    * area packing (a data-dependent running-sum reset, no closed window
    * form) is replayed in the oracle by a recursive CTE stepping each
    * stream row by row, then reads = count(distinct (area, container)).
    */
  def rRestoreAsm(spark: SparkSession, dir: String): DataFrame = {
    RestoreSim.simulate(
      recipeFromLineitem(spark, dir)
        .withColumn("stream", col("stream").cast("string"))
        .withColumn("size", (col("size") * 65536).cast("int")),
      cacheSize = 8, policy = "asm")
      .toDF()
      .withColumn("speedFactor", round(col("speedFactor"), 6))
      .withColumn("cfl", round(col("cfl"), 6))
  }

  /** W3 CBR utility marking (rows-only: percentile threshold + flush rule). */
  def rCbr(spark: SparkSession, dir: String): DataFrame =
    Rewrite.cbr(recipeFromLineitem(spark, dir), bufferSize = 64,
      limit = 0.05, minUtility = 0.5)
      .select(col("stream"), col("seq"), round(col("utility"), 6).as("utility"),
        col("outOfOrder"))

  val defs: Seq[QueryDef] = Seq(
    QueryDef("r_cap_rewrite", rCap, Some(
      s"""WITH r AS ($recipeSql),
        |b AS (SELECT *, CAST(floor(seq / 64) AS BIGINT) AS bufferId FROM r),
        |cb AS (SELECT stream, bufferId, containerId, sum(size) AS refBytes
        |       FROM b WHERE dup GROUP BY 1, 2, 3),
        |rk AS (SELECT stream, bufferId, containerId,
        |         row_number() OVER (PARTITION BY stream, bufferId ORDER BY refBytes DESC, containerId) AS rk
        |       FROM cb)
        |SELECT b.stream, b.seq,
        |  b.dup AND NOT coalesce(rk.rk <= 3, FALSE) AS outOfOrder
        |FROM b LEFT JOIN rk ON b.stream = rk.stream AND b.bufferId = rk.bufferId
        |  AND b.containerId = rk.containerId""".stripMargin)),
    QueryDef("r_cfl_runs", rCflRuns, Some(
      s"""WITH r AS ($recipeSql),
        |x AS (SELECT *, CASE WHEN containerId = lag(containerId) OVER (PARTITION BY stream ORDER BY seq)
        |        THEN 0 ELSE 1 END AS newRun FROM r),
        |y AS (SELECT *, CAST(sum(newRun) OVER (PARTITION BY stream ORDER BY seq
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS runId FROM x),
        |z AS (SELECT stream, runId, sum(size) AS runBytes FROM y GROUP BY 1, 2)
        |SELECT y.stream, y.seq, y.runId,
        |  y.dup AND z.runBytes < 0.03 * 4161536 AS outOfOrder
        |FROM y JOIN z ON y.stream = z.stream AND y.runId = z.runId""".stripMargin)),
    QueryDef("r_har_sparse", rHarSparse, Some(
      s"""WITH r AS ($recipeSql),
        |u AS (SELECT containerId, CAST(sum(size) AS BIGINT) AS refBytes FROM r GROUP BY 1),
        |t AS (SELECT CAST(sum(refBytes) AS BIGINT) AS total FROM u),
        |s AS (SELECT containerId, refBytes, refBytes / 4161536.0 AS utilization
        |      FROM u WHERE refBytes / 4161536.0 < 0.5),
        |c AS (SELECT *, CAST(sum(refBytes) OVER (ORDER BY refBytes, containerId
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum FROM s)
        |SELECT containerId, refBytes, round(utilization, 6) AS utilization FROM c, t
        |WHERE cum <= CAST(floor(0.05 * total) AS BIGINT)""".stripMargin)),
    QueryDef("r_util_histogram", rUtilHistogram, Some(
      s"""WITH r AS ($recipeSql),
        |u AS (SELECT containerId, sum(size) AS refBytes FROM r GROUP BY 1),
        |v AS (SELECT containerId, refBytes, refBytes / 4161536.0 AS utilization FROM u)
        |SELECT CASE WHEN utilization = 0 THEN 0 WHEN utilization > 1 THEN 11
        |  ELSE CAST(floor(utilization * 10 + 1) AS INTEGER) END AS bucket,
        |  count(*) AS containers, CAST(sum(refBytes) AS BIGINT) AS bytes
        |FROM v GROUP BY 1""".stripMargin)),
    QueryDef("r_access_records", rAccessRecords, Some(
      s"""WITH r AS ($recipeSql),
        |x AS (SELECT stream, seq, containerId,
        |        lag(containerId) OVER (PARTITION BY stream ORDER BY seq) AS prev
        |      FROM r)
        |SELECT stream, seq, containerId FROM x
        |WHERE prev IS NULL OR prev <> containerId""".stripMargin)),
    QueryDef("r_restore_lru", rRestoreLru, Some(
      s"""WITH r AS ($recipeSql),
        |x AS (SELECT stream AS skey, CAST(stream AS VARCHAR) AS stream_s,
        |    seq, containerId, size,
        |    lag(seq) OVER (PARTITION BY stream, containerId ORDER BY seq) AS prevSeq
        |  FROM r),
        |d AS (SELECT x.stream_s, x.size,
        |    CASE WHEN x.prevSeq IS NULL THEN 1
        |         WHEN (SELECT count(DISTINCT y.containerId) FROM r y
        |               WHERE y.stream = x.skey AND y.seq > x.prevSeq AND y.seq < x.seq) >= 8
        |         THEN 1 ELSE 0 END AS miss
        |  FROM x)
        |SELECT stream_s AS stream, count(*) AS chunks,
        |  CAST(sum(size) AS BIGINT) AS bytes,
        |  CAST(sum(miss) AS BIGINT) AS containerReads,
        |  round(CAST(sum(size) AS BIGINT) / 1048576.0 / CAST(sum(miss) AS BIGINT), 6) AS speedFactor,
        |  round(ceil(CAST(sum(size) AS BIGINT) / 4194304.0) / CAST(sum(miss) AS BIGINT), 6) AS cfl
        |FROM d GROUP BY 1""".stripMargin)),
    // Belady-OPT is sequential, but it IS oracle-able: the cache state
    // rides the recursion as a LIST of (cid, nxt) structs where nxt is the
    // container's next-use seq. nxt is refreshed on every access from the
    // row's precomputed lead(), so between accesses it is never stale —
    // eviction = max (nxt, cid), exactly the Scala sim's deterministic
    // tie-break (RestoreSim.optStats). AS MATERIALIZED keeps the window
    // CTE from re-running per iteration (13x).
    QueryDef("r_restore_opt", rRestoreOpt, Some(
      s"""WITH RECURSIVE r AS MATERIALIZED (
        |  SELECT CAST(stream AS VARCHAR) AS stream, seq, containerId,
        |    CAST(size AS BIGINT) AS size,
        |    coalesce(lead(seq) OVER (PARTITION BY stream, containerId ORDER BY seq),
        |             9223372036854775807) AS nxt
        |  FROM ($recipeSql)),
        |step(stream, seq, cache, reads) AS (
        |  SELECT stream, seq, [struct_pack(cid := containerId, nxt := nxt)],
        |    CAST(1 AS BIGINT)
        |  FROM r WHERE seq = 1
        |  UNION ALL
        |  SELECT r.stream, r.seq,
        |    CASE WHEN list_contains(list_transform(s.cache, e -> e.cid), r.containerId)
        |         THEN list_transform(s.cache, e -> CASE WHEN e.cid = r.containerId
        |              THEN struct_pack(cid := e.cid, nxt := r.nxt) ELSE e END)
        |         WHEN len(s.cache) < 8
        |         THEN list_append(s.cache, struct_pack(cid := r.containerId, nxt := r.nxt))
        |         ELSE list_append(list_filter(s.cache, e -> e.cid !=
        |           list_reduce(s.cache, (a, b) -> CASE WHEN b.nxt > a.nxt
        |             OR (b.nxt = a.nxt AND b.cid > a.cid) THEN b ELSE a END).cid),
        |           struct_pack(cid := r.containerId, nxt := r.nxt)) END,
        |    s.reads + CASE WHEN list_contains(list_transform(s.cache, e -> e.cid), r.containerId)
        |              THEN 0 ELSE 1 END
        |  FROM step s JOIN r ON r.stream = s.stream AND r.seq = s.seq + 1),
        |final AS (SELECT stream, max_by(reads, seq) AS containerReads FROM step GROUP BY stream),
        |agg AS (SELECT stream, count(*) AS chunks, CAST(sum(size) AS BIGINT) AS bytes
        |        FROM r GROUP BY stream)
        |SELECT a.stream, a.chunks, a.bytes,
        |  CAST(f.containerReads AS BIGINT) AS containerReads,
        |  round(a.bytes / 1048576.0 / f.containerReads, 6) AS speedFactor,
        |  round(ceil(a.bytes / 4194304.0) / f.containerReads, 6) AS cfl
        |FROM agg a JOIN final f ON f.stream = a.stream""".stripMargin)),
    // greedy assembly-area packing is a data-dependent running-sum reset
    // (no closed window form) — the oracle replays it row by row with a
    // recursive CTE, one step per (stream, seq); area capacity =
    // (cacheSize-1)·4 MiB = 29360128, sizes scaled ×65536 like the query
    QueryDef("r_restore_asm", rRestoreAsm, Some(
      s"""WITH RECURSIVE r AS MATERIALIZED (
        |  SELECT CAST(stream AS VARCHAR) AS stream, seq, containerId,
        |    CAST(size AS BIGINT) * 65536 AS size
        |  FROM ($recipeSql)),
        |step(stream, seq, areaBytes, areaId) AS (
        |  SELECT stream, seq, size, CAST(0 AS BIGINT) FROM r WHERE seq = 1
        |  UNION ALL
        |  SELECT r.stream, r.seq,
        |    CASE WHEN s.areaBytes + r.size > 29360128 THEN r.size
        |         ELSE s.areaBytes + r.size END,
        |    CASE WHEN s.areaBytes + r.size > 29360128 THEN s.areaId + 1
        |         ELSE s.areaId END
        |  FROM step s JOIN r ON r.stream = s.stream AND r.seq = s.seq + 1),
        |areas AS (
        |  SELECT r.stream, r.containerId, r.size, s.areaId
        |  FROM r JOIN step s ON s.stream = r.stream AND s.seq = r.seq),
        |reads AS (
        |  SELECT stream, count(*) AS containerReads
        |  FROM (SELECT DISTINCT stream, areaId, containerId FROM areas)
        |  GROUP BY stream),
        |agg AS (
        |  SELECT stream, count(*) AS chunks, CAST(sum(size) AS BIGINT) AS bytes
        |  FROM areas GROUP BY stream)
        |SELECT a.stream, a.chunks, a.bytes,
        |  CAST(rd.containerReads AS BIGINT) AS containerReads,
        |  round(a.bytes / 1048576.0 / rd.containerReads, 6) AS speedFactor,
        |  round(ceil(a.bytes / 4194304.0) / rd.containerReads, 6) AS cfl
        |FROM agg a JOIN reads rd ON rd.stream = a.stream""".stripMargin)),
    QueryDef("r_cbr_rewrite", rCbr, Some(
      s"""WITH r AS ($recipeSql),
        |w AS (SELECT *,
        |    sum(size) OVER (PARTITION BY stream, containerId ORDER BY seq
        |      RANGE BETWEEN CURRENT ROW AND 64 FOLLOWING) AS ctxBytes,
        |    max(seq) OVER (PARTITION BY stream) AS maxSeq
        |  FROM r),
        |u AS (SELECT stream, containerId, seq, dup, maxSeq,
        |    CASE WHEN NOT dup THEN 0.0
        |         WHEN ctxBytes / 4161536.0 >= 1 THEN 0.0
        |         ELSE round(1.0 - ctxBytes / 4161536.0, 6) END AS utility
        |  FROM w),
        |h AS (SELECT utility, count(*) AS cnt FROM u GROUP BY 1),
        |t AS (SELECT min(utility) AS threshold FROM (
        |    SELECT utility, sum(cnt) OVER (ORDER BY utility) AS cum,
        |      sum(cnt) OVER () AS n FROM h)
        |  WHERE cum >= ceil(0.95 * n)),
        |rg AS (SELECT stream, containerId, seq, utility,
        |    CASE WHEN seq - lag(seq) OVER (PARTITION BY stream, containerId ORDER BY seq) <= 64
        |         THEN 0 ELSE 1 END AS newRun
        |  FROM u WHERE dup),
        |rr AS (SELECT stream, containerId, seq, utility,
        |    CAST(sum(newRun) OVER (PARTITION BY stream, containerId ORDER BY seq) AS BIGINT) AS recRun
        |  FROM rg),
        |fl AS (SELECT rr.stream, rr.seq,
        |    coalesce(max(CASE WHEN rr.utility < greatest(0.5, t.threshold) THEN 1 ELSE 0 END) OVER (
        |      PARTITION BY rr.stream, rr.containerId, rr.recRun ORDER BY rr.seq
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS inherit
        |  FROM rr, t)
        |SELECT u.stream, u.seq, u.utility,
        |  u.dup AND u.utility >= greatest(0.5, t.threshold)
        |    AND coalesce(fl.inherit, 0) = 0
        |    AND u.seq + 64 <= u.maxSeq AS outOfOrder
        |FROM u LEFT JOIN fl ON u.stream = fl.stream AND u.seq = fl.seq, t""".stripMargin))
  )
}
